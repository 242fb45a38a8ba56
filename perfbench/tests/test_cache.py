"""A cached build is keyed by the source that made it."""

import corpus
import worker


def test_cache_key_follows_the_package_source(tmp_path, monkeypatch):
    pkg = tmp_path / "ta2_minmod_kg_spark"
    (pkg / "__pycache__").mkdir(parents=True)
    (pkg / "a.py").write_text("x = 1\n")
    monkeypatch.chdir(tmp_path)
    p = corpus.plan(1)
    key = worker.cache_key("cache", p)
    assert key == worker.cache_key("cache", p)

    (pkg / "__pycache__" / "a.cpython.pyc").write_bytes(b"\0")
    assert worker.cache_key("cache", p) == key  # compiled files do not count

    (pkg / "a.py").write_text("x = 2\n")
    assert worker.cache_key("cache", p) != key
    assert f"_n{p.n_sites}_" in key
