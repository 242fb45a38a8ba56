"""Result helpers of the entry point."""

import run


def test_layer_units():
    assert run.layer_unit("sites_rel.wall_s") == "s"
    assert run.layer_unit("serve.find_by_ids.wall_ms") == "ms"
    assert run.layer_unit("triples.python_us_per_row") == "us/row"
    assert run.layer_unit("sites_rel.shuffle_write_mb") == "MB"
    assert run.layer_unit("triples.core_util") == "ratio"
    assert run.layer_unit("lineage.jobs") == "count"
