"""The event-log folder on a tiny traced Spark run."""

import glob
import os

import pytest

import eventlog


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    from pyspark.sql import SparkSession

    tmp = tmp_path_factory.mktemp("evlog")
    log_dir = tmp / "log"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", str(tmp))
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        def double(batches):
            for pdf in batches:
                yield pdf.assign(id=pdf["id"] * 2)

        sc.setJobGroup("python", "python")
        rows = spark.range(100, numPartitions=2).mapInPandas(double, "id long").collect()
        assert len(rows) == 100
        sc.setJobGroup("write", "write")
        out = str(tmp / "out")
        spark.range(50, numPartitions=2).write.parquet(out)
        sc.setJobGroup("scan", "scan")
        assert spark.read.parquet(out).filter("id >= 0").count() == 50
    finally:
        spark.stop()
    (log,) = glob.glob(os.path.join(log_dir, "*"))
    return eventlog.fold(log, r"^collect at .*test_eventlog\.py")


def test_groups_count_jobs_and_tasks(folded):
    for group in ("python", "write", "scan"):
        g = folded[group]
        assert g["jobs"] >= 1 and g["tasks"] >= 1
        assert g["run_s"] > 0


def test_python_worker_time_lands_in_its_group(folded):
    assert folded["python"]["python_s"] > 0
    assert folded["write"]["python_s"] == 0


def test_file_metrics(folded):
    assert folded["write"]["files_written"] >= 1
    assert folded["scan"]["files_read"] >= 1
    assert folded["scan"]["scan_rows"] == 50


def test_callsite_marks_lineage_jobs(folded):
    assert folded["python"]["lineage_jobs"] >= 1  # the collect above
    assert folded["python"]["lineage_rows"] == 100  # the rows its tasks read
    assert folded["scan"]["lineage_jobs"] == 0
