"""session.tune(): confs a session refuses are recorded, not dropped."""

from __future__ import annotations

from bootic_stats_aggregates_spark.session import tune, unapplied_confs

_MPB = "spark.sql.files.maxPartitionBytes"


def test_tune_records_confs_that_did_not_apply(spark, monkeypatch):
    before = spark.conf.get(_MPB)
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "not-a-size")
    try:
        tune(spark)
        failed = unapplied_confs(spark)
        # the invalid value is refused and recorded with its error text;
        # every other conf still applied
        assert list(failed) == [_MPB]
        assert "not-a-size" in failed[_MPB]
        assert spark.conf.get(_MPB) == before
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES")
        tune(spark)
    # the record describes the latest call only
    assert unapplied_confs(spark) == {}
