"""session.tune(): confs a session refuses are recorded, not dropped;
get_spark(): a file-stream batch lists its files on the driver."""

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


def _jobs(spark) -> list[tuple[int, str]]:
    """(job id, description, else name) of every job in the status store."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        job = jobs.apply(i)
        d = job.description()
        out.append((job.jobId(), d.get() if d.isDefined() else job.name()))
    return out


def test_file_stream_batch_lists_its_files_on_the_driver(spark, tmp_path):
    """A file-stream micro-batch over more new files than Spark's default
    parallel-listing threshold (32) lists them on the driver: no "Listing
    leaf files" job runs between the batch's start and its sink call."""
    src = str(tmp_path / "src")
    spark.range(0, 400, numPartitions=40).write.parquet(src)
    before = max((j for j, _ in _jobs(spark)), default=-1)
    seen: list[list[str]] = []

    def sink(df, batch_id):
        seen.append([d for j, d in _jobs(spark) if j > before])

    q = (
        spark.readStream.schema("id long").parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert len(seen) == 1, seen
    assert not [d for d in seen[0] if "Listing leaf files" in d], seen[0]
