"""Python DataSource WRITER commit protocol: publish-on-commit, invisible
on abort — the two-phase contract that makes a custom Python sink safe
under task failure."""

from __future__ import annotations

import os

import pytest

from spark_streaming_twitter_spark.sources.pysource import (
    ManifestSinkDataSource,
    PYSOURCE_ROWS,
    PYSOURCE_SHARDS,
    SyntheticEventsDataSource,
    read_manifest_sink,
)


def _src(spark, rows=2000):
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(ManifestSinkDataSource)
    return (
        spark.read.format("synthetic_events")
        .option("rows", str(rows))
        .option("shards", str(PYSOURCE_SHARDS))
        .load()
    )


def test_commit_publishes_exactly_the_written_rows(spark, tmp_path):
    src = _src(spark)
    out = str(tmp_path)
    src.write.format("manifest_sink").option("path", out).mode("append").save()
    assert os.path.exists(os.path.join(out, "_MANIFEST"))
    back = read_manifest_sink(spark, out)
    assert back.count() == 2000
    assert back.select("event_id").distinct().count() == 2000


def test_abort_leaves_nothing_visible(spark, tmp_path):
    """An injected failure on one shard must fail the job, leave NO
    manifest, and (manifest-gated) no visible rows — even though other
    tasks may have completed their files before the failure."""
    src = _src(spark)
    out = str(tmp_path)
    with pytest.raises(Exception, match="injected write failure"):
        src.write.format("manifest_sink").option("path", out).option(
            "fail_shard", "3"
        ).mode("append").save()
    assert not os.path.exists(os.path.join(out, "_MANIFEST")), (
        "a failed batch must never publish a manifest"
    )
