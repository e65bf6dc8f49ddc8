"""Measure the ingest-dedup claim: per-batch cost independent of history.

``stream_text_minhash_ingest_dedup`` (dedup/dedup.py) argues its stateless
shape is what survives unbounded ingest: no state store, so micro-batch N
costs the same as micro-batch 1 no matter how much stream has passed. This
probe turns the claim into numbers: it drives the SAME topology (row-wise
MinHash banding -> broadcast static-index probe -> append sink) over K
micro-batches of FIXED size (one file per trigger, every file holding the
same document set), records each trigger's ``addBatch`` duration from the
streaming progress events, and reports the first-vs-last-half ratio — flat
(~1.0) means no history dependence; a stateful/complete-mode plan would
show monotone growth instead.

Relative comparison within one run, so host load shifts both halves
equally. Usage:

    python tools/ingest_cost_probe.py [SF_DIR] [K]   # default sf0.1, 12

Prints one JSON line; the round convention commits it under
bench_artifacts/.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 12

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = (
        SparkSession.builder.appName("ingest_cost_probe")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from spark_streaming_twitter_spark.catalog import table, widen
    from spark_streaming_twitter_spark.dedup.dedup import (
        SHINGLE_N,
        doc_shingles,
        minhash_band_structs_from_sig,
        minhash_buckets,
        minhash_signature_struct,
        shingles,
        tokens,
    )
    from spark_streaming_twitter_spark.streaming.harness import run_stream

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    batch_rows = docs.count()
    with tempfile.TemporaryDirectory(
        prefix="ingest_probe_", ignore_cleanup_errors=True
    ) as tmp:
        # K files, each the SAME document set (fixed batch size): at
        # trigger i the stream has seen i * batch_rows rows of history.
        one = docs.coalesce(1)
        for i in range(k):
            one.write.parquet(os.path.join(tmp, f"b{i:03d}"), mode="overwrite")
        data_dir = os.path.join(tmp, "stream")
        os.makedirs(data_dir)
        for i in range(k):
            src = os.path.join(tmp, f"b{i:03d}")
            part = next(
                f for f in os.listdir(src) if f.endswith(".parquet")
            )
            shutil.copy(
                os.path.join(src, part),
                os.path.join(data_dir, f"{i:03d}.parquet"),
            )

        ref_bands = (
            minhash_buckets(
                doc_shingles(
                    widen(docs.where(F.col("doc_id") % 10 == 0), spark)
                )
            )
            .select(F.col("doc_id").alias("ref_id"), "band", "band_key")
            .persist()
        )
        try:
            ref_bands.count()
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(data_dir)
            )
            bands = (
                stream.repartition(cpus)
                .withColumn(
                    "sig",
                    minhash_signature_struct(
                        shingles(tokens(F.lower(F.col("text"))), SHINGLE_N)
                    ),
                )
                .select(
                    "doc_id",
                    F.explode(
                        minhash_band_structs_from_sig(F.col("sig"))
                    ).alias("bk"),
                )
                .select(
                    "doc_id",
                    F.col("bk.band").alias("band"),
                    F.col("bk.band_key").alias("band_key"),
                )
            )
            matches = (
                bands.join(F.broadcast(ref_bands), ["band", "band_key"])
                .where(F.col("doc_id") != F.col("ref_id"))
                .select("doc_id", "ref_id", "band")
            )
            t0 = time.time()
            _, progress = run_stream(matches, mode="append")
            wall = time.time() - t0
        finally:
            ref_bands.unpersist()
    per_batch = [
        {
            "batch": p["batchId"],
            "rows": p["numInputRows"],
            "add_batch_ms": p["durationMs"]["addBatch"],
        }
        for p in progress
        if p["numInputRows"] > 0
    ]

    times = [b["add_batch_ms"] for b in per_batch]
    half = len(times) // 2
    # drop batch 0 from the first half: it folds in plan codegen, which
    # is a constant, not a history effect.
    first = statistics.median(times[1:half] or times[:half])
    last = statistics.median(times[half:])
    print(
        json.dumps(
            {
                "metric": "ingest_dedup_per_batch_cost",
                "sf_dir": sf_dir,
                "batches": len(times),
                "rows_per_batch": batch_rows,
                "per_batch": per_batch,
                "first_half_p50_ms": first,
                "last_half_p50_ms": last,
                "last_over_first": round(last / first, 3) if first else None,
                "wall_s": round(wall, 2),
            },
            sort_keys=True,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
