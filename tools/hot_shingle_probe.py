"""Planted-boilerplate measurement: exact pair scorers, capped vs uncapped.

Companion to ``dedup_{containment,ngram_jaccard}_pairs_capped``. The
inverted shingle self-join emits SUM_s df(s)^2 pair rows before
aggregation, so one boilerplate shingle shared by B documents contributes
B^2 rows per shingle — quadratic in corpus size when B scales with the
corpus (license headers, navigation chrome). The df cap
(``dedup.pairs.rare_keys``) drops shingles with document frequency > 64
BEFORE the join, bounding every term at 64^2.

The probe plants a B-document boilerplate block (every doc identical text,
~S shingles each) on top of the sf0.01 documents fixture and measures, for
the containment scorer:

- join-emitted intersection rows (the freq^2 exposure, via a count on the
  pre-aggregation join — the honest blow-up number, independent of the
  final filtered output);
- wall time of the full scorer.

Expected shape: uncapped rows grow ~ S*B^2 while capped rows stay at the
fixture baseline (the planted shingles all have df=B > 64 and vanish), so
the ratio is the measured quadratic suppression.

Usage: python tools/hot_shingle_probe.py [B ...]   # default 200 400 800
Prints one JSON line per B:
  {"planted_docs": B, "uncapped": {"join_rows": n, "wall_s": t},
   "capped": {"join_rows": n, "wall_s": t}, "row_ratio": r}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from spark_streaming_twitter_spark.catalog import table, widen
from spark_streaming_twitter_spark.dedup.dedup import (
    PAIR_DF_CAP,
    _pair_scores_from,
    doc_shingles,
)
from spark_streaming_twitter_spark.dedup.pairs import key_matches, rare_keys
from spark_streaming_twitter_spark.session import get_spark

BOILER = (
    "this website and its contents are provided as is without warranty of "
    "any kind either express or implied including but not limited to the "
    "implied warranties of merchantability and fitness for a purpose"
)


def main() -> None:
    sizes = [int(x) for x in sys.argv[1:]] or [200, 400, 800]
    spark = get_spark(app_name="hot_shingle_probe")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    base_max_id = docs.agg(F.max("doc_id")).collect()[0][0]

    for planted in sizes:
        boiler = spark.range(planted).select(
            (F.col("id") + base_max_id + 1).alias("doc_id"),
            F.lit(BOILER).alias("text"),
        )
        sh = doc_shingles(widen(docs.unionByName(boiler), spark))
        out = {"planted_docs": planted}
        for variant, sh_join in (
            ("uncapped", sh),
            ("capped", rare_keys(sh, "sh", PAIR_DF_CAP)),
        ):
            t0 = time.perf_counter()
            # pre-aggregation intersection rows: the freq^2 exposure
            rows = key_matches(sh_join, "doc_id", "sh").count()
            # full scorer wall time (the user-facing cost)
            _pair_scores_from(sh, sh_join).where(
                F.expr("n_common * 1000000 DIV na") >= 800000
            ).count()
            out[variant] = {
                "join_rows": rows,
                "wall_s": round(time.perf_counter() - t0, 3),
            }
        out["row_ratio"] = round(
            out["uncapped"]["join_rows"] / max(1, out["capped"]["join_rows"]), 2
        )
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
