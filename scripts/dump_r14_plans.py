#!/usr/bin/env python
"""Dump plans/r14/<query>_{before,after}.txt for the queries whose
physical plan round 14 changed (judge contract: committed
explain("formatted") evidence).

- dedup_best_survivor: BEFORE reconstructs the r13 shape inline
  (analyze over ALL docs, then inner join to components); AFTER is
  the registered query (semi-join member prefilter below analyze).
- tpch_pricing_summary / text_novelty: dumped once as *_after.txt
  only — this round left their plans byte-identical (tpch widen
  measured and rejected at default-off; novelty shape re-confirmed);
  the dumps exist so the "unchanged" claims are checkable.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(REPO, "plans", "r14")


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def best_survivor_before(spark, sf_dir):
    from pyspark.sql import functions as F

    from raft_c_spark.functions.diskcache import data_cache_key
    from raft_c_spark.operators import dedup, text
    from raft_c_spark.plans.dedup import JACCARD_THRESHOLD
    from raft_c_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=8,
        threshold=JACCARD_THRESHOLD,
        cache_key=data_cache_key(sf_dir, "documents"),
    )
    comps = dedup.connected_components(pairs)
    qual = text.analyze(docs).select("doc_id", "quality")
    ranked = comps.join(qual, comps["doc"] == qual["doc_id"]).select(
        "component", "doc", "quality"
    )
    best = F.min(
        F.struct(
            (-F.col("quality")).alias("nq"),
            F.col("doc").alias("doc"),
            F.col("quality").alias("q"),
        )
    ).alias("best")
    return (
        ranked.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_members"), best)
        .select(
            "component",
            F.col("best.doc").alias("survivor"),
            "n_members",
            F.col("best.q").alias("quality"),
        )
    )


def main() -> None:
    os.environ.setdefault(
        "RAFT_C_SPARK_CACHE_DIR", os.path.join(REPO, ".cache", "bench")
    )
    os.makedirs(OUT, exist_ok=True)
    from raft_c_spark.session import get_spark
    from raft_c_spark.plans.registry import all_queries

    spark = get_spark(app_name="dump_r14_plans")
    qs = all_queries()

    def dump(name: str, df) -> None:
        with open(os.path.join(OUT, name), "w") as fh:
            fh.write(explain_str(df))
        print("wrote", name)

    dump("dedup_best_survivor_before.txt", best_survivor_before(spark, SF_DIR))
    dump("dedup_best_survivor_after.txt", qs["dedup_best_survivor"](spark, SF_DIR))
    dump("tpch_pricing_summary_after.txt", qs["tpch_pricing_summary"](spark, SF_DIR))
    dump("text_novelty_after.txt", qs["text_novelty"](spark, SF_DIR))
    spark.stop()


if __name__ == "__main__":
    main()
