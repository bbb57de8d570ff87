"""Dump formatted physical plans for the headline queries into PLANS.md —
the plan-quality evidence: broadcast joins for every dim lookup, exactly one
data shuffle (the concat window), column-pruned scans, one MapInArrow.

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_fluentd_spark.plans import pipeline as P
from go_fluentd_spark.session import build_spark

SF = "/root/testdata/sf0.001"

INTERESTING = re.compile(
    r"Exchange|BroadcastHashJoin|SortMergeJoin|ArrowEvalPython|MapInArrow|LocalTableScan|Window|Generate|"
    r"HashAggregate|ObjectHashAggregate|Scan parquet|Filter|ReadSchema|PushedFilters"
)


def summarize(df, max_lines: int = 60) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    ops = []
    details = []
    for line in plan.splitlines():
        s = line.strip()
        if re.match(r"^\(\d+\) ", s) and INTERESTING.search(s):
            ops.append(s)
        if s.startswith("ReadSchema") or s.startswith("PushedFilters"):
            details.append(s[:160])
    out = ops[:max_lines] + ["..."] * (len(ops) > max_lines) + details[:6]
    return "\n".join(out)


def main() -> None:
    spark = build_spark("plans", cores=4)
    sections = {
        "routed (full pipeline: scan → concat → acceptor → parse → enrich → route)": P.routed(
            spark, SF
        ),
        "sink_counts (the flagship aggregate)": P.sink_counts(spark, SF),
    }
    from go_fluentd_spark.operators import dataprep as DP

    sections["minhash_lsh_pairs (band-bucket join)"] = DP.minhash_lsh_pairs(spark, SF)
    sections["embed_cosine_scores (broadcast query vector)"] = DP.embed_cosine_scores(
        spark, SF
    )
    sections["embed_banded_pairs (matmul-vectorized signatures, capped buckets)"] = (
        DP.embed_banded_pairs(spark, SF)
    )
    sections["ngram_jaccard_pairs (rank-windowed blocks)"] = DP.ngram_jaccard_pairs(
        spark, SF
    )
    sections["winnow_fingerprints (per-row narrow, staged projections)"] = (
        DP.winnow_fingerprints(spark, SF)
    )
    sections["token_ngram_dup_stats (gram-key shuffle + semi-join back)"] = (
        DP.token_ngram_dup_stats(spark, SF)
    )
    sections["substr_dup_spans (gram shuffle + per-doc run merge + HOF cut)"] = (
        DP.substr_dup_spans(spark, SF)
    )
    sections["sequence_chunks (zero-shuffle narrow explode)"] = DP.sequence_chunks(
        spark, SF
    )
    sections["dedup_clusters (star rounds to the fixed point, then labels from the checkpointed stars)"] = (
        DP.dedup_clusters(spark, SF)
    )
    sections["token_lm_scores (one bigram-count shuffle, broadcast context counts)"] = (
        DP.token_lm_scores(spark, SF)
    )

    lines = [
        "# PLANS — physical-plan evidence (generated by tools/explain_plans.py)",
        "",
        "Operator summary per headline query (full `.explain('formatted')`",
        "available by running the tool; only plan-shaping operators shown).",
        "",
    ]
    for title, df in sections.items():
        lines += [f"## {title}", "", "```", summarize(df), "```", ""]
    lines += [
        "Reading guide: the full pipeline shows exactly TWO Exchange nodes —",
        "the key-only synth repartition (8-byte keys; absent at real scale",
        "where the source has many splits) and the concat window's hash",
        "partition; every dim lookup is a BroadcastHashJoin (no sort-merge",
        "joins anywhere), and the sink fan-out is one Generate over the",
        "routing expression, not a join; the scan is pruned to the single",
        "key column (ReadSchema); the group-by after the window reuses the",
        "window's partitioning (no extra shuffle).  The parser is one MapInArrow",
        "node: one Python crossing per row, RE2 extraction per family, and",
        "a plan barrier, so no later gate re-runs it (see",
        "operators/parser.py).  The dims are LocalTableScans, not scans of",
        "pickled Python rows.",
        "",
        "embed_banded_pairs: the per-bucket cap (row_number <= cap) compiles",
        "to WindowGroupLimit — Spark's rank-limit pushdown prunes each",
        "bucket BEFORE the full window sort.  The signature computation",
        "appears twice because a self-join recomputes its input; at real",
        "scale the bucket table is persisted/checkpointed once per index",
        "build.  Joins are broadcast at test scale and degrade to sort-merge",
        "on (band, bucket) at cluster scale — the bounded-bucket property is",
        "what keeps that shuffle's reduce tasks uniform.",
        "",
        "sequence_chunks is shuffle-free: one pruned scan, a narrow",
        "generate (explode) and projections — the whole operator runs",
        "map-side at any scale.  dedup_clusters runs its large-star/",
        "small-star rounds as their own checkpointed jobs before this plan",
        "is built (the LSH pair pipeline executes exactly once), so the",
        "plan shown only joins the documents to the converged star edges",
        "and counts cluster sizes in one window: its Exchange count does",
        "not grow with the number of rounds.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
