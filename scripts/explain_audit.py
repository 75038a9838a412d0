"""Dump the physical plans of the flagship queries to PLANS.md — the
plan-quality evidence (pushdown, pruning, broadcast, single-shuffle
aggregation, grouped Arrow kernels) in reviewable form.

Usage: python scripts/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = {
    "route_per_sink_counts": "parse -> grep -> route -> per-sink counts: zero-shuffle scan stage + one final aggregation exchange",
    "tokens_group_counts": "the flagship salted-repartition->serialize->parse->route->count over the sequence table",
    "enrich_broadcast_lookup": "broadcast hash join (fact side never exchanged)",
    "dedup_embedding_cosine": "IVF-bucketed near-dup: broadcast centroid assign + grouped Arrow kernel, no cartesian product",
    "dedup_minhash_lsh": "LSH banding: map-side signatures, band-bucket join, semi-join-pruned exact verify",
    "ann_ivf_trained_topk": "PERSISTED-index IVF search (round 6): centroids + centroid-partitioned postings arrive as snap= FileScans; dynamic partition pruning limits the scan to probed buckets; no training aggregate in the plan",
    "token_bigrams_topk": "bigint-encoded bigram explode -> partial-agg count -> TakeOrderedAndProject",
    "asof_enrich": "as-of join: union + per-key carry-forward, ONE hash exchange",
    "range_join_windows": "bucketed interval join: equi-join on (key, bucket), no nested loop",
    "rollup_hour_day_week": "continuous aggregates: day/week re-aggregate the hourly partials",
    "tokens_mix_sample": "hash-gate mixing: the sample filter is a pure scan-stage predicate",
    "ann_ivfpq_topk": "IVF+PQ: coarse probes bound candidates; PQ codes join a broadcast per-query LUT; corpus floats untouched at query time; Python-free (the coarse assignment uses the Catalyst int_dot, no EvalPython node)",
    "decontaminate": "shingle-hash semi-join against the broadcast benchmark set",
    "hll_user_sketch": "HLL registers: one narrow pass + partial-max aggregation",
    "tokens_pack_concat": "two-level distributed prefix sum: (source, block) window + per-source cumsum over block subtotals, broadcast join back — no single-task-per-source sort",
    "tokens_length_stats": "exact percentiles from the (source, n_tok) value histogram: partial-agg shuffle + k-th pick on the aggregate, no row_number over raw rows",
    "multimodal_features": "binary containers through a mapInPandas Arrow kernel; metadata plans prune the bytes column",
    "stream_route_counts": "foreachBatch streaming fan-out vs batch counts (oracle pins equality)",
    "dedup_substring_spans": "span-level dedup, words and tokens through one span core: a partial-agg groupBy builds the dup-gram index; under the broadcast gate one Arrow kernel probes each doc's gram keys and merges islands (zero Exchange), above it positions semi-join the index and a per-doc window merges; the cleaners gap-slice the doc arrays against the collected spans",
    "bpe_encode": "subword encode: bounded vocab aggregation; the encode itself is a zero-shuffle broadcast-vocab Arrow kernel",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry_mod
    from go_log_forwarder_spark.session import get_spark

    spark = get_spark(app_name="explain_audit", master="local[8]", shuffle_partitions=8)
    qs = entry_mod.queries()
    out = [
        "# PLANS — physical-plan audit of the flagship queries",
        "",
        f"Generated by `scripts/explain_audit.py` at {sf_dir}. The shapes these",
        "plans must keep at 100 TB are asserted by `tests/test_plan_shape.py`;",
        "this file is the human-reviewable snapshot.",
        "",
    ]
    for name, note in AUDIT.items():
        plan = qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        out += [f"## {name}", "", f"_{note}_", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDIT)} plans)")


if __name__ == "__main__":
    main()
