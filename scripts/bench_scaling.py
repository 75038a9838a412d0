"""Scaling-efficiency evidence (north rule: ≥0.8 from N to 4N executors).

No multi-executor cluster exists in this sandbox, so the two-cluster-size
criterion is evidenced by running the IDENTICAL job at two parallelism
levels on the same input on the 32-core host (BASELINE.md measurement plan):

    python scripts/bench_scaling.py            # orchestrates: gen + N + 4N
    python scripts/bench_scaling.py run 8      # one timed run (subprocess)
    python scripts/bench_scaling.py interleave # paired-leg protocol (r5)

The interleave mode (VERDICT r4 item 4) alternates one-rep N-core and
4N-core subprocess legs (N,4N,N,4N,...) so co-tenant noise lands on both
legs of each adjacent pair symmetrically, and reports the MEDIAN of the
per-pair efficiency ratios alongside the classic min-of-N ratio — the
evidence no longer depends on WHICH leg a stall happened to hit.

The job is the flagship pipeline over a pre-generated tokens parquet table:
read -> serialize to raw JSON log lines -> parse (typed from_json) +
vectorized regex parse (Arrow UDF, the custom kernel) -> keep the rows the
kernel matched -> tag -> route to sinks -> per-sink and per-source counts,
folded to per-sink totals. Measurement discipline:
dataset sized so parse dominates; page cache warmed by an untimed pre-read;
session startup excluded; same shuffle-partition count per core level.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DATA = os.environ.get("SPARK_GRAFT_SCALE_DATA", "/tmp/glfs_tokens_bench")
ROWS = int(os.environ.get("SPARK_GRAFT_SCALE_ROWS", "4000000"))
MAX_LEN = 96


def gen() -> None:
    from go_log_forwarder_spark.session import get_spark
    from go_log_forwarder_spark.sources.tokens import synth_tokens

    spark = get_spark(app_name="gen", master="local[32]")
    df = synth_tokens(spark, ROWS, max_len=MAX_LEN, partitions=64)
    df.write.mode("overwrite").parquet(DATA)
    print(f"generated {ROWS} rows at {DATA}")


def flagship_job(spark):
    from pyspark.sql import functions as F

    from go_log_forwarder_spark.functions.parsers import ParserChain, RegexParser
    from go_log_forwarder_spark.functions.enrich import broadcast_enrich
    from go_log_forwarder_spark.operators.aggregate import per_sink_source_counts
    from go_log_forwarder_spark.operators.routing import SinkSpec
    from go_log_forwarder_spark.sources.tokens import (
        SOURCE_BUCKETS,
        parse_tokens_raw,
        serialize_tokens,
    )

    sinks = [
        SinkSpec("s_all", "*"),
        SinkSpec("s_hot", "*-hot"),
        SinkSpec("s_a", "tok-src-a"),
        SinkSpec("s_multi", "tok-*-*"),
    ]
    toks = spark.read.parquet(DATA)
    raw = serialize_tokens(toks).select("raw")
    # stage 1: typed JSON parse of the serialized record (JVM, whole-stage)
    parsed = parse_tokens_raw(raw).select(
        F.col("parsed.doc_id").alias("doc_id"),
        F.col("parsed.n_tok").alias("n_tok"),
        F.col("parsed.source").alias("source"),
        F.concat(F.lit("tok-"), F.col("parsed.source")).alias("tag"),
        "raw",
    )
    # stage 2: vectorized regex parse (Arrow UDF — the custom kernel):
    # extract doc_id + source from the raw line via named groups
    rx = RegexParser(pattern=r'"doc_id":"(?P<doc_id>[^"]+)".*"source":"(?P<src>[^"]+)"')
    parsed = ParserChain([rx]).apply(
        parsed.withColumn("ingest_time", F.lit(None).cast("timestamp"))
    )
    parsed = parsed.withColumn("rx_ok", F.col("parsed")["doc_id"] == F.col("doc_id")).drop(
        "raw", "ingest_time", "parsed", "parser", "canonical", "event_time"
    )
    # stage 3: broadcast enrichment on source, of the rows the kernel
    # matched (every synthesized row does; reading rx_ok is what keeps the
    # kernel in the plan)
    lookup = spark.createDataFrame(
        [(name, f"team-{i}") for i, (_, name) in enumerate(SOURCE_BUCKETS)],
        "source string, team string",
    )
    enriched = broadcast_enrich(parsed.filter("rx_ok"), lookup, on="source")
    # stage 4: route + aggregate — per-(sink, source) counts folded to
    # per-sink totals in one chain, so the parse above runs once per row
    # (a union of two aggregates over ``enriched`` plans the scan, the
    # parse and the kernel once per branch)
    return (
        per_sink_source_counts(enriched, sinks)
        .groupBy("sink_name")
        .agg(F.sum("n").alias("n"))
    )


REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "5"))


def check_plan(df) -> None:
    """The timed job must run the regex kernel exactly once per row."""
    n = df._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")
    if n != 1:
        raise RuntimeError(f"flagship plan holds {n} ArrowEvalPython nodes, want 1")


def run(cores: int) -> None:
    """Timed job, REPS repetitions, report the MINIMUM.

    The sandbox host is heavily time-shared (identical runs vary 7s..215s),
    so the minimum — the least-interfered run — is the only meaningful
    estimate of the job's actual cost at each parallelism level."""
    from go_log_forwarder_spark.session import get_spark

    spark = get_spark(
        app_name=f"scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    # warm: page cache + JIT, untimed
    spark.read.parquet(DATA).select("n_tok").groupBy().sum().collect()
    job = flagship_job(spark)
    check_plan(job)
    job.collect()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        flagship_job(spark).collect()
        times.append(time.perf_counter() - t0)
    elapsed = min(times)
    n = spark.read.parquet(DATA).count()
    print(json.dumps({"cores": cores, "sec": round(elapsed, 3), "rows": n,
                      "all_secs": [round(t, 2) for t in times],
                      "seq_per_sec": round(n / elapsed, 1)}))


def _run_leg(cores: int, env: dict) -> dict:
    """One single-rep timed leg in a fresh subprocess (own session, own
    warm-up; the parquet page cache persists across legs)."""
    leg_env = dict(env)
    leg_env["SPARK_GRAFT_SCALE_REPS"] = "1"
    out = subprocess.run(
        [sys.executable, __file__, "run", str(cores)],
        check=True, env=leg_env, capture_output=True, text=True,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def interleave() -> None:
    """Paired-leg scaling protocol (VERDICT r4 item 4): K adjacent
    (N-core, 4N-core) pairs run back-to-back; each pair yields one
    efficiency ratio t_N / (4 * t_4N); the headline is the MEDIAN of the
    pair ratios (noise symmetric across legs) with the min-of-all-legs
    ratio reported alongside for continuity with rounds 1-4."""
    import statistics

    env = dict(os.environ)
    if not os.path.exists(DATA):
        subprocess.run([sys.executable, __file__, "gen"], check=True, env=env)
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    pairs = int(os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "5"))
    legs_n, legs_4n, ratios = [], [], []
    for k in range(pairs):
        a = _run_leg(n, env)
        b = _run_leg(4 * n, env)
        legs_n.append(a["sec"])
        legs_4n.append(b["sec"])
        ratios.append(a["sec"] / (4 * b["sec"]))
        print(json.dumps({"pair": k, "sec_n": a["sec"], "sec_4n": b["sec"],
                          "pair_eff": round(ratios[-1], 3)}))
    min_eff = min(legs_n) / (4 * min(legs_4n))
    print(json.dumps({
        "metric": f"tokens-pipeline scaling efficiency local[{n}]→local[{4 * n}],"
                  " interleaved pairs",
        "pairs": pairs,
        "median_pair_efficiency": round(statistics.median(ratios), 3),
        "min_of_all_legs_efficiency": round(min_eff, 3),
        "pair_efficiencies": [round(r, 3) for r in ratios],
        "sec_n": legs_n, "sec_4n": legs_4n,
        "target": 0.8, "rows": ROWS,
    }))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "gen":
        gen()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "run":
        run(int(sys.argv[2]))
        return
    if len(sys.argv) > 1 and sys.argv[1] == "interleave":
        interleave()
        return
    env = dict(os.environ)
    if not os.path.exists(DATA):
        subprocess.run([sys.executable, __file__, "gen"], check=True, env=env)
    # N and 4N. Default 2→8: raw-CPU probes show this host exposes only
    # ~14-16 effective cores (32 hyperthreads/shared), so 8→32 threads can
    # never reach 4x — 2→8 stays within physical capacity, which is what the
    # N→4N executor criterion models on a real cluster.
    n = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    # SPARK_GRAFT_SCALE_TASKSET=0-7 pins BOTH runs to the same fixed CPU
    # set (VERDICT r3 item 3): local[2] and local[8] then see identical
    # silicon, so scheduler migration across hyperthread siblings / busy
    # cores cannot skew the ratio between the two levels.
    pin = os.environ.get("SPARK_GRAFT_SCALE_TASKSET", "")
    prefix = ["taskset", "-c", pin] if pin else []
    results = {}
    for cores in (n, 4 * n):
        out = subprocess.run(
            [*prefix, sys.executable, __file__, "run", str(cores)],
            check=True, env=env, capture_output=True, text=True,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        results[cores] = json.loads(line)
        print(line)
    r_n, r_4n = results[n]["seq_per_sec"], results[4 * n]["seq_per_sec"]
    eff = r_4n / (4 * r_n)
    print(json.dumps({
        "metric": f"tokens-pipeline scaling efficiency local[{n}]→local[{4 * n}]",
        "seq_per_sec_n": r_n, "seq_per_sec_4n": r_4n,
        "efficiency": round(eff, 3), "target": 0.8, "rows": results[n]["rows"],
    }))


if __name__ == "__main__":
    main()
