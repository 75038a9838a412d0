"""End-to-end pipeline parity: parse -> filter -> route -> count vs the
pure-Python oracle, on a deterministic synthetic corpus covering every
TagMatch branch (FIXTURES.md F5) and both parser paths."""

import datetime
import json

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark import oracle
from go_log_forwarder_spark.functions.enrich import broadcast_enrich, merge_static_fields
from go_log_forwarder_spark.functions.filters import GrepFilter
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain, RegexParser
from go_log_forwarder_spark.operators.aggregate import (
    per_sink_counts,
    per_sink_source_counts,
    pipeline_metrics,
)
from go_log_forwarder_spark.operators.routing import SinkSpec, route_exploded

SINKS = [
    SinkSpec("sink_all", "*"),
    SinkSpec("sink_app", "app-*"),
    SinkSpec("sink_exact", "http-log"),
    SinkSpec("sink_infix", "f*bar*baz"),
    SinkSpec("sink_none", ""),
]

TAGS = ["app-log-a", "app-log-b", "http-log", "foobarbaz", "syslog", ""]
SOURCES = ["app-a", "app-b", "httpd", "fb", "sys", "empty"]


def _corpus():
    """300 deterministic rows: JSON lines, regex-able lines, and garbage."""
    rows = []
    for i in range(300):
        tag = TAGS[i % len(TAGS)]
        source = SOURCES[i % len(SOURCES)]
        if i % 3 == 0:
            raw = json.dumps({"level": "error" if i % 2 else "info", "seq": str(i)})
        elif i % 3 == 1:
            raw = f"{'ERROR' if i % 2 else 'INFO'} event number {i}"
        else:
            raw = f"~~garbage {i}~~"
        rows.append((raw, tag, source, i, datetime.datetime(2024, 1, 1, 0, 0, i % 60)))
    return rows


PARSERS = [
    JsonParser(),
    RegexParser(pattern=r"^(?P<level>[A-Z]+)\s+(?P<message>.+)$"),
]
# single-pattern AND == "this pattern must match": keeps error-level rows and
# unparsed rows (target "null"); tag-gated so only app-* tags are filtered.
GREP = GrepFilter(op="and", include=('"level":"(error|ERROR)"|null',), match="app-*")
METRICS = ("rows_in", "rows_parsed", "rows_dropped", "rows_routed")


def _oracle_parsed():
    evs = []
    for raw, tag, source, i, ts in _corpus():
        ev = oracle.Event(raw=raw, tag=tag, source=source, line_num=i, timestamp=ts)
        oracle.parser_chain(
            ev,
            [
                ("json", lambda e: oracle.json_parse(e)),
                ("regex", lambda e: oracle.regex_parse(e, PARSERS[1].pattern)),
            ],
        )
        evs.append(ev)
    return evs


def _oracle_grep():
    return oracle.Grep(op="and", include=list(GREP.include), match=GREP.match)


def _oracle_events():
    og = _oracle_grep()
    return [e for e in _oracle_parsed() if og.apply(e)]


def _oracle_metrics():
    """Per-source rows_in/parsed/dropped/routed from the pure-Python oracle."""
    og, sinks = _oracle_grep(), {s.name: s.match for s in SINKS}
    out: dict = {}
    for ev in _oracle_parsed():
        m = out.setdefault(ev.source, dict.fromkeys(METRICS, 0))
        kept = og.apply(ev)
        m["rows_in"] += 1
        m["rows_parsed"] += ev.parsed is not None
        m["rows_dropped"] += not kept
        m["rows_routed"] += sum(oracle.per_sink_counts([ev], sinks).values()) if kept else 0
    return out


@pytest.fixture(scope="module")
def pipeline_df(spark):
    df = spark.createDataFrame(
        _corpus(), "raw string, tag string, source string, line_num long, ingest_time timestamp"
    )
    parsed = ParserChain(PARSERS).apply(df)
    return parsed, GREP.apply(parsed)


def test_per_sink_counts_vs_oracle(spark, pipeline_df):
    _, kept = pipeline_df
    got = {r["sink_name"]: r["n"] for r in per_sink_counts(kept, SINKS).collect()}
    want = oracle.per_sink_counts(_oracle_events(), {s.name: s.match for s in SINKS})
    assert got == want
    assert got["sink_none"] == 0 or want["sink_none"] == got["sink_none"]


def test_routed_rows_vs_oracle(spark, pipeline_df):
    _, kept = pipeline_df
    routed = route_exploded(kept, SINKS)
    got = {(r["sink"], r["line_num"]) for r in routed.select("sink", "line_num").collect()}
    want = set()
    for name, evs in oracle.route(_oracle_events(), {s.name: s.match for s in SINKS}).items():
        for ev in evs:
            want.add((name, ev.line_num))
    assert got == want


def test_per_sink_source_counts(spark, pipeline_df):
    _, kept = pipeline_df
    got = {
        (r["sink_name"], r["source"]): r["n"]
        for r in per_sink_source_counts(kept, SINKS).collect()
    }
    want: dict = {}
    for name, evs in oracle.route(_oracle_events(), {s.name: s.match for s in SINKS}).items():
        for ev in evs:
            want[(name, ev.source)] = want.get((name, ev.source), 0) + 1
    assert got == want


def _metrics_by(df, key_col):
    return {
        r[key_col]: {c: r[c] for c in METRICS}
        for r in pipeline_metrics(df, GREP.keep_pred(), SINKS, key_col).collect()
    }


def test_pipeline_metrics_invariants(spark, pipeline_df):
    parsed, _ = pipeline_df
    got = _metrics_by(parsed, "source")
    want = _oracle_metrics()
    assert got == want
    assert sum(m["rows_in"] for m in got.values()) == 300
    # every metric is exercised: some rows unparsed, some dropped, fan-out
    assert all(sum(m[c] for m in got.values()) > 0 for c in METRICS)
    assert sum(m["rows_parsed"] for m in got.values()) < 300


def test_static_field_merge_overwrites(spark):
    # util.go:47-50 — configured fields overwrite existing keys
    df = spark.createDataFrame(
        [({"a": "1", "b": "2"},), (None,)], "parsed map<string,string>"
    )
    out = merge_static_fields(df, {"b": "X", "c": "3"}).collect()
    assert out[0]["parsed"] == {"a": "1", "b": "X", "c": "3"}
    assert out[1]["parsed"] == {"b": "X", "c": "3"}


def test_broadcast_enrich_left_join(spark):
    df = spark.createDataFrame([("app-a", 1), ("unknown", 2)], "source string, v int")
    lookup = spark.createDataFrame(
        [("app-a", "team-x", "prod")], "source string, team string, env string"
    )
    out = {r["source"]: r for r in broadcast_enrich(df, lookup).collect()}
    assert out["app-a"]["team"] == "team-x"
    assert out["unknown"]["team"] is None
    # the join must be a broadcast hash join
    plan = broadcast_enrich(df, lookup)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_per_partition_metrics(spark, pipeline_df):
    # the per-partition view is the same core keyed by spark_partition_id
    parsed, _ = pipeline_df
    by_part = _metrics_by(parsed.withColumn("partition_id", F.spark_partition_id()), "partition_id")
    by_source = _metrics_by(parsed, "source")
    assert len(by_part) >= 1
    assert all(m["rows_parsed"] <= m["rows_in"] for m in by_part.values())
    for c in METRICS:
        assert sum(m[c] for m in by_part.values()) == sum(m[c] for m in by_source.values())


def test_fan_out_writes_one_job_per_sink(spark, tmp_path):
    # counts come from Observation metrics folded into the write job itself:
    # exactly ONE Spark job per sink, never a second counting pass.
    from go_log_forwarder_spark.operators.routing import fan_out_writes

    df = spark.createDataFrame(
        [(i, "evt-error" if i % 3 == 0 else "evt-click") for i in range(90)],
        "event_id long, tag string",
    )
    sinks = [SinkSpec("all", "*"), SinkSpec("err", "evt-err*"), SinkSpec("none", "")]

    def write_fn(spec, sdf):
        sdf.write.mode("overwrite").parquet(str(tmp_path / spec.name))

    sc = spark.sparkContext
    sc.setJobGroup("fanout_test", "fan_out_writes job-count probe")
    try:
        counts = fan_out_writes(df, sinks, write_fn)
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup("fanout_test")
    assert counts == {"all": 90, "err": 30, "none": 0}
    assert len(jobs) == len(sinks), f"expected 1 job per sink, saw {len(jobs)}"
    # and the written data matches the observed counts
    assert spark.read.parquet(str(tmp_path / "err")).count() == 30


def test_as_of_join_semantics(spark):
    # golden: latest right row with time <= left time, per key; inclusive
    # at equal timestamps; NULL before the first change
    from go_log_forwarder_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [("a", 1, 100), ("a", 5, 101), ("a", 7, 102), ("b", 3, 103), ("c", 9, 104)],
        "k string, t long, row_id long",
    )
    right = spark.createDataFrame(
        [("a", 2, 10), ("a", 5, 20), ("a", 6, 30), ("b", 1, 40)],
        "k string, t long, rate long",
    )
    out = {
        r["row_id"]: r["rate"]
        for r in as_of_join(left, right, "k", "t", "t", ["rate"]).collect()
    }
    assert out == {100: None, 101: 20, 102: 30, 103: 40, 104: None}


def test_as_of_join_single_shuffle(spark):
    # the union + carry-forward plan shuffles ONCE on the key — never a
    # range cross-join / BroadcastNestedLoopJoin
    from go_log_forwarder_spark.operators.asof import as_of_join

    left = spark.range(100).select(
        (F.col("id") % 5).cast("string").alias("k"), F.col("id").alias("t")
    )
    right = spark.range(10).select(
        (F.col("id") % 5).cast("string").alias("k"),
        (F.col("id") * 7).alias("t"),
        F.col("id").alias("rate"),
    )
    plan = as_of_join(left, right, "k", "t", "t", ["rate"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_range_join_semantics(spark):
    # half-open containment; long intervals span multiple buckets without
    # duplicating matches; non-matching keys/times drop
    import datetime as dtm

    from go_log_forwarder_spark.operators.rangejoin import range_join

    T0 = dtm.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return T0 + dtm.timedelta(minutes=minutes)

    points = spark.createDataFrame(
        [("a", ts(5), 1), ("a", ts(30), 2), ("a", ts(150), 3), ("b", ts(5), 4)],
        "k string, t timestamp, pid long",
    )
    intervals = spark.createDataFrame(
        # [0, 30) single-bucket; [60, 180) spans 3 hourly buckets;
        # [5, 5) is EMPTY (half-open) and must match nothing — and must not
        # poison bucket assignment (sequence(5,3) descends in Spark)
        [("a", ts(0), ts(30), 10), ("a", ts(60), ts(180), 20), ("a", ts(5), ts(5), 30)],
        "k string, s timestamp, e timestamp, iid long",
    )
    out = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "k", "t", "s", "e").collect()
    }
    # pid 1 in iid 10; pid 2 at t=30 EXCLUDED (half-open); pid 3 in iid 20
    # exactly once despite the 3-bucket explode; pid 4 wrong key
    assert out == {(1, 10), (3, 20)}


def test_range_join_plan_no_nested_loop(spark):
    import datetime as dtm

    from go_log_forwarder_spark.operators.rangejoin import range_join

    T0 = dtm.datetime(2024, 1, 1)
    points = spark.createDataFrame([("a", T0, 1)], "k string, t timestamp, pid long")
    intervals = spark.createDataFrame(
        [("a", T0, T0 + dtm.timedelta(hours=1), 2)],
        "k string, s timestamp, e timestamp, iid long",
    )
    plan = range_join(points, intervals, "k", "t", "s", "e")._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_time_rollup_reuses_finer_level(spark):
    import datetime as dtm

    from go_log_forwarder_spark.operators.rollup import time_rollup

    df = spark.createDataFrame(
        [
            ("a", dtm.datetime(2024, 1, 1, 10, 15), 3),
            ("a", dtm.datetime(2024, 1, 1, 10, 45), 5),
            ("a", dtm.datetime(2024, 1, 2, 3, 0), 7),
            ("b", dtm.datetime(2024, 1, 1, 10, 0), 11),
        ],
        "k string, t timestamp, v long",
    )
    out = time_rollup(
        df, "t", ["k"],
        [("n", F.count(F.lit(1)), "sum"), ("mx", F.max("v"), "max")],
        levels=("hour", "day"),
    )
    rows = {(r["level"], r["bucket"], r["k"]): (r["n"], r["mx"]) for r in out.collect()}
    assert rows[("hour", dtm.datetime(2024, 1, 1, 10), "a")] == (2, 5)
    assert rows[("day", dtm.datetime(2024, 1, 1), "a")] == (2, 5)
    assert rows[("day", dtm.datetime(2024, 1, 2), "a")] == (1, 7)
    assert rows[("day", dtm.datetime(2024, 1, 1), "b")] == (1, 11)
    # the day level consumes the hour level's MATERIALIZED aggregate, never
    # the raw rows: non-final levels are persisted (each union branch would
    # otherwise re-scan the input)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan


def test_operator_argument_guards(spark):
    import datetime as dtm

    from go_log_forwarder_spark.operators.asof import as_of_join
    from go_log_forwarder_spark.operators.rollup import time_rollup
    from go_log_forwarder_spark.sources.tcp import tcp_chunks

    left = spark.createDataFrame([("a", 1, 2)], "k string, t long, rate long")
    right = spark.createDataFrame([("a", 1, 3)], "k string, t long, rate long")
    with pytest.raises(ValueError, match="collide"):
        as_of_join(left, right, "k", "t", "t", ["rate"])
    df = spark.createDataFrame([("x", "c")], "body string, remote_addr string")
    with pytest.raises(ValueError, match="buffer_size"):
        tcp_chunks(df, buffer_size=0)
    ev = spark.createDataFrame([("a", dtm.datetime(2024, 1, 1), 1)], "k string, t timestamp, v long")
    with pytest.raises(ValueError, match="finest-to-coarsest"):
        time_rollup(ev, "t", ["k"], [("n", F.count(F.lit(1)), "sum")], levels=("day", "hour"))


def test_compact_parquet_dir(spark, tmp_path):
    from go_log_forwarder_spark.operators.compaction import compact_parquet_dir

    path = str(tmp_path / "many_small")
    # 40 tiny files
    spark.range(40000).withColumn("payload", F.md5(F.col("id").cast("string"))) \
        .repartition(40).write.parquet(path)
    before = spark.read.parquet(path)
    before_rows = sorted(r["id"] for r in before.select("id").collect())

    stats = compact_parquet_dir(spark, path, target_mb=1)
    assert stats["files_before"] == 40
    assert stats["files_after"] < 40  # sized by real bytes, tiny corpus -> few files
    after = spark.read.parquet(path)
    assert sorted(r["id"] for r in after.select("id").collect()) == before_rows
    assert after.schema == before.schema


def test_as_of_join_matched_row_nulls_not_backfilled(spark):
    # ADVICE r2: all payload columns must come from the SAME matched right
    # row — a NULL field in the latest match stays NULL (DuckDB ASOF
    # semantics), never back-filled from an older right row.
    from go_log_forwarder_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [("a", 5, 1), ("a", 7, 2)], "k string, t long, row_id long"
    )
    right = spark.createDataFrame(
        [("a", 2, 10, "x"), ("a", 6, None, "y")],
        "k string, t long, rate long, note string",
    )
    out = {
        r["row_id"]: (r["rate"], r["note"])
        for r in as_of_join(left, right, "k", "t", "t", ["rate", "note"]).collect()
    }
    assert out == {1: (10, "x"), 2: (None, "y")}


def test_dup_clusters_rejects_nonpositive_max_iters(spark):
    from go_log_forwarder_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="max_iters"):
        dup_clusters(pairs, max_iters=0)


def test_recover_compaction(spark, tmp_path):
    # the documented crash-recovery procedure for the non-atomic rename
    # window: path missing + __old_ present -> restore; stray __compact_
    # temp dirs removed; completed state untouched
    import os
    import shutil

    from go_log_forwarder_spark.operators.compaction import recover_compaction

    d = str(tmp_path / "sink")
    spark.range(100).write.parquet(d)
    rows = spark.read.parquet(d).count()

    assert recover_compaction(d) == "ok"

    # simulate a crash between the two renames
    old = d + "__old_deadbeef"
    os.rename(d, old)
    (tmp_path / "sink__compact_cafe").mkdir()  # stray temp output
    assert recover_compaction(d) == "restored"
    assert spark.read.parquet(d).count() == rows
    assert not os.path.exists(old)
    assert not (tmp_path / "sink__compact_cafe").exists()

    # leftover __old_ after a COMPLETED swap is dropped
    shutil.copytree(d, old)
    assert recover_compaction(d) == "ok"
    assert not os.path.exists(old)

    assert recover_compaction(str(tmp_path / "never_existed")) == "missing"


def test_pack_concat_map_many_blocks(spark):
    # the two-level prefix sum must equal the naive per-group cumsum when
    # groups span MANY blocks (block=8 << rows/group) — the cross-block
    # offset path that real sf dirs barely exercise
    import random

    from pyspark.sql.window import Window

    from go_log_forwarder_spark.functions.packing import pack_concat_map

    rnd = random.Random(17)
    rows = [
        (i, f"g{i % 3}", rnd.randint(1, 40)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "ord long, source string, n_tok long")
    got = {
        r["ord"]: (r["start_off"], r["win_first"], r["win_last"], r["crosses_boundary"])
        for r in pack_concat_map(df, ctx=64, ord_col=F.col("ord"), block=8).collect()
    }
    w = Window.partitionBy("source").orderBy("ord").rowsBetween(
        Window.unboundedPreceding, 0
    )
    end = F.sum("n_tok").over(w)
    naive = {
        r["ord"]: (r["s"], r["wf"], r["wl"], r["cb"])
        for r in df.select(
            "ord",
            (end - F.col("n_tok")).cast("bigint").alias("s"),
            F.floor((end - F.col("n_tok")) / 64).cast("bigint").alias("wf"),
            F.floor((end - 1) / 64).cast("bigint").alias("wl"),
            (
                F.floor((end - F.col("n_tok")) / 64) != F.floor((end - 1) / 64)
            ).alias("cb"),
        ).collect()
    }
    assert got == naive
