"""Physical-plan shape assertions — the 100 TB readiness gates.

Correctness tests prove the operators compute the right answer; these prove
the PLANS are the ones you'd want on a 1000-executor cluster: filters reach
the parquet scan, column pruning drops unused (esp. wide/binary) columns,
small dims broadcast, map-side ops don't shuffle, salting balances the
skewed source, and whole-stage codegen covers the hot expressions.
"""

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark.functions.enrich import broadcast_enrich
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain
from go_log_forwarder_spark.operators.partitioning import salted_repartition, source_salt_factors
from go_log_forwarder_spark.operators.routing import SinkSpec, route_exploded
from go_log_forwarder_spark.sources.tokens import synth_tokens


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tokens_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("toks") / "tokens")
    synth_tokens(spark, 20000, max_len=16, partitions=8).write.parquet(p)
    return p


def test_filter_pushdown_reaches_scan(spark, tokens_path):
    df = spark.read.parquet(tokens_path).filter(F.col("source") == "src-a").select("doc_id")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(source), EqualTo(source,src-a)" in plan


def test_column_pruning_drops_tokens_array(spark, tokens_path):
    """A count over doc_id must not read the (wide) tokens array."""
    df = spark.read.parquet(tokens_path).groupBy("source").agg(F.count("doc_id"))
    plan = plan_of(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "tokens" not in read_schema


def test_enrich_is_broadcast_not_shuffle(spark, tokens_path):
    facts = spark.read.parquet(tokens_path)
    lookup = spark.createDataFrame(
        [("src-a", "t1"), ("src-hot", "t2")], "source string, team string"
    )
    plan = plan_of(broadcast_enrich(facts, lookup))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the fact side must NOT be exchanged for the join (only the broadcast)
    assert plan.count("Exchange hashpartitioning") == 0


def test_parse_route_is_shuffle_free(spark, tokens_path):
    """The whole parse -> tag -> route -> explode path is map-side only."""
    from go_log_forwarder_spark.sources.tokens import parse_tokens_raw, serialize_tokens

    df = parse_tokens_raw(serialize_tokens(spark.read.parquet(tokens_path)))
    routed = route_exploded(
        df.withColumn("tag", F.concat(F.lit("tok-"), F.col("parsed.source"))),
        [SinkSpec("a", "*"), SinkSpec("b", "*-hot")],
    )
    plan = plan_of(routed)
    assert "Exchange" not in plan
    # whole-stage codegen spans show as *(n) in the physical plan string
    assert "*(1)" in plan


def test_per_sink_counts_single_shuffle(spark, tokens_path):
    """Counting per sink = exactly ONE exchange (the final group-by), with
    map-side partial aggregation before it."""
    from go_log_forwarder_spark.operators.aggregate import per_sink_source_counts

    df = spark.read.parquet(tokens_path).withColumn(
        "tag", F.concat(F.lit("tok-"), F.col("source"))
    )
    out = per_sink_source_counts(df, [SinkSpec("a", "*"), SinkSpec("b", "*-hot")])
    plan = plan_of(out)
    assert plan.count("Exchange hashpartitioning") == 1
    # map-side combine: r7's conditional-aggregation form sums per-sink
    # indicator columns (partial_sum) where the r2 explode form counted
    # exploded rows (partial_count) — either way the exchange must carry
    # pre-aggregated rows, never the raw (or exploded) relation
    assert "partial_sum" in plan or "partial_count" in plan
    # no explode feeds the exchange (the stack() UNPIVOT above the final
    # aggregate is a Generate too, but over sinks x sources rows — only
    # an explode Generate would blow the pre-exchange relation up)
    assert "Generate explode" not in plan


def test_salted_repartition_balances_hot_source(spark, tokens_path):
    """src-hot holds ~60% of rows; plain repartition(source) would put them
    in ONE partition. Salting must spread the hot source over multiple
    partitions while leaving aggregates intact."""
    df = spark.read.parquet(tokens_path)
    factors = source_salt_factors(df, "source", 16)
    assert factors["src-hot"] > 1  # pre-scan detects the skew
    salted = salted_repartition(df, "source", 16, row_key="doc_id", factors=factors)
    sizes = (
        salted.filter(F.col("source") == "src-hot")
        .groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    # hot rows span multiple partitions ((source,salt) tuples can collide in
    # the partition hash, so <= S distinct partitions, but always > 1)
    assert 1 < len(sizes) <= factors["src-hot"]
    counts = [r["count"] for r in sizes]
    # unsalted would be 100% in one partition; salted: no partition dominates
    assert max(counts) < sum(counts) * 0.5


def test_json_parse_evaluated_once_per_row(spark, tokens_path):
    """The first-match-wins chain must not re-evaluate from_json per
    reference (parsed/parser/canonical/event_time all derive from ONE
    struct)."""
    import datetime

    df = spark.createDataFrame(
        [('{"a":"1"}', datetime.datetime(2024, 1, 1))], "raw string, ingest_time timestamp"
    )
    out = ParserChain([JsonParser()]).apply(df)
    plan = plan_of(out.select("parsed", "parser", "canonical", "event_time"))
    assert plan.count("from_json") <= 2  # one for the map view (+1 tolerated
    # for the variant canonical path) — never one per derived column


def test_grep_filter_stays_in_scan_stage(spark, tokens_path):
    """Filter chain compiles to a plain Filter over the scan (no shuffle,
    no UDF node for the JVM path)."""
    import datetime

    from go_log_forwarder_spark.functions.filters import GrepFilter

    df = spark.createDataFrame(
        [('{"a":"1"}', "t", datetime.datetime(2024, 1, 1))],
        "raw string, tag string, ingest_time timestamp",
    )
    out = GrepFilter(op="and", include=("x",)).apply(ParserChain([JsonParser()]).apply(df))
    plan = plan_of(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_join_avoids_shuffle(spark, tokens_path):
    """Both sides bucketed on the join key -> SortMergeJoin with ZERO
    Exchange (co-located join; the bucketing strategy for repeated joins
    at 10^12 rows)."""
    from go_log_forwarder_spark.operators.partitioning import write_bucketed

    df = spark.read.parquet(tokens_path)
    write_bucketed(df.select("doc_id", "source", "n_tok"), "t_buck_a", key="doc_id", buckets=8)
    write_bucketed(df.select("doc_id", "tokens"), "t_buck_b", key="doc_id", buckets=8)
    # disable broadcast so the planner must choose between shuffle and
    # buckets (at 10^12 rows neither side broadcasts anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_buck_a").join(spark.table("t_buck_b"), "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located by buckets
        assert joined.count() == df.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_tcp_chunks_shuffle_free(spark):
    """Chunk-per-read explode is map-side only: no Exchange, no Python."""
    from go_log_forwarder_spark.sources.tcp import tcp_chunks

    bodies = spark.createDataFrame(
        [("x" * 100, "c1")], "body string, remote_addr string"
    )
    plan = plan_of(tcp_chunks(bodies, buffer_size=16))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_bucketed_pairs_plan_is_grouped_arrow_kernel(spark):
    """The gated embedding-dedup plan: IVF assign (broadcast centroids) +
    grouped-map Arrow kernel per bucket. NEVER a cartesian/nested-loop join
    of the corpus against itself, and zero driver-side collect nodes."""
    from go_log_forwarder_spark.functions import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(64)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(sim.bucketed_cosine_pairs(emb, 500000, k=4))
    assert "FlatMapGroupsInPandas" in plan  # the per-bucket numpy kernel
    assert "CartesianProduct" not in plan
    # the only nested-loop join is row x K-CENTROIDS with the centroid side
    # broadcast (k rows) — the intended assign shape; corpus x corpus would
    # show as a second non-broadcast join or a cartesian product
    assert "BroadcastExchange" in plan
    assert plan.count("Join") == plan.count("BroadcastNestedLoopJoin BuildRight") == 1


def test_all_pairs_plan_is_block_shuffle_not_collect(spark):
    """Exact all-pairs: ONE hash exchange (block-pair groups) feeding the
    grouped Arrow kernel — no corpus broadcast, no nested-loop join."""
    from go_log_forwarder_spark.functions import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(32)],
        "vec_id long, embedding array<double>",
    )
    plan = plan_of(sim.all_pairs_cosine_micro(emb, 0, num_blocks=4))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_concat_prefix_sum_is_blocked_not_per_source(spark):
    """The packing cumsum must never sort a whole source in one task: the
    full-relation window partitions on (source, _blk) — high cardinality —
    and the only per-source-alone window runs over the block-subtotal
    AGGREGATE (rows/PACK_BLOCK), whose offsets then broadcast-join back."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tokens_pack_concat(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    # level-1 window keyed by (source, _blk)
    assert "windowspecdefinition(source" in plan and "_blk" in plan
    specs = [seg.split(")")[0] for seg in plan.split("windowspecdefinition(")[1:]]
    per_source_only = [s for s in specs if "_blk" not in s and "_btot" not in s]
    # any window WITHOUT the block key must be the subtotal-level cumsum
    # (its frame sums _btot), never the raw row relation
    for s in per_source_only:
        raise AssertionError(f"raw-relation window partitioned by source alone: {s}")
    # the offsets come back via broadcast, not another big-side exchange
    assert "BroadcastHashJoin" in plan


def test_length_stats_is_histogram_not_global_sort(spark):
    """Exact percentiles must come from the (source, n_tok) value histogram:
    the raw relation is only partially aggregated (partial_count before the
    exchange); windows run over the aggregated histogram, and no row_number
    ranks the full row set."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tokens_length_stats(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert "row_number" not in plan
    # map-side partial aggregation of the histogram counts
    assert "partial_count" in plan


def test_tokens_group_counts_single_scan(spark):
    """Sink AND source aggregates must come from ONE pass of the
    serialize->parse pipeline (a union of two aggregations would recompute
    the parse per branch): exactly one events scan in the plan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.q_tokens_group_counts(spark, "/root/testdata/sf0.001")
    plan = plan_of(df)
    assert plan.count("FileScan parquet") == 1
    assert "Union" not in plan


def test_split_seed_debroadcast_plan(spark):
    """VERDICT r3 item 2 (plan half): the seed relation joins by broadcast
    ONLY under the row threshold; past it (forced with
    seed_broadcast_rows=0) the candidate join is a real shuffle join — a
    data-dependent relation is never unconditionally broadcast, and the
    plan never degrades to a cartesian product. checkpoint=False exposes
    the per-level joins that localCheckpoint would otherwise hide."""
    from go_log_forwarder_spark.functions import similarity as sim

    emb = spark.createDataFrame(
        [(i, [float((i * 3) % 11), float(i % 5), 1.0]) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    assigned = sim.ivf_assign(emb, k=1)

    dflt = sim.split_hot_buckets(assigned, split_cap=20, checkpoint=False)
    p_dflt = plan_of(dflt)
    forced = sim.split_hot_buckets(
        assigned, split_cap=20, seed_broadcast_rows=0, checkpoint=False
    )
    p_forced = plan_of(forced)

    for p in (p_dflt, p_forced):
        assert "CartesianProduct" not in p
        # the sub-seed distances use the Catalyst dot: no Python boundary
        assert "EvalPython" not in p
    # small seeds: the candidate join is broadcast (more BroadcastExchange
    # nodes than the forced-shuffle plan, which must fall back to a
    # shuffle join for the same relation)
    assert p_dflt.count("BroadcastExchange") > p_forced.count("BroadcastExchange")
    assert ("SortMergeJoin" in p_forced) or ("ShuffledHashJoin" in p_forced)


def test_frame_sample_zero_shuffle_plan(spark):
    """Per-frame video access must stay a single-pass plan: ONE Arrow
    kernel decodes each video's movi chunks into an array column, then
    the time-grid explode and the element_at frame lookup run inside
    whole-stage codegen — no Exchange, no join, no second decode."""
    from go_log_forwarder_spark.functions import multimodal as mm

    df = mm.frame_sample(mm.synth_media(spark, 45), every_ms=100)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # exactly two kernels: synth_media's builder + the frame decoder
    assert plan.count("MapInPandas") == 2
    assert "Generate explode" in plan and "element_at" in plan


_KERNEL_PATTERN = r"^(?P<level>[A-Z]+) (?P<msg>.+)$"
_GREP = '"level":"(error|ERROR|warn|WARN)"'


def _assert_one_kernel_below_grep(plan: str) -> None:
    """One ArrowEvalPython holding one regex-kernel call, with the grep
    Filter above it (a parent node prints before its child). The filter
    reads the canonical text without rebuilding the parse result (no
    candidate struct, no parsed map)."""
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("parse(") == 1
    lines = plan.splitlines()
    udf = next(i for i, ln in enumerate(lines) if "ArrowEvalPython" in ln)
    grep = next(i for i, ln in enumerate(lines) if "Filter" in ln and "RLIKE" in ln)
    assert grep < udf
    assert "struct(" not in lines[grep] and "map_from_arrays" not in lines[grep]


def test_tagged_chain_parses_once_above_grep(spark, tmp_path, monkeypatch):
    """Two tagged inputs, a json -> regex chain and a Match-gated grep:
    the regex kernel runs once per row, above the union, and the grep
    filter reads its output instead of re-running the chain below the
    parse (the filter is neither pushed through the nondeterministic
    kernel projection nor into the union's branches)."""
    from go_log_forwarder_spark.plans.config import build_pipeline, load_plan

    for name in ("web", "db"):
        (tmp_path / name).mkdir()
        (tmp_path / name / "a.log").write_text('{"level":"error"}\nWARN x\nINFO y\nnot parsed\n')
        monkeypatch.setenv(f"GLFS_{name.upper()}", str(tmp_path / name / "*.log"))
    cfg = f"""
Inputs:
  - Type: tail
    Tag: app.web
    Glob: "${{GLFS_WEB}}"
  - Type: tail
    Tag: app.db
    Glob: "${{GLFS_DB}}"
Parsers:
  - Type: json
  - Type: regex
    Pattern: '{_KERNEL_PATTERN}'
Filters:
  - Type: grep
    Match: app.web
    Op: any
    Include: ['{_GREP}']
Outputs:
  - Type: counter
    Match: '*'
"""
    df = build_pipeline(spark, load_plan(text=cfg))
    _assert_one_kernel_below_grep(plan_of(df))
    # web keeps its error/warn lines, db bypasses the filter
    got = sorted((r["tag"], r["raw"], r["parser"]) for r in df.collect())
    assert got == [
        ("app.db", "INFO y", "regex"), ("app.db", "WARN x", "regex"),
        ("app.db", "not parsed", None), ("app.db", '{"level":"error"}', "json"),
        ("app.web", "WARN x", "regex"), ("app.web", '{"level":"error"}', "json"),
    ]


def test_stream_plan_parses_once_above_grep(spark, tmp_path):
    """The same single kernel evaluation in the plan run_foreach_batch
    executes per micro-batch."""
    from go_log_forwarder_spark.functions.filters import FilterChain, GrepFilter
    from go_log_forwarder_spark.functions.parsers import RegexParser
    from go_log_forwarder_spark.streaming.pipeline import run_foreach_batch

    spark.createDataFrame(
        [(1, '{"level":"error"}', "app.web"), (2, "WARN x", "app.web"),
         (3, "INFO y", "app.web"), (4, "INFO z", "app.db")],
        "id long, raw string, tag string",
    ).withColumn("ingest_time", F.current_timestamp()).coalesce(1).write.parquet(
        str(tmp_path / "in")
    )
    src = spark.readStream.schema(
        "id long, raw string, tag string, ingest_time timestamp"
    ).parquet(str(tmp_path / "in"))
    chain = ParserChain([JsonParser(), RegexParser(pattern=_KERNEL_PATTERN)])
    grep = FilterChain([GrepFilter(include=(_GREP,), op="any", match="app.web")])
    q = run_foreach_batch(
        src, lambda df: grep.apply(chain.apply(df)), [SinkSpec("all", "*")],
        str(tmp_path / "out"), str(tmp_path / "ckpt"), trigger_seconds=0,
    )
    try:
        q.processAllAvailable()
        plan = q._jsq.streamingQuery().lastExecution().executedPlan().toString()
    finally:
        q.stop()
    _assert_one_kernel_below_grep(plan)
    assert sorted(
        r["id"] for r in spark.read.parquet(str(tmp_path / "out" / "all")).collect()
    ) == [1, 2, 4]


@pytest.mark.parametrize("query", ["regex_parse_groups", "grok_parse_groups"])
def test_regex_queries_call_the_kernel_once(spark, tmp_path, query):
    import datetime

    import __spark_entry__ as entry_mod

    spark.createDataFrame(
        [(1, 7, "click", datetime.datetime(2024, 1, 1))],
        "event_id long, user_id long, event_type string, ts timestamp",
    ).write.parquet(str(tmp_path / "events.parquet"))
    plan = plan_of(entry_mod.queries()[query](spark, str(tmp_path)))
    assert plan.count("parse(") == 1


def test_ann_index_paths_are_python_free(spark, tmp_path):
    """The ANN increment, frozen search, IVF+PQ and embedding-dedup plans
    (with and without the hot-bucket split) assign with the Catalyst dot:
    no Python boundary (the dedup plan's per-bucket numpy kernel is a
    grouped map, not an EvalPython)."""
    from go_log_forwarder_spark.functions import similarity as sim
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    written = []

    class RecordingStore(ParquetSnapshotStore):
        def append(self, df, table, *args, **kwargs):
            written.append(plan_of(df))
            return super().append(df, table, *args, **kwargs)

    emb = spark.createDataFrame(
        [(i, [float((i * 3) % 11), float(i % 5), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter(F.col("vec_id") < 3)
    store = RecordingStore(str(tmp_path))
    sim.ann_index_train(store, emb, k=4, iters=1)
    sim.ann_index_assign_increment(spark, store, emb)
    increment = written[-1]
    assert "centroid" in increment and "EvalPython" not in increment
    assert "EvalPython" not in plan_of(sim.ann_frozen_topk(spark, store, queries, k=3))
    assert "EvalPython" not in plan_of(
        sim.ivfpq_topk(emb, queries, topk=3, nprobe=2, kc=2, S=3, k=2)
    )
    for split_cap in (None, 8):
        dedup = plan_of(sim.bucketed_cosine_pairs(emb, 900000, k=4, split_cap=split_cap))
        assert "FlatMapGroupsInPandas" in dedup and "EvalPython" not in dedup
