"""Streaming variant: foreachBatch fan-out reusing the batch pipeline;
checkpointed restart processes only new files (exactly-once)."""

import datetime
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from go_log_forwarder_spark.functions.filters import GrepFilter
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain
from go_log_forwarder_spark.operators.routing import SinkSpec
from go_log_forwarder_spark.streaming.pipeline import run_foreach_batch, stream_events

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("raw", T.StringType()),
        T.StructField("tag", T.StringType()),
        T.StructField("ingest_time", T.TimestampType()),
    ]
)

SINKS = [SinkSpec("all", "*"), SinkSpec("err", "evt-err*")]


def _mk_batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id",
        F.concat(F.lit('{"k":'), F.col("id").cast("string"), F.lit("}")).alias("raw"),
        F.when(F.col("id") % 3 == 0, F.lit("evt-error")).otherwise(F.lit("evt-ok")).alias("tag"),
        F.lit(datetime.datetime(2024, 1, 1)).alias("ingest_time"),
    )


def _pipeline(df):
    parsed = ParserChain([JsonParser()]).apply(df)
    return GrepFilter(op="and", include=('"k":[0-9]+}',)).apply(parsed)


def test_stream_fanout_and_restart(spark, tmp_path):
    indir = str(tmp_path / "in")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _mk_batch(spark, 0, 50).coalesce(1).write.mode("append").parquet(indir)

    q = run_foreach_batch(
        stream_events(spark, indir, SCHEMA), _pipeline, SINKS, outdir, ckpt
    )
    q.processAllAvailable()
    q.stop()
    all1 = spark.read.parquet(f"{outdir}/all").count()
    err1 = spark.read.parquet(f"{outdir}/err").count()
    assert all1 == 50
    assert err1 == len([i for i in range(50) if i % 3 == 0])

    # more files arrive; restart from checkpoint -> only new data processed
    _mk_batch(spark, 50, 80).coalesce(1).write.mode("append").parquet(indir)
    q2 = run_foreach_batch(
        stream_events(spark, indir, SCHEMA), _pipeline, SINKS, outdir, ckpt
    )
    q2.processAllAvailable()
    q2.stop()
    ids = sorted(r["id"] for r in spark.read.parquet(f"{outdir}/all").select("id").collect())
    assert ids == list(range(80))  # no dup, no loss across restart


def _one_file_per_batch(spark, indir, ranges=()):
    """Write one parquet file per (lo, hi) id range, then stream every file
    in ``indir`` back one file per micro-batch."""
    for lo, hi in ranges:
        _mk_batch(spark, lo, hi).coalesce(1).write.mode("append").parquet(indir)
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(indir)


def _drain(stream_df, sinks, outdir, ckpt):
    q = run_foreach_batch(stream_df, _pipeline, sinks, outdir, ckpt)
    try:
        q.processAllAvailable()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()


def _sink_ids(spark, path):
    return sorted(r["id"] for r in spark.read.parquet(path).select("id").collect())


def test_stream_replayed_batch_is_published_once(spark, tmp_path):
    """A batch whose commit is lost is replayed on restart: it rewrites its
    staging dir and re-publishes every sink, so no id lands twice."""
    indir, outdir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
    ranges = [(0, 30), (30, 60)]
    assert len(_drain(_one_file_per_batch(spark, indir, ranges), SINKS, outdir, ckpt)) == 2
    commits = os.path.join(ckpt, "commits")
    newest = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(newest), f".{newest}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))

    replayed = _drain(_one_file_per_batch(spark, indir), SINKS, outdir, ckpt)
    assert [p["batchId"] for p in replayed] == [newest]
    assert _sink_ids(spark, f"{outdir}/all") == list(range(60))
    assert _sink_ids(spark, f"{outdir}/err") == [i for i in range(60) if i % 3 == 0]
    assert not os.path.exists(os.path.join(outdir, "_staging", f"batch={newest}"))


def test_stream_sink_without_rows_gets_no_batch_dir(spark, tmp_path):
    """A sink that matches nothing in a micro-batch is not published for it;
    q_stream_route_counts reads a missing sink as 0 rows."""
    outdir = str(tmp_path / "out")
    sinks = SINKS + [SinkSpec("none", "no-such-tag")]
    # one batch has ids divisible by 3 (err rows), the other ({1, 2}) none
    stream = _one_file_per_batch(spark, str(tmp_path / "in"), [(0, 6), (1, 3)])
    _drain(stream, sinks, outdir, str(tmp_path / "ckpt"))
    assert sorted(os.listdir(f"{outdir}/all")) == ["batch=0", "batch=1"]
    assert len(os.listdir(f"{outdir}/err")) == 1
    assert not os.path.exists(f"{outdir}/none")


def test_stream_sink_name_is_not_path_escaped(spark, tmp_path):
    """Staging partitions by sink index, so a name Spark would escape in a
    partition path still lands verbatim at <out>/<sink>/batch=<id>."""
    outdir = str(tmp_path / "out")
    sinks = [SinkSpec("web=1", "*"), SinkSpec("a b%", "evt-err*")]
    stream = _one_file_per_batch(spark, str(tmp_path / "in"), [(0, 9)])
    _drain(stream, sinks, outdir, str(tmp_path / "ckpt"))
    assert _sink_ids(spark, f"{outdir}/web=1/batch=0") == list(range(9))
    assert _sink_ids(spark, f"{outdir}/a b%/batch=0") == [0, 3, 6]


def test_stream_one_job_per_micro_batch(spark, tmp_path):
    """Every sink of a non-empty micro-batch is written by ONE Spark job.
    Job ids are sequential, so the jobs run between two probe jobs are
    exactly the drain's."""
    sc = spark.sparkContext

    def probe_ids():
        sc.setJobGroup("glfs-job-probe", "job-count probe")
        try:
            spark.range(1).collect()
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(prop, None)
        return set(sc.statusTracker().getJobIdsForGroup("glfs-job-probe"))

    stream = _one_file_per_batch(spark, str(tmp_path / "in"), [(0, 20), (20, 40), (40, 60)])
    before = probe_ids()
    batches = _drain(stream, SINKS, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    after = probe_ids() - before
    assert len(batches) == 3
    assert min(after) - max(before) - 1 == len(batches)


def test_running_counter_stateful(spark, tmp_path):
    """counter.go's monotone per-key count across micro-batches via
    applyInPandasWithState: totals accumulate, per-batch rows reported."""
    from go_log_forwarder_spark.streaming.stateful import running_counter

    indir = str(tmp_path / "sin")
    ckpt = str(tmp_path / "sckpt")
    out = str(tmp_path / "sout")
    _mk_batch(spark, 0, 30).coalesce(1).write.mode("append").parquet(indir)

    def start():
        # memory sink can't recover from a checkpoint; foreachBatch can
        return (
            running_counter(
                spark.readStream.schema(SCHEMA).parquet(indir), key_col="tag"
            )
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    first = {
        r["key"]: r["running_total"] for r in spark.read.parquet(out).collect()
    }
    n_err1 = len([i for i in range(30) if i % 3 == 0])
    assert first == {"evt-error": n_err1, "evt-ok": 30 - n_err1}

    # second batch arrives; restart from checkpoint -> totals CONTINUE
    _mk_batch(spark, 30, 80).coalesce(1).write.mode("append").parquet(indir)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    totals: dict = {}
    for r in spark.read.parquet(out).collect():
        totals[r["key"]] = max(totals.get(r["key"], 0), r["running_total"])
    n_err_all = len([i for i in range(80) if i % 3 == 0])
    assert totals == {"evt-error": n_err_all, "evt-ok": 80 - n_err_all}


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate events (at-least-once upstream) are dropped with bounded
    state: one output row per key despite replays within the watermark."""
    from go_log_forwarder_spark.streaming.pipeline import stream_dedup

    indir = str(tmp_path / "din")
    outdir = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    base = _mk_batch(spark, 0, 30)
    dup = _mk_batch(spark, 10, 30)  # 20 replayed events
    base.unionByName(dup).coalesce(1).write.mode("append").parquet(indir)

    deduped = stream_dedup(stream_events(spark, indir, SCHEMA), ["id"])
    q = (
        deduped.writeStream.format("parquet")
        .option("path", outdir)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r["id"] for r in spark.read.parquet(outdir).select("id").collect())
    assert ids == list(range(30))  # each key exactly once


def test_windowed_counts_streaming_with_watermark(spark, tmp_path):
    """Event-time tumbling windows over a stream: counts land in the right
    window per sink; watermark keeps state bounded (append mode emits only
    finalized windows after later data advances the clock)."""
    from go_log_forwarder_spark.streaming.pipeline import windowed_counts

    indir = str(tmp_path / "win")
    base = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (i, "{}", "evt-error" if i % 2 == 0 else "evt-ok", base + datetime.timedelta(seconds=30 * i))
        for i in range(8)  # spans two 1-minute windows per tag
    ]
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(indir)
    stream = stream_events(spark, indir, SCHEMA).withColumnRenamed("ingest_time", "event_time")
    agg = windowed_counts(stream, SINKS, time_col="event_time", window="1 minute")
    q = agg.writeStream.format("memory").queryName("win_counts").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    out = {
        (r["win"]["start"].minute, r["sink_name"]): r["n"]
        for r in spark.sql("select * from win_counts").collect()
    }
    # ids 0..7 at :30s spacing -> minutes 0 (ids 0-1), 1 (2-3), 2 (4-5), 3 (6-7)
    assert out[(0, "all")] == 2 and out[(1, "all")] == 2
    assert out[(0, "err")] == 1  # id 0 only (id 1 is evt-ok)
    assert sum(n for (m, s), n in out.items() if s == "all") == 8


def test_tail_stream_trims_and_skips(spark, tmp_path):
    from go_log_forwarder_spark.sources.tail import tail_stream

    d = tmp_path / "taildir"
    d.mkdir()
    (d / "a.log").write_text("one\r\n  \r\n three \nfour")
    q = (
        tail_stream(spark, str(d), tag="t1")
        .writeStream.format("memory")
        .queryName("tail_rows")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = [r["raw"] for r in spark.sql("select raw from tail_rows").collect()]
    assert sorted(rows) == ["four", "one", "three"]  # CRLF trimmed, blank skipped


def test_stream_sessionize_stateful(spark, tmp_path):
    """Sessions merge ACROSS micro-batches, close when a later event opens
    the next session, and finalize via event-time timeout when the
    watermark passes session end + gap."""
    from pyspark.sql import types as T

    from go_log_forwarder_spark.streaming.stateful import stream_sessionize

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_time", T.TimestampType()),
        ]
    )
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def mk(rows):
        return spark.createDataFrame(
            [(u, base + datetime.timedelta(seconds=s)) for u, s in rows], schema
        )

    indir = str(tmp_path / "sess_in")
    ckpt = str(tmp_path / "sess_ckpt")
    # batch 1: user 1 has two events 10s apart (one open session)
    mk([(1, 0), (1, 10)]).coalesce(1).write.mode("append").parquet(indir)

    stream = spark.readStream.schema(schema).parquet(indir)
    q = (
        stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("select * from sessions").count() == 0  # still open

    # batch 2: user 1 returns 1h later -> first session closes (gap split
    # across BATCHES), second session opens
    mk([(1, 3600)]).coalesce(1).write.mode("append").parquet(indir)
    q.processAllAvailable()
    rows = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    }
    us = 1_000_000
    t0 = int(base.timestamp()) * us
    assert rows == {(1, t0, t0 + 10 * us, 2)}

    # batch 3: a far-future event from user 2 advances the watermark past
    # user 1's open session end + gap -> it finalizes via timeout
    mk([(2, 3600 * 4)]).coalesce(1).write.mode("append").parquet(indir)
    q.processAllAvailable()
    # one more batch so the new watermark is applied to timeouts
    mk([(2, 3600 * 4 + 1)]).coalesce(1).write.mode("append").parquet(indir)
    q.processAllAvailable()
    q.stop()
    rows = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.sql("select * from sessions").collect()
    }
    assert (1, t0 + 3600 * us, t0 + 3600 * us, 1) in rows  # timed out


def test_shed_load_deterministic_and_bounded(spark):
    # tcp.go:199-205 / tail.go queue-depth analog: first N per source in
    # arrival order survive; overflow marked; pure function of the batch
    from go_log_forwarder_spark.streaming.pipeline import shed_load

    df = spark.createDataFrame(
        [(f"s{i % 3}", i // 3 + 1, f"e{i}") for i in range(30)],
        "source string, line_num long, raw string",
    )
    kept = shed_load(df, max_per_source=4)
    assert kept.count() == 12
    per_src = {
        r["source"]: sorted(r["lines"])
        for r in kept.groupBy("source").agg(
            F.collect_list("line_num").alias("lines")
        ).collect()
    }
    assert all(v == [1, 2, 3, 4] for v in per_src.values())
    # deterministic: re-evaluation yields the identical survivor set
    again = shed_load(df, max_per_source=4)
    assert sorted(r["raw"] for r in again.collect()) == sorted(
        r["raw"] for r in kept.collect()
    )
    # plans as WindowGroupLimit (per-partition top-n before the shuffle)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_stream_shed_per_source_wiring(spark, tmp_path):
    # run_foreach_batch(shed_per_source=N) applies the deterministic quota
    # at the input edge of every micro-batch (tcp.go:199-205 placement)
    schema = T.StructType(
        SCHEMA.fields
        + [
            T.StructField("source", T.StringType()),
            T.StructField("line_num", T.LongType()),
        ]
    )
    indir = str(tmp_path / "in")
    batch = _mk_batch(spark, 0, 40).select(
        "*",
        F.when(F.col("id") % 2 == 0, F.lit("srcA")).otherwise(F.lit("srcB")).alias("source"),
        (F.col("id") / 2 + 1).cast("long").alias("line_num"),
    )
    batch.coalesce(1).write.mode("append").parquet(indir)
    q = run_foreach_batch(
        stream_events(spark, indir, schema), _pipeline, SINKS,
        str(tmp_path / "out"), str(tmp_path / "ckpt"), shed_per_source=5,
    )
    q.processAllAvailable()
    q.stop()
    kept = spark.read.parquet(str(tmp_path / "out" / "all"))
    assert kept.count() == 10  # 5 per source
    per_src = {
        r["source"]: sorted(r["l"])
        for r in kept.groupBy("source").agg(F.collect_list("line_num").alias("l")).collect()
    }
    assert all(v == [1, 2, 3, 4, 5] for v in per_src.values())


def test_stream_media_features_match_batch(spark, tmp_path):
    """Multimodal ingestion under Structured Streaming: extract_features
    is stateless, so running it inside a readStream micro-batch must
    yield EXACTLY the batch result (every decoded field incl. the PCM
    signal features and the flagged bit-packed row) — pins that the
    Arrow decode kernels work per micro-batch with binary columns."""
    from go_log_forwarder_spark.functions import multimodal as mm

    indir = tmp_path / "media_in"
    media = mm.synth_media(spark, 120).drop("meta")
    media.write.mode("overwrite").parquet(str(indir))

    batch = {
        r["media_id"]: tuple(r) for r in mm.extract_features(media).collect()
    }
    q = (
        mm.extract_features(
            spark.readStream.schema(
                "media_id long, kind string, content binary"
            ).parquet(str(indir))
        )
        .writeStream.format("memory")
        .queryName("media_feats")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    streamed = {
        r["media_id"]: tuple(r)
        for r in spark.sql("select * from media_feats").collect()
    }
    assert streamed == batch
    assert len(streamed) == 120
    assert not streamed[102][3]  # the flagged bit-packed row survives


DEDUP_DOCS_B1 = [
    (0, "the cat sat on the mat while the dog slept by the door"),
    (1, "the cat sat on the mat while the dog slept by the fire"),
    (2, "completely unrelated text about distributed query engines"),
]
DEDUP_DOCS_B2 = [
    (3, "the cat sat on the mat while the dog slept by the door"),  # dup of 0
    (4, "another singleton document with its own private words"),
    (5, "the cat sat on the mat while the dog slept by the fire today"),
]
DOCS_SCHEMA = "doc_id long, text string"


def test_stream_incremental_lsh_crash_resume(spark, tmp_path):
    # VERDICT r5 item 3: the persisted LSH dedup index maintained from
    # foreachBatch with exactly-once lineage. Across a checkpointed stream
    # restart: (a) each micro-batch appended EXACTLY one snapshot carrying
    # only its own bands (no re-signature, no double-append), (b) a
    # simulated crash-replay of the last micro-batch (redelivered batch id)
    # leaves the index unchanged, and (c) the union of per-batch pair
    # outputs equals the full-corpus recompute exactly.
    from go_log_forwarder_spark.functions import dedup as dd
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore
    from go_log_forwarder_spark.streaming.pipeline import (
        incremental_lsh_batch_fn,
        run_incremental_dedup_stream,
    )

    indir = str(tmp_path / "in")
    corpus_dir = str(tmp_path / "corpus")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    store = ParquetSnapshotStore(str(tmp_path / "idx"))
    seen_batch_ids: list[int] = []
    inner = incremental_lsh_batch_fn(spark, store, corpus_dir, pairs_dir, threshold=0.5)

    def fn(batch_df, batch_id):
        seen_batch_ids.append(batch_id)
        inner(batch_df, batch_id)

    b1 = spark.createDataFrame(DEDUP_DOCS_B1, DOCS_SCHEMA)
    b2 = spark.createDataFrame(DEDUP_DOCS_B2, DOCS_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(indir)

    q = run_incremental_dedup_stream(
        stream_events(spark, indir, b1.schema), fn, ckpt
    )
    q.processAllAvailable()
    q.stop()
    snaps1 = store.snapshots(dd.LSH_INDEX_TABLE)
    assert len(snaps1) == len(set(seen_batch_ids)) == 1

    # crash/stop, new data arrives, restart from the Spark checkpoint
    b2.coalesce(1).write.mode("append").parquet(indir)
    q2 = run_incremental_dedup_stream(
        stream_events(spark, indir, b1.schema), fn, ckpt
    )
    q2.processAllAvailable()
    q2.stop()
    snaps = store.snapshots(dd.LSH_INDEX_TABLE)
    assert len(snaps) == len(set(seen_batch_ids)) == 2
    # the restart batch appended ONLY its own bands: nothing re-signatured
    assert (
        store.read(spark, dd.LSH_INDEX_TABLE, after_snapshot=snaps[0], lease=False).count()
        == dd.N_BANDS * len(DEDUP_DOCS_B2)
    )
    assert (
        store.read(spark, dd.LSH_INDEX_TABLE, lease=False).count()
        == dd.N_BANDS * (len(DEDUP_DOCS_B1) + len(DEDUP_DOCS_B2))
    )

    # simulated crash BETWEEN index commit and the Spark checkpoint commit:
    # the engine redelivers the same micro-batch id; the explicit-id guard
    # must skip the append (index unchanged) while the idempotent batch=
    # overwrites reproduce the same outputs
    before = store.read(spark, dd.LSH_INDEX_TABLE, lease=False).count()
    fn(b2, seen_batch_ids[-1])
    assert store.snapshots(dd.LSH_INDEX_TABLE) == snaps
    assert store.read(spark, dd.LSH_INDEX_TABLE, lease=False).count() == before

    # union of per-batch pair outputs == full-corpus recompute, exactly
    got = {
        (r["id_a"], r["id_b"], r["jaccard_micro"])
        for r in spark.read.parquet(pairs_dir).collect()
    }
    full = spark.createDataFrame(DEDUP_DOCS_B1 + DEDUP_DOCS_B2, DOCS_SCHEMA)
    want = {
        (r["id_a"], r["id_b"], r["jaccard_micro"])
        for r in dd.minhash_lsh_dedup(full, threshold=0.5).collect()
    }
    assert got == want and len(want) > 0
    # the store checkpoint advanced to the newest snapshot: compaction is
    # un-fenced at this quiescent point and folds the index to one snapshot
    assert store.checkpoints(dd.LSH_INDEX_TABLE)["lsh_stream"] == snaps[-1]
    assert store.compact(spark, dd.LSH_INDEX_TABLE) is not None


def test_stream_incremental_span_crash_resume(spark, tmp_path):
    # span-index sibling of the LSH streaming test: snapshot-per-batch
    # exactly-once, replay guard, and batch spans under FULL-corpus counts
    # equal to the full recompute restricted to the batch docs.
    from go_log_forwarder_spark.functions import dedup as dd
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore
    from go_log_forwarder_spark.streaming.pipeline import (
        incremental_span_batch_fn,
        run_incremental_dedup_stream,
    )

    indir = str(tmp_path / "in")
    spans_dir = str(tmp_path / "spans")
    ckpt = str(tmp_path / "ckpt")
    store = ParquetSnapshotStore(str(tmp_path / "idx"))
    seen: list[int] = []
    inner = incremental_span_batch_fn(spark, store, spans_dir, n=3)

    def fn(batch_df, batch_id):
        seen.append(batch_id)
        inner(batch_df, batch_id)

    b1 = spark.createDataFrame(DEDUP_DOCS_B1, DOCS_SCHEMA)
    b2 = spark.createDataFrame(DEDUP_DOCS_B2, DOCS_SCHEMA)
    b1.coalesce(1).write.mode("append").parquet(indir)
    q = run_incremental_dedup_stream(stream_events(spark, indir, b1.schema), fn, ckpt)
    q.processAllAvailable()
    q.stop()
    b2.coalesce(1).write.mode("append").parquet(indir)
    q2 = run_incremental_dedup_stream(stream_events(spark, indir, b1.schema), fn, ckpt)
    q2.processAllAvailable()
    q2.stop()
    snaps = store.snapshots(dd.SPAN_INDEX_TABLE)
    assert len(snaps) == len(set(seen)) == 2

    # replay guard: redelivered batch id appends nothing
    fn(b2, seen[-1])
    assert store.snapshots(dd.SPAN_INDEX_TABLE) == snaps

    # batch-2 spans (written under full-corpus counts) == full recompute
    # restricted to batch-2 docs — the cross-batch repeat (doc 3 == doc 0)
    # is caught even though its first copy lives in batch 1
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in spark.read.parquet(f"{spans_dir}/batch={snaps[-1]}").collect()
    }
    full = spark.createDataFrame(DEDUP_DOCS_B1 + DEDUP_DOCS_B2, DOCS_SCHEMA)
    want = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dd.substring_spans(full, n=3).collect()
        if r["doc_id"] in {3, 4, 5}
    }
    assert got == want and any(d == 3 for d, _, _ in got)


def test_stream_incremental_ann_crash_resume(spark, tmp_path):
    # ANN sibling of the streaming LSH test: postings snapshot-per-batch
    # against FROZEN centroids, replay guard, and frozen-index top-k over
    # the streamed postings == the batch retrain top-k on the union corpus.
    from go_log_forwarder_spark.functions import similarity as sim
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore
    from go_log_forwarder_spark.streaming.pipeline import (
        incremental_ann_batch_fn,
        run_incremental_dedup_stream,
    )

    def vecs(lo, hi):
        return [
            (i, [float(((i * 37 + d * 11) % 19) - 9) for d in range(8)])
            for i in range(lo, hi)
        ]

    schema = "vec_id long, embedding array<float>"
    emb_all = spark.createDataFrame(vecs(0, 30), schema)
    store = ParquetSnapshotStore(str(tmp_path / "idx"))
    # train-once on the seed corpus, BEFORE the stream starts
    sim.ann_index_train(store, emb_all, k=4, iters=2)

    indir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    pairs_dir = str(tmp_path / "pairs")
    seen: list[int] = []
    inner = incremental_ann_batch_fn(spark, store, pairs_dir=pairs_dir,
                                     pair_threshold=0.5)

    def fn(batch_df, batch_id):
        seen.append(batch_id)
        inner(batch_df, batch_id)

    b1 = spark.createDataFrame(vecs(0, 15), schema)
    b2 = spark.createDataFrame(vecs(15, 30), schema)
    b1.coalesce(1).write.mode("append").parquet(indir)
    q = run_incremental_dedup_stream(stream_events(spark, indir, b1.schema), fn, ckpt)
    q.processAllAvailable()
    q.stop()
    b2.coalesce(1).write.mode("append").parquet(indir)
    q2 = run_incremental_dedup_stream(stream_events(spark, indir, b1.schema), fn, ckpt)
    q2.processAllAvailable()
    q2.stop()

    snaps = store.snapshots(sim.ANN_POSTINGS_TABLE)
    assert len(snaps) == len(set(seen)) == 2
    assert store.read(spark, sim.ANN_POSTINGS_TABLE, after_snapshot=snaps[0], lease=False).count() == 15
    assert store.read(spark, sim.ANN_POSTINGS_TABLE, lease=False).count() == 30

    # replay guard: redelivered batch id assigns nothing new
    fn(b2, seen[-1])
    assert store.snapshots(sim.ANN_POSTINGS_TABLE) == snaps
    assert store.read(spark, sim.ANN_POSTINGS_TABLE, lease=False).count() == 30

    # frozen search over the streamed postings == batch retrain on the
    # union corpus (assignment is a pure function of the frozen centroids)
    queries = emb_all.filter(F.col("vec_id") < 3)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_micro"], r["rank"])
        for r in sim.ann_frozen_topk(spark, store, queries, k=5, nprobe=2).collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_micro"], r["rank"])
        for r in sim.ivf_topk(
            emb_all, queries, k=5, nprobe=2,
            centroids=sim.kmeans_int(emb_all, k=4, iters=2),
        ).collect()
    )
    assert got == want and len(got) > 0

    # streaming embedding-dedup output: union of per-batch pair files ==
    # the one-shot bucket-pair relation over all postings (old x old pairs
    # came from batch 1's file, never re-emitted by batch 2)
    got_pairs = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in spark.read.parquet(pairs_dir).collect()
    }
    allp = store.read(spark, sim.ANN_POSTINGS_TABLE, lease=False)
    want_pairs = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.posting_cosine_pairs(allp, allp, int(0.5 * 1e6)).collect()
    }
    assert got_pairs == want_pairs and len(want_pairs) > 0

    # quiescent-point compaction folds the per-batch posting files while
    # KEEPING the centroid= layout (partition_by is the caller-owned spec)
    store.release_leases()
    assert store.compact(spark, sim.ANN_POSTINGS_TABLE, partition_by=["centroid"]) is not None
    after = sim.ann_frozen_topk(spark, store, queries, k=5, nprobe=2)
    assert any("centroid=" in f for f in after.inputFiles())
    got2 = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_micro"], r["rank"])
        for r in after.collect()
    )
    assert got2 == got
