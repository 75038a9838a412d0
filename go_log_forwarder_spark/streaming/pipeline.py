"""Structured Streaming variant of the pipeline (SURVEY §2.9, §7.2-M9).

The reference is a continuous system with micro-batching (flush at >=100
events or 1 s — engine.go:81-83,121-131) and no event-time semantics. The
Spark mapping:

- file/socket source -> ``readStream`` (the file source does discovery +
  offset tracking natively, subsuming tail's stat-loop/inode bookkeeping,
  tail.go:201-325);
- the 1 s flush ticker -> ``trigger(processingTime="1 second")``;
- the fan-out -> the EXACT batch pipeline function (one code path for
  batch and streaming — this is the design point) plus the routing,
  planned ONCE on the stream when the query starts; ``foreachBatch`` then
  writes each micro-batch in one job to a staging directory partitioned
  by sink and publishes each sink's part to ``<out>/<sink>/batch=<id>``
  by rename (a copy on object stores). A sink with no rows in a batch
  gets no directory for it;
- resume -> the streaming checkpoint dir (offset log + commits), the
  SQLite-offset analog (repository.go:50-120) with exactly-once sinks.

Beyond the reference (north-rule extensions, documented as such): windowed
per-sink counts with watermarked event time are available via
``windowed_counts`` for late-data-tolerant aggregation.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.routing import SinkSpec, route_exploded


def stream_events(
    spark: SparkSession,
    input_dir: str,
    schema,
    fmt: str = "parquet",
) -> DataFrame:
    """File-source stream: discovery + offsets handled by Spark (S1)."""
    return spark.readStream.format(fmt).schema(schema).load(input_dir)


def run_foreach_batch(
    stream_df: DataFrame,
    pipeline_fn: Callable[[DataFrame], DataFrame],
    sinks: list[SinkSpec],
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 1,
    tag_col: str = "tag",
    shed_per_source: int | None = None,
):
    """engine.go:137-143 fan-out per micro-batch: every event reaches every
    sink whose tag pattern it matches, landing at
    ``<out_dir>/<sink>/batch=<id>``.

    ``pipeline_fn`` must be a stateless transform that is legal on a
    stream (parsers, filters, projections, static-table joins). It and the
    routing are applied to ``stream_df`` ONCE, when the query starts, so a
    micro-batch costs no Python-side planning. ``shed_per_source`` opts
    into :func:`shed_load` BEFORE the pipeline (the reference sheds at the
    input edge, tcp.go:199-205); its ``row_number`` window is not legal on
    a streaming plan, so on that path shed -> pipeline -> route run inside
    the batch body instead.

    Each micro-batch is ONE write job (see :func:`_write_and_publish`):
    routed rows land partitioned by sink in ``<out_dir>/_staging``, then
    each sink's partition is renamed into place. A sink that gets no rows
    in a batch gets no ``batch=<id>`` directory.

    Exactly-once: the checkpoint commit log plus an idempotent publish —
    a replayed batch id rewrites its staging directory, then deletes and
    re-publishes every sink's ``batch=<id>`` directory, including one that
    got no rows this time."""

    def route(df: DataFrame) -> DataFrame:
        return route_exploded(pipeline_fn(df), sinks, tag_col, by_index=True)

    if shed_per_source is None:
        planned = route(stream_df)

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            _write_and_publish(batch_df, batch_id, sinks, out_dir)

    else:
        planned = stream_df

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            shed = shed_load(batch_df, max_per_source=shed_per_source)
            _write_and_publish(route(shed), batch_id, sinks, out_dir)

    return (
        planned.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def _write_and_publish(
    routed: DataFrame, batch_id: int, sinks: list[SinkSpec], out_dir: str
) -> None:
    """Write one routed micro-batch in one job, partitioned by sink index
    (so no sink name is ever path-escaped) under
    ``<out_dir>/_staging/batch=<id>``, then publish each sink's partition
    to ``<out_dir>/<sink>/batch=<id>`` with a Hadoop-FileSystem delete +
    rename. Every sink's target is deleted first, so a replay never leaves
    a stale directory behind. The rename is a metadata operation on HDFS
    and local disk; on object stores (s3a, gs, abfs without HNS) it is a
    copy."""
    staging = os.path.join(out_dir, "_staging", f"batch={batch_id}")
    routed.write.mode("overwrite").partitionBy("sink").parquet(staging)
    spark = routed.sparkSession
    path = spark._jvm.org.apache.hadoop.fs.Path
    fs = path(out_dir).getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    for i, s in enumerate(sinks):
        dst = path(os.path.join(out_dir, s.name, f"batch={batch_id}"))
        fs.delete(dst, True)
        src = path(staging, f"sink={i}")
        if fs.exists(src):
            fs.mkdirs(dst.getParent())
            if not fs.rename(src, dst):
                raise OSError(f"could not publish {src} to {dst}")
    fs.delete(path(staging), True)


def shed_load(
    df: DataFrame,
    max_per_source: int = 300,
    source_col: str = "source",
    order_cols: tuple[str, ...] = ("line_num",),
) -> DataFrame:
    """Load shedding (tcp.go:199-205 drop-when-full; tail.go:95,208-213
    300-deep file-event queue) as a DETERMINISTIC per-micro-batch operator:
    each source keeps its first ``max_per_source`` events in arrival order
    (``order_cols``); overflow is dropped. Shed counts, when wanted, are
    ``df.groupBy(source).count()`` minus the survivors' — never a marker
    column, which would force the full window to materialize.

    Deliberately stronger than the reference: its shedding depends on racy
    channel occupancy (which events drop is timing-dependent), while this
    policy is a pure function of the batch — same inputs, same survivors,
    on any cluster. Plans as WindowGroupLimit (per-partition top-n BEFORE
    the shuffle), so a hot source never serializes its whole backlog
    through one task. Opt-in: pass ``shed_per_source`` to
    :func:`run_foreach_batch`; the default pipeline — like the gated
    queries — does not shed."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(source_col).orderBy(
        *[F.col(c) for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_source)
        .drop("_rn")
    )


def stream_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    time_col: str = "ingest_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state (training-data ingestion
    extension; the reference has no dedup): duplicates from at-least-once
    upstreams (retried posts, replayed chunks) are dropped while each key
    is retained in state only until the watermark passes it —
    ``dropDuplicates`` alone would grow state forever at 10^12-event scale.
    Exact-once output for duplicates arriving within the watermark window;
    later replays are a documented upstream-SLA violation."""
    return stream_df.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def windowed_counts(
    stream_df: DataFrame,
    sinks: list[SinkSpec],
    time_col: str = "event_time",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    tag_col: str = "tag",
) -> DataFrame:
    """Watermarked tumbling-window per-sink counts (north-rule extension;
    the reference has no event-time windows — SURVEY §2.9)."""
    routed = route_exploded(
        stream_df.withWatermark(time_col, watermark), sinks, tag_col
    )
    return routed.groupBy(
        F.window(F.col(time_col), window).alias("win"),
        F.col("sink").alias("sink_name"),
    ).agg(F.count(F.lit(1)).alias("n"))


def _replay_or_raise(store, table: str, sid: int, consumer: str) -> None:
    """Classify an explicit-id append collision (self-review r6): benign
    only when the committed snapshot carries OUR provenance stamp (the
    crashed run's own commit, redelivered by Spark). A snapshot under this
    id stamped by someone else — or unstamped (a batch bootstrap append
    that shifted the id space) — means the store is mis-seeded and
    swallowing it would silently drop this micro-batch's contribution from
    the index forever."""
    prov = store.manifest_meta(table, sid)
    if prov.get("consumer") == consumer and prov.get("batch_id") == sid:
        return  # my own replayed commit
    raise ValueError(
        f"snapshot {sid} of {table!r} was committed by"
        f" {prov or 'an unstamped (non-streaming) writer'}, not by"
        f" consumer {consumer!r} — the snapshot-id space is mis-seeded"
        " (e.g. batch bootstrap appends interleaved with this stream);"
        " start the stream on a dedicated store/table or align ids"
    )


def incremental_lsh_batch_fn(
    spark: SparkSession,
    store,
    corpus_dir: str,
    pairs_dir: str,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    consumer: str = "lsh_stream",
):
    """foreachBatch body wiring the persisted LSH dedup index into the
    stream (VERDICT r5 item 3) with the same exactly-once discipline as the
    batch lineage: micro-batch id N commits snapshot id N+1, so Spark's
    crash-replay of an uncommitted micro-batch hits the store's explicit-id
    replay guard (``ValueError``) instead of double-appending — the batch
    is never re-signatured; its bands are already parquet on disk.

    Per micro-batch, in crash-safe order:

    1. land the batch into the corpus lake (``batch=<sid>`` dir, overwrite
       -> idempotent on replay) — the verify side joins candidate ids back
       to text here;
    2. append the batch's MinHash bands as snapshot <sid> (skipped with a
       warning-free pass on replay — already committed);
    3. emit near-dup pairs involving the batch (new x old + new x new) from
       the INDEX (bands read back, never recomputed) to
       ``pairs/batch=<sid>`` (overwrite -> idempotent);
    4. release read leases (the quiescent point — a concurrent
       ``compact()`` may fold snapshots between batches, never during) and
       advance the store checkpoint, which FENCES compaction from folding
       snapshots this consumer hasn't processed.

    The union of every batch's pair output equals the full-corpus
    ``minhash_lsh_dedup`` relation exactly (old x old pairs were emitted by
    earlier batches) — pinned across a stream restart by
    ``test_stream_incremental_lsh_crash_resume``."""
    from ..functions import dedup as dd

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sid = batch_id + 1
        batch_df.select(id_col, text_col).write.mode("overwrite").parquet(
            os.path.join(corpus_dir, f"batch={sid}")
        )
        try:
            dd.lsh_index_increment(
                store, batch_df, text_col, id_col, snapshot_id=sid,
                meta={"consumer": consumer, "batch_id": sid},
            )
        except ValueError:
            # replayed micro-batch (bands committed by the crashed run) —
            # or a mis-seeded id space, which must stay loud
            _replay_or_raise(store, dd.LSH_INDEX_TABLE, sid, consumer)
        spark.catalog.refreshByPath(corpus_dir)
        corpus = spark.read.parquet(corpus_dir)
        pairs = dd.lsh_incremental_pairs(
            spark, store, corpus, sid, threshold, text_col, id_col
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch={sid}")
        )
        store.release_leases(dd.LSH_INDEX_TABLE)
        store.set_checkpoint(dd.LSH_INDEX_TABLE, consumer, sid)

    return process


def incremental_span_batch_fn(
    spark: SparkSession,
    store,
    spans_dir: str,
    n: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    consumer: str = "span_stream",
):
    """foreachBatch body for the streaming substring-span index — same
    exactly-once shape as :func:`incremental_lsh_batch_fn`: snapshot id =
    micro-batch id + 1 (replay hits the explicit-id guard, the batch is
    never re-shingled into the count index), spans of the batch under
    FULL-corpus counts written to ``spans/batch=<sid>`` (overwrite ->
    idempotent). Only the batch's own text is shingled on the read side;
    history arrives as (h, n_occ) count partials off the store."""
    from ..functions import dedup as dd

    if n is None:
        n = dd.SPAN_NGRAM

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sid = batch_id + 1
        try:
            dd.span_index_increment(
                store, batch_df, n, text_col, id_col, snapshot_id=sid,
                meta={"consumer": consumer, "batch_id": sid},
            )
        except ValueError:
            _replay_or_raise(store, dd.SPAN_INDEX_TABLE, sid, consumer)
        spans = dd.span_incremental_spans(spark, store, batch_df, n, text_col, id_col)
        spans.write.mode("overwrite").parquet(os.path.join(spans_dir, f"batch={sid}"))
        store.release_leases(dd.SPAN_INDEX_TABLE)
        store.set_checkpoint(dd.SPAN_INDEX_TABLE, consumer, sid)

    return process


def run_incremental_dedup_stream(
    stream_df: DataFrame,
    batch_fn,
    checkpoint_dir: str,
    trigger_seconds: int = 1,
):
    """Start a stream whose micro-batches maintain a persisted dedup index
    (:func:`incremental_lsh_batch_fn` / :func:`incremental_span_batch_fn`).
    Exactly-once end to end: Spark's checkpoint replays at-most the last
    uncommitted micro-batch; every side effect inside the batch fn is
    either guarded by the store's explicit-id commit or an idempotent
    ``batch=<sid>`` overwrite."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def incremental_ann_batch_fn(
    spark: SparkSession,
    store,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    consumer: str = "ann_stream",
    pairs_dir: str | None = None,
    pair_threshold: float = 0.92,
):
    """foreachBatch body maintaining the PERSISTED ANN index from a vector
    stream — the ANN sibling of :func:`incremental_lsh_batch_fn`, same
    exactly-once discipline: micro-batch id N commits postings snapshot
    N+1 (a crash-replayed batch hits the store's explicit-id guard and is
    never re-assigned), each batch assigned against the FROZEN centroids
    (``ann_index_train`` must have committed them first; train-once is the
    operating model — IVF centroids are not drifted per batch). Postings
    land centroid-partitioned, so queries via ``ann_frozen_topk`` prune to
    their probed buckets no matter how many stream batches accumulated;
    ``store.compact(..., partition_by=["centroid"])`` folds the small
    per-batch files at any quiescent point between batches."""
    from ..functions import similarity as sim

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sid = batch_id + 1
        cents = store.read(spark, sim.ANN_CENTROIDS_TABLE)
        if cents is None:
            raise ValueError(
                f"no trained quantizer committed to {sim.ANN_CENTROIDS_TABLE}"
                " — run ann_index_train before starting the stream"
            )
        assigned = sim.ivf_assign(batch_df, id_col, vec_col, centroids=cents)
        try:
            store.append(
                assigned.select("id", "v", "norm2", "centroid"),
                sim.ANN_POSTINGS_TABLE,
                snapshot_id=sid,
                partition_by=["centroid"],
                meta={"consumer": consumer, "batch_id": sid},
            )
        except ValueError:
            _replay_or_raise(store, sim.ANN_POSTINGS_TABLE, sid, consumer)
        if pairs_dir is not None:
            # full streaming embedding-dedup: near-dup pairs involving this
            # batch, off the persisted index (new x old + new x new bucket
            # join; old x old pairs were emitted by earlier batches), to an
            # idempotent batch= overwrite — union-of-batches == the
            # one-shot bucket-pair relation under the frozen centroids
            sim.embedding_incremental_pairs(
                spark, store, sid, threshold=pair_threshold
            ).write.mode("overwrite").parquet(os.path.join(pairs_dir, f"batch={sid}"))
        store.release_leases()
        store.set_checkpoint(sim.ANN_POSTINGS_TABLE, consumer, sid)

    return process
