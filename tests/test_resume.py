"""Checkpoint / lineage / resume (FIXTURES.md F8): crash after partial
lineage commit, rerun, assert no duplicates and no loss vs a clean run.
Also snapshot-store atomicity + incremental reads."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark.functions.filters import GrepFilter
from go_log_forwarder_spark.functions.parsers import JsonParser, ParserChain
from go_log_forwarder_spark.operators.routing import SinkSpec
from go_log_forwarder_spark.operators.aggregate import pipeline_metrics
from go_log_forwarder_spark.plans.lineage import ResumablePipeline
from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

SINKS = [SinkSpec("all", "*"), SinkSpec("err", "evt-err*")]


def _write_input(spark, path, n=400, files=8):
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, F.lit("{bad"))
        .otherwise(F.concat(F.lit('{"k":'), F.col("id").cast("string"), F.lit("}")))
        .alias("raw"),
        F.when(F.col("id") % 3 == 0, F.lit("evt-error")).otherwise(F.lit("evt-ok")).alias("tag"),
        F.lit(datetime.datetime(2024, 1, 1)).alias("ingest_time"),
        F.concat(F.lit("src"), (F.col("id") % 5).cast("string")).alias("source"),
    )
    df.repartition(files).write.mode("overwrite").parquet(path)


GREP = GrepFilter(op="and", include=('"k":[0-9]*[02468]}|null',))


def _pipeline_fn(df):
    return ParserChain([JsonParser()]).apply(df), GREP.keep_pred()


def _totals(spark, workdir):
    rp = ResumablePipeline(workdir, SINKS)
    out = {}
    for s in SINKS:
        df = rp.read_sink(spark, s.name)
        out[s.name] = sorted(r["id"] for r in df.select("id").collect())
    return out


# one lineage store (the JSON LineageStore); the "json" id is kept stable
_STORE = pytest.mark.parametrize("store_kind", ["json"])


@_STORE
def test_clean_vs_crash_resume(spark, tmp_path, store_kind):
    inp = str(tmp_path / "input")
    _write_input(spark, inp)

    # clean single run
    clean_dir = str(tmp_path / "clean")
    rp = ResumablePipeline(clean_dir, SINKS)
    res = rp.run(spark, inp, _pipeline_fn, run_id="r1")
    assert res["processed"] == 8 and res["skipped"] == 0

    # crashed run: lineage committed for only 3 units, then failure
    crash_dir = str(tmp_path / "crash")
    rp2 = ResumablePipeline(crash_dir, SINKS)
    with pytest.raises(RuntimeError, match="injected failure"):
        rp2.run(spark, inp, _pipeline_fn, run_id="r1", fail_after_units=3)
    assert len(rp2.lineage.committed("r1")) == 3

    # resume: only uncommitted units reprocess
    res2 = rp2.run(spark, inp, _pipeline_fn, run_id="r1")
    assert res2["skipped"] == 3 and res2["processed"] == 5

    # no dup, no loss: routed rows identical to the clean run
    assert _totals(spark, crash_dir) == _totals(spark, clean_dir)

    # third run: everything skipped, outputs unchanged
    res3 = rp2.run(spark, inp, _pipeline_fn, run_id="r1")
    assert res3["processed"] == 0
    assert _totals(spark, crash_dir) == _totals(spark, clean_dir)


def test_lineage_metrics(spark, tmp_path):
    inp = str(tmp_path / "input2")
    _write_input(spark, inp, n=100, files=4)
    wd = str(tmp_path / "wd2")
    rp = ResumablePipeline(wd, SINKS)
    rp.run(spark, inp, _pipeline_fn, run_id="m1")
    m = rp.lineage.metrics_df(spark, "m1")
    rows = m.collect()
    assert len(rows) == 4
    assert sum(r["rows_in"] for r in rows) == 100
    # every 7th row is unparsable
    assert sum(r["rows_parsed"] for r in rows) == 100 - len([i for i in range(100) if i % 7 == 0])
    for r in rows:
        assert r["status"] == "committed"
        assert 0 <= r["rows_dropped"] <= r["rows_in"]
    # per-unit lineage sums == the one accounting core keyed by source
    metrics = ["rows_in", "rows_parsed", "rows_dropped", "rows_routed"]
    parsed, keep = _pipeline_fn(spark.read.parquet(inp))
    by_source = pipeline_metrics(parsed, keep, SINKS).collect()
    assert len(by_source) == 5
    assert {c: sum(r[c] for r in rows) for c in metrics} == {
        c: sum(r[c] for r in by_source) for c in metrics
    }
    assert sum(r["rows_routed"] for r in rows) > sum(r["rows_in"] - r["rows_dropped"] for r in rows)


def test_run_leaves_session_conf(spark, tmp_path):
    # dynamic partition overwrite is a per-write option: with the session
    # at STATIC, a second batch must keep the first batch's unit partitions
    # and the session conf must be left as found
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        inp = str(tmp_path / "input5")
        _write_input(spark, inp, n=100, files=4)
        wd = str(tmp_path / "wd5")
        rp = ResumablePipeline(wd, SINKS)
        for _ in range(2):
            assert rp.run(spark, inp, _pipeline_fn, run_id="c1", max_units_per_batch=2)["processed"] == 2
        assert spark.conf.get(key) == "STATIC"
        clean = str(tmp_path / "clean5")
        ResumablePipeline(clean, SINKS).run(spark, inp, _pipeline_fn, run_id="c1")
        assert _totals(spark, wd) == _totals(spark, clean)
    finally:
        spark.conf.set(key, before)


def test_snapshot_store_atomic_and_incremental(spark, tmp_path):
    store = ParquetSnapshotStore(str(tmp_path / "store"))
    df1 = spark.range(10).select(F.col("id"))
    df2 = spark.range(10, 25).select(F.col("id"))
    s1 = store.append(df1, "t")
    s2 = store.append(df2, "t")
    assert store.snapshots("t") == [s1, s2]
    assert store.read(spark, "t").count() == 25
    # incremental read: only snapshot 2
    inc = store.read(spark, "t", after_snapshot=s1)
    assert sorted(r["id"] for r in inc.collect()) == list(range(10, 25))
    # nothing new
    assert store.read(spark, "t", after_snapshot=s2) is None
    # uncommitted data is invisible: write data dir without manifest
    df3 = spark.range(100, 101)
    df3.write.mode("overwrite").parquet(str(tmp_path / "store/t/data/snap=99"))
    assert store.read(spark, "t").count() == 25  # still 25 — not committed


def _replace_unit_smaller(spark, unit_uri, tmp_path):
    """Overwrite one committed unit file with a SMALLER valid parquet
    (same schema) — the truncation/rotation analog of tail.go:409-415."""
    import glob
    import shutil
    from urllib.parse import urlparse

    target = urlparse(unit_uri).path
    small_dir = str(tmp_path / "_small")
    spark.read.parquet(target).limit(2).coalesce(1).write.mode("overwrite").parquet(small_dir)
    part = glob.glob(small_dir + "/part-*.parquet")[0]
    assert os.path.getsize(part) < os.path.getsize(target)
    shutil.copy(part, target)
    # drop Hadoop's local-FS checksum sidecar for the replaced bytes (a
    # local-filesystem artifact; HDFS/S3 rotation has no such sidecar)
    d, base = os.path.split(target)
    crc = os.path.join(d, f".{base}.crc")
    if os.path.exists(crc):
        os.remove(crc)


@_STORE
def test_truncated_unit_reprocessed_once(spark, tmp_path, store_kind):
    # S3 truncation parity: a committed unit whose file shrank is
    # invalidated and reprocessed exactly once; its sink output is REPLACED
    # (dynamic partition overwrite), never duplicated.
    inp = str(tmp_path / "input3")
    _write_input(spark, inp, n=200, files=4)
    wd = str(tmp_path / "wd3")
    rp = ResumablePipeline(wd, SINKS)
    assert rp.run(spark, inp, _pipeline_fn, run_id="t1")["processed"] == 4

    unit = rp.list_units(spark, inp)[1]
    _replace_unit_smaller(spark, unit, tmp_path)

    res = rp.run(spark, inp, _pipeline_fn, run_id="t1")
    assert res["processed"] == 1 and res["skipped"] == 3

    # outputs equal a clean run over the CURRENT (post-truncation) input
    clean = str(tmp_path / "clean3")
    ResumablePipeline(clean, SINKS).run(spark, inp, _pipeline_fn, run_id="t1")
    assert _totals(spark, wd) == _totals(spark, clean)

    # stable afterwards: nothing reprocesses
    assert rp.run(spark, inp, _pipeline_fn, run_id="t1")["processed"] == 0


@_STORE
def test_replaced_or_grown_unit_reprocessed(spark, tmp_path, store_kind):
    # replacement detection beyond shrinks: a committed unit whose file GREW
    # (append/rotation landing a bigger file) must also invalidate — size
    # heuristics one-sided on shrink would silently never process the new
    # content. The mtime_ns record catches same-size rewrites too.
    import glob
    import shutil
    from urllib.parse import urlparse

    inp = str(tmp_path / "input4")
    _write_input(spark, inp, n=100, files=4)
    wd = str(tmp_path / "wd4")
    rp = ResumablePipeline(wd, SINKS)
    assert rp.run(spark, inp, _pipeline_fn, run_id="g1")["processed"] == 4

    # replace one unit with a BIGGER file (more rows, same schema)
    unit = rp.list_units(spark, inp)[2]
    target = urlparse(unit).path
    big_dir = str(tmp_path / "_big")
    spark.read.parquet(inp).coalesce(1).write.mode("overwrite").parquet(big_dir)
    part = glob.glob(big_dir + "/part-*.parquet")[0]
    assert os.path.getsize(part) > os.path.getsize(target)
    shutil.copy(part, target)
    crc = os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    res = rp.run(spark, inp, _pipeline_fn, run_id="g1")
    assert res["processed"] == 1 and res["skipped"] == 3
    # matches a clean run over the current input; stable afterwards
    clean = str(tmp_path / "clean4")
    ResumablePipeline(clean, SINKS).run(spark, inp, _pipeline_fn, run_id="g1")
    assert _totals(spark, wd) == _totals(spark, clean)
    assert rp.run(spark, inp, _pipeline_fn, run_id="g1")["processed"] == 0


def test_unit_size_percent_decoded(tmp_path):
    # input_file_name URIs are percent-encoded; a space in the path must not
    # stat-fail (which would silently disable the truncation reset)
    from go_log_forwarder_spark.plans.lineage import unit_mtime_ns, unit_size

    d = tmp_path / "with space"
    d.mkdir()
    p = d / "u.parquet"
    p.write_bytes(b"x" * 37)
    uri = p.as_uri()  # percent-encodes the space
    assert "%20" in uri
    assert unit_size(uri) == 37
    assert unit_mtime_ns(uri) is not None


def test_explicit_id_replay_after_midcrash_commit(spark, tmp_path):
    # The streaming wirings map micro-batch id -> explicit snapshot id. Two
    # replay shapes must both be exactly-once:
    # (a) crash BETWEEN data write and manifest commit: the data dir exists
    #     but is invisible; the replayed append with the SAME id must
    #     succeed, overwriting the partial files and committing atomically;
    # (b) crash AFTER the manifest commit: the replayed append must raise
    #     (the guard the batch fns catch) and leave the snapshot untouched.
    store = ParquetSnapshotStore(str(tmp_path / "store"))
    df = spark.range(20).select(F.col("id"))

    # (a) simulate the mid-crash: partial data files, no manifest
    partial = str(tmp_path / "store/t/data/snap=1")
    spark.range(3).select(F.col("id")).write.mode("overwrite").parquet(partial)
    assert store.read(spark, "t") is None  # invisible
    assert store.append(df, "t", snapshot_id=1) == 1  # replay heals
    assert store.read(spark, "t", lease=False).count() == 20

    # (b) committed snapshot: replay raises, data intact
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already committed"):
        store.append(spark.range(5).select(F.col("id")), "t", snapshot_id=1)
    assert store.read(spark, "t", lease=False).count() == 20

    # partitioned replay heals the same way (the ANN postings shape)
    pdf = spark.range(12).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("bucket")
    )
    partial2 = str(tmp_path / "store/p/data/snap=1")
    pdf.limit(2).write.mode("overwrite").partitionBy("bucket").parquet(partial2)
    assert store.append(pdf, "p", snapshot_id=1, partition_by=["bucket"]) == 1
    got = store.read(spark, "p", lease=False)
    assert got.count() == 12 and "bucket" in got.columns


def test_append_after_compaction_mixed_read(spark, tmp_path):
    # the normal index lifecycle: compact, then KEEP appending. The
    # compacted dir's snap=<k>-compact-<hex> name and later plain snap=<id>
    # dirs must read together (basePath partition inference unions the
    # mixed snap values to string; the technical column is dropped), for
    # plain AND partitioned tables, including incremental reads.
    store = ParquetSnapshotStore(str(tmp_path))
    t = "mix"
    store.append(spark.range(0, 10).toDF("v"), t)
    store.append(spark.range(10, 20).toDF("v"), t)
    store.release_leases()
    k = store.compact(spark, t, target_mb=1)
    store.append(spark.range(20, 30).toDF("v"), t)
    df = store.read(spark, t, lease=False)
    assert df.count() == 30 and df.columns == ["v"]
    assert store.read(spark, t, after_snapshot=k, lease=False).count() == 10

    p = "mixp"
    pdf = spark.range(0, 12).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("b")
    )
    store.append(pdf, p, partition_by=["b"])
    store.append(pdf.withColumn("id", F.col("id") + 100), p, partition_by=["b"])
    store.release_leases()
    store.compact(spark, p, target_mb=1, partition_by=["b"])
    store.append(pdf.withColumn("id", F.col("id") + 200), p, partition_by=["b"])
    got = store.read(spark, p, lease=False)
    assert got.count() == 36 and sorted(got.columns) == ["b", "id"]
    assert got.groupBy("b").count().count() == 3


def test_explicit_id_race_attempt_dirs_and_gc(spark, tmp_path):
    # self-review r6: (1) racing explicit-id writers never share a data
    # dir (each writes its own snap=<id>-attempt-<uuid>; the loser's dir
    # is removed), (2) compact under force with a live lease DEFERS data
    # deletion so the in-flight plan survives, and the gc queue drains at
    # the next quiescent compact; (3) vacuum_orphans reaps crashed attempt
    # dirs by age without touching referenced dirs.
    import os

    store = ParquetSnapshotStore(str(tmp_path))
    t = "race"
    assert store.append(spark.range(0, 10).toDF("v"), t, snapshot_id=1) == 1
    droot = os.path.join(str(tmp_path), t, "data")
    committed = os.listdir(droot)
    assert len(committed) == 1 and committed[0].startswith("snap=1-attempt-")
    # the loser of an explicit-id race raises and removes ITS dir only
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already committed"):
        store.append(spark.range(50, 60).toDF("v"), t, snapshot_id=1)
    assert os.listdir(droot) == committed
    assert store.read(spark, t, lease=False).count() == 10

    # deferred gc: a lazy reader holds a lease; force-compact commits but
    # must NOT delete the old dirs under the reader's plan
    store.append(spark.range(10, 20).toDF("v"), t, snapshot_id=2)
    reader = ParquetSnapshotStore(str(tmp_path))
    df = reader.read(spark, t)  # lease registered BEFORE listing
    assert store.compact(spark, t, target_mb=1, force=True) == 2
    assert df.count() == 20  # the in-flight plan's dirs survived the fold
    gc_dir = os.path.join(str(tmp_path), t, "gc")
    assert len([f for f in os.listdir(gc_dir) if f.endswith(".json")]) == 1
    # quiescent point: lease released -> the next compact drains the queue
    reader.release_leases()
    store.append(spark.range(20, 25).toDF("v"), t)
    store.compact(spark, t, target_mb=1)
    assert [f for f in os.listdir(gc_dir) if f.endswith(".json")] == []
    assert store.read(spark, t, lease=False).count() == 25

    # vacuum: an old crashed attempt dir is reaped; referenced dirs are not
    orphan = os.path.join(droot, "snap=9-attempt-dead")
    spark.range(3).toDF("v").write.parquet(orphan)
    os.utime(orphan, (1.0, 1.0))
    assert store.vacuum_orphans(t, older_than_sec=60.0) == 1
    assert not os.path.exists(orphan)
    assert store.read(spark, t, lease=False).count() == 25


def test_lease_touch_keeps_fence(spark, tmp_path):
    # self-review r6: a slow-but-alive reader heartbeats via touch_leases
    # and keeps its compaction fence past the TTL.
    import time as _time

    from go_log_forwarder_spark.sources.storage import CompactionFenced

    store = ParquetSnapshotStore(str(tmp_path), lease_ttl_sec=0.6)
    t = "slow"
    store.append(spark.range(0, 5).toDF("v"), t)
    store.append(spark.range(5, 10).toDF("v"), t)
    reader = ParquetSnapshotStore(str(tmp_path), lease_ttl_sec=0.6)
    reader.read(spark, t)
    _time.sleep(0.4)
    assert reader.touch_leases(t) == 1  # heartbeat before the TTL elapses
    _time.sleep(0.4)  # 0.8s since read: an untouched lease would be expired
    with pytest.raises(CompactionFenced, match="lease"):
        store.compact(spark, t, target_mb=1)
    reader.release_leases()
    assert store.compact(spark, t, target_mb=1) == 2


def test_stream_provenance_guard_misseeded_store(spark, tmp_path):
    # self-review r6: a replayed micro-batch is benign ONLY when the
    # committed snapshot carries THIS consumer's provenance stamp. A store
    # pre-seeded by a batch bootstrap append (unstamped auto id 1) collides
    # with micro-batch 0 -> sid 1, and swallowing that would silently drop
    # the batch's bands from the index forever — it must raise instead.
    from go_log_forwarder_spark.functions import dedup as dd
    from go_log_forwarder_spark.streaming.pipeline import incremental_lsh_batch_fn

    docs = spark.createDataFrame(
        [(0, "seed doc one two three"), (1, "another seed document here")],
        "doc_id long, text string",
    )
    store = ParquetSnapshotStore(str(tmp_path / "idx"))
    dd.lsh_index_increment(store, docs)  # bootstrap: auto id 1, no stamp
    fn = incremental_lsh_batch_fn(
        spark, store, str(tmp_path / "corpus"), str(tmp_path / "pairs")
    )
    with pytest.raises(ValueError, match="mis-seeded"):
        fn(docs, 0)  # sid 1 collides with the unstamped bootstrap

    # the stamped case stays benign: a genuine redelivery is skipped
    store2 = ParquetSnapshotStore(str(tmp_path / "idx2"))
    fn2 = incremental_lsh_batch_fn(
        spark, store2, str(tmp_path / "corpus2"), str(tmp_path / "pairs2")
    )
    fn2(docs, 0)
    fn2(docs, 0)  # replay: no raise, no double-append
    assert store2.snapshots(dd.LSH_INDEX_TABLE) == [1]


def test_compact_preserves_provenance_and_lease_lapse_is_loud(spark, tmp_path):
    # self-review r6 pass 2:
    # (a) compact keeps the surviving snapshot's provenance stamp — a
    #     post-compact Spark replay of that micro-batch must classify as
    #     benign, not "mis-seeded" (which would crash-loop the stream);
    # (b) vacuum_orphans refuses to run under a live lease (it would
    #     delete the gc-deferred dirs compact just protected);
    # (c) a heartbeat that arrives after the TTL is LOUD (LeaseLapsed),
    #     never a silent resurrection of a fence that already lapsed.
    import time as _time

    from go_log_forwarder_spark.sources.storage import LeaseLapsed

    store = ParquetSnapshotStore(str(tmp_path))
    t = "prov"
    stamp1 = {"consumer": "c", "batch_id": 1}
    stamp2 = {"consumer": "c", "batch_id": 2}
    store.append(spark.range(0, 5).toDF("v"), t, snapshot_id=1, meta=stamp1)
    store.append(spark.range(5, 9).toDF("v"), t, snapshot_id=2, meta=stamp2)
    store.set_checkpoint(t, "c", 2)
    store.release_leases()
    assert store.compact(spark, t, target_mb=1) == 2
    assert store.manifest_meta(t, 2) == stamp2  # (a) survived the fold
    with pytest.raises(ValueError, match="already committed"):
        store.append(spark.range(9, 12).toDF("v"), t, snapshot_id=2, meta=stamp2)

    # (b) vacuum is lease-aware
    reader = ParquetSnapshotStore(str(tmp_path))
    reader.read(spark, t)
    assert store.vacuum_orphans(t, older_than_sec=0.0) == 0
    reader.release_leases()

    # (c) lapsed heartbeat raises
    slow = ParquetSnapshotStore(str(tmp_path), lease_ttl_sec=0.15)
    slow.read(spark, t)
    _time.sleep(0.3)
    with pytest.raises(LeaseLapsed):
        slow.touch_leases(t)
