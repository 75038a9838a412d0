"""The two workloads. Each drives the program only through its public
entry points, on inputs ``gen.py`` wrote, and checks every pass's outputs
with ``checks.py``.

A workload object has:

- ``gen(seed, root)``: write the inputs, return the expectations;
- ``run_pass(spark, inp, work, i, clock)``: one whole round of the
  workload's operations; returns the pass's end-to-end figures plus what
  the checks need. ``clock`` records spans around the calls into each
  layer;
- ``check(res, inp)``: raise ``CheckFailed`` on a wrong output;
- ``ops``: operations in one pass (what ``attempted`` counts);
- ``summarise(results)``: the end-to-end metrics over the timed passes;
- ``layers(results, clock, inp, events)``: the workload's per-layer figures
  from traced passes (medians over passes) and the traced event log.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from harness import dir_bytes_files, jobs_in, median

perf = time.perf_counter

# size presets: "full" is what the benchmark measures, "tiny" is for its
# own tests
SIZES = {
    "forward": {"full": dict(files_per_input=3, lines_per_file=32000,
                             backlog_files=5, backlog_lines=1500),
                "tiny": dict(files_per_input=2, lines_per_file=300,
                             backlog_files=3, backlog_lines=200)},
    "curate": {"full": dict(n_docs=2000, n_vectors=4500, increments=3, queries_per_batch=16),
               "tiny": dict(n_docs=400, n_vectors=800, increments=2, queries_per_batch=4)},
}


# ---------------------------------------------------------------------------
# forward: the forwarder's two modes on one YAML plan -- a bulk
# load_plan + execute_plan over tail inputs, then a backlog of small files
# drained micro-batch by micro-batch through run_foreach_batch
# ---------------------------------------------------------------------------

class Forward:
    name = "forward"

    def __init__(self, size: str):
        self.size = SIZES[self.name][size]
        # one bulk execute_plan, then one micro-batch per backlog file
        self.ops = 1 + self.size["backlog_files"]

    def gen(self, seed, root):
        s = self.size
        inp = gen.gen_forward(seed, root, s["files_per_input"], s["lines_per_file"])
        inp["stream"] = gen.gen_stream(seed, root, s["backlog_files"], s["backlog_lines"])
        return inp

    def run_pass(self, spark, inp, work, i, clock):
        from go_log_forwarder_spark.plans.config import execute_plan, load_plan

        plan = load_plan(inp["plan"])
        out = os.path.join(work, "out", f"pass-{i}")
        t0 = perf()
        with clock.span("execute_plan"):
            counts = execute_plan(spark, plan, out)
        return {
            "rate": inp["lines"] / (perf() - t0),
            "bulk": {"counts": counts, "out": out},
            "stream": self._drain(spark, plan, inp["stream"], work, i, clock),
        }

    def _drain(self, spark, plan, inp, work, i, clock):
        """Drain the backlog with the plan's parser chain and filter feeding
        the plan's sinks, one file per micro-batch, as fast as batches go."""
        from go_log_forwarder_spark.functions.filters import FilterChain
        from go_log_forwarder_spark.functions.parsers import ParserChain
        from go_log_forwarder_spark.streaming.pipeline import run_foreach_batch

        def pipeline_fn(df):
            return FilterChain(plan.filters).apply(ParserChain(plan.parsers).apply(df))

        # stream_events takes no per-trigger file bound, so build the file
        # stream here: one backlog file per micro-batch
        stream_df = (
            spark.readStream.format("parquet").schema(gen.STREAM_SCHEMA_DDL)
            .option("maxFilesPerTrigger", 1).load(inp["dir"])
        )
        out = os.path.join(work, "stream-out", f"pass-{i}")
        ckpt = os.path.join(work, "ckpt", f"pass-{i}")
        w0, t0 = time.time() * 1000.0, perf()
        with clock.span("drain"):
            q = run_foreach_batch(stream_df, pipeline_fn, plan.sinks, out, ckpt, trigger_seconds=0)
            try:
                q.processAllAvailable()
            finally:
                drain = perf() - t0
                progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
                q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        return {
            "rate": inp["lines"] / drain,
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in progress],
            "add_ms": [p["durationMs"].get("addBatch", 0) for p in progress],
            "input_rows": sum(p["numInputRows"] for p in progress),
            "batches": len(progress), "out": out, "window": (w0, time.time() * 1000.0),
        }

    def check(self, res, inp):
        self._check_bulk(res["bulk"], inp)
        self._check_stream(res["stream"], inp["stream"])

    @staticmethod
    def _check_bulk(call, inp):
        counts, out = call["counts"], call["out"]
        checks.check_sink_counts(counts, inp["sinks"])
        disk = {}
        for sink in gen.FILE_SINKS:
            path = os.path.join(out, sink)
            if not os.path.isdir(path):
                continue  # check_rows_on_disk fails on the missing sink
            table = pq.read_table(path)
            disk[sink] = table.num_rows
            if sink in gen.PAYLOAD_SINKS:
                checks.check_payloads_json(
                    sink, table.column("payload").to_pylist(), gen.PAYLOAD_SINKS[sink]
                )
        checks.check_rows_on_disk(counts, disk, gen.FILE_SINKS)
        call["bytes_written"] = dir_bytes_files(out)[0]
        shutil.rmtree(out, ignore_errors=True)

    @staticmethod
    def _check_stream(st, inp):
        if st["batches"] != len(inp["per_file"]) or st["input_rows"] != inp["lines"]:
            raise checks.CheckFailed(
                f"{st['batches']} batches of {st['input_rows']} rows for "
                f"{len(inp['per_file'])} files of {inp['lines']} lines"
            )
        rows = {}
        for sink in gen.SINK_TAGS:
            rows[sink] = {}
            base = os.path.join(st["out"], sink)
            for d in sorted(os.listdir(base)) if os.path.isdir(base) else []:
                if not d.startswith("batch="):
                    continue
                t = pq.read_table(os.path.join(base, d), columns=["source", "canonical"])
                rows[sink][int(d.split("=", 1)[1])] = t.column("source").to_pylist()
                checks.check_payloads_json(sink, t.column("canonical").to_pylist(), "canonical")
        checks.check_stream_batches(rows, inp["per_file"])
        shutil.rmtree(st["out"], ignore_errors=True)

    def summarise(self, results):
        """Bulk lines/s through execute_plan, backlog lines/s through the
        stream, and the median micro-batch ``triggerExecution`` time."""
        return {
            "bulk_per_s": median([r["rate"] for r in results]),
            "online_per_s": median([r["stream"]["rate"] for r in results]),
            "step_ms": median([b for r in results for b in r["stream"]["batch_ms"]]),
        }

    def stage_pass(self, spark, inp, clock):
        """Traced only: materialise each prefix of ``build_pipeline`` to a
        noop sink (tail, + parsers, + filters) and return the counts seen
        at each boundary."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from go_log_forwarder_spark.functions.parsers import ParserChain
        from go_log_forwarder_spark.plans.config import build_input_df, build_pipeline, load_plan

        plan = load_plan(inp["plan"])

        def noop(df, name, **aggs):
            obs = Observation(name)
            df.observe(obs, F.count(F.lit(1)).alias("n"), *[
                c.alias(k) for k, c in aggs.items()
            ]).write.format("noop").mode("overwrite").save()
            return obs.get

        def tail_df():
            dfs = [build_input_df(spark, c) for c in plan.inputs]
            df = dfs[0]
            for other in dfs[1:]:
                df = df.unionByName(other, allowMissingColumns=True)
            return df

        with clock.span("prefix.tail"):
            t = noop(tail_df(), "tail")
        with clock.span("prefix.parsers"):
            p = noop(
                ParserChain(plan.parsers).apply(tail_df()), "parsers",
                parsed=F.sum(F.col("parser").isNotNull().cast("long")),
            )
        with clock.span("prefix.build_pipeline"):
            f = noop(build_pipeline(spark, plan), "filters")
        return {"lines": t["n"], "parsed": p["parsed"], "unparsed": p["n"] - p["parsed"],
                "kept": f["n"]}

    def check_stages(self, seen, inp):
        for key in ("lines", "parsed", "unparsed", "kept"):
            if seen[key] != inp[key]:
                raise checks.CheckFailed(f"{key}: {seen[key]} at the layer boundary, "
                                         f"generator wrote {inp[key]}")

    def layers(self, results, clock, inp, events):
        sp = {k: median(v) for k, v in clock.spans.items()}
        last = results[-1]
        trig = [b for r in results for b in r["stream"]["batch_ms"]]
        add = [a for r in results for a in r["stream"]["add_ms"]]
        drains = [r["stream"]["window"] for r in results]
        return {
            "tail.busy_s": sp["prefix.tail"],
            "tail.lines": last["stages"]["lines"],
            "parsers.busy_s": sp["prefix.parsers"] - sp["prefix.tail"],
            "parsers.parsed_rows": last["stages"]["parsed"],
            "parsers.unparsed_rows": last["stages"]["unparsed"],
            "filters.busy_s": sp["prefix.build_pipeline"] - sp["prefix.parsers"],
            "filters.kept_rows": last["stages"]["kept"],
            "routing.busy_s": sp["execute_plan"] - sp["prefix.build_pipeline"],
            "routing.routed_rows": sum(last["bulk"]["counts"].values()),
            "sinks.bytes_written": median([r["bulk"]["bytes_written"] for r in results]),
            "streaming.batches": last["stream"]["batches"],
            "streaming.input_rows": last["stream"]["input_rows"],
            "streaming.add_batch_ms": median(add),
            "streaming.trigger_overhead_ms": median([t - a for t, a in zip(trig, add)]),
            "streaming.jobs_per_batch": len(jobs_in(events, drains))
            / sum(r["stream"]["batches"] for r in results),
        }


# ---------------------------------------------------------------------------
# curate: token-sequence curation of a generated corpus
# ---------------------------------------------------------------------------

GATE_RATIO = 0.25  # quality gate: distinct tokens >= 25% of the doc
PAIR_THRESHOLD = 990000  # cosine 0.99, micro fixed point
MIX_RATES = {"src-hot": 0.5, "src-a": 1.0, "src-b": 1.0, "src-c": 1.0,
             "src-d": 1.0, "src-e": 1.0, "src-f": 1.0}  # src-g is left out
MIX_SEED = "mix0"
PACK_CTX = 1024


class Curate:
    """Curation of a token corpus until the training set is written, then
    a persisted IVF index over a vector set grown in increments and
    queried after each one."""

    name = "curate"

    def __init__(self, size: str):
        self.size = SIZES[self.name][size]
        # roundtrip, gate, exact dedup, span find, span apply, pairs,
        # clusters, mix + pack; then train, and assign + query per increment
        self.ops = 8 + 1 + 2 * self.size["increments"]

    def gen(self, seed, root):
        s = self.size
        inp = gen.gen_corpus(seed, root, s["n_docs"])
        inp["index"] = gen.gen_vectors(seed, root, s["n_vectors"], s["increments"],
                                       s["queries_per_batch"])
        return inp

    def run_pass(self, spark, inp, work, i, clock):
        from pyspark.sql import functions as F

        from go_log_forwarder_spark.functions.dedup import (
            dup_clusters, remove_repeated_token_spans, token_substring_spans,
        )
        from go_log_forwarder_spark.functions.packing import pack_concat_map
        from go_log_forwarder_spark.functions.sampling import mix_sample
        from go_log_forwarder_spark.functions.similarity import bucketed_cosine_pairs
        from go_log_forwarder_spark.functions.tokenops import joined_digest, with_distinct_count
        from go_log_forwarder_spark.sources.tokens import parse_tokens_raw, serialize_tokens

        out = os.path.join(work, "out", f"pass-{i}")
        t0 = perf()
        corpus = spark.read.parquet(inp["dir"])
        with clock.span("tokens"):
            rt = parse_tokens_raw(serialize_tokens(corpus)).select(
                "doc_id", "source", "embedding",
                F.col("parsed.tokens").alias("tokens"), F.col("parsed.n_tok").alias("n_tok"),
            ).localCheckpoint(eager=True)
        with clock.span("tokenops"):
            gate = (
                with_distinct_count(rt.withColumn("_gate", F.col("tokens")), "_gate")
                .filter(F.col("n_distinct") >= F.col("n_tok") * GATE_RATIO)
                .drop("n_distinct")
                .localCheckpoint(eager=True)
            )
            digests = joined_digest(
                gate.select("doc_id", F.col("tokens").alias("_dg")), "_dg", "digest"
            ).localCheckpoint(eager=True)
        with clock.span("dedup.exact"):
            groups = (
                digests.groupBy("digest")
                .agg(F.min("doc_id").alias("keep"), F.collect_list("doc_id").alias("ids"))
                .localCheckpoint(eager=True)
            )
            surv = gate.join(
                groups.select(F.col("keep").alias("doc_id")), "doc_id", "left_semi"
            ).localCheckpoint(eager=True)
        with clock.span("dedup.span_find"):
            spans = token_substring_spans(surv).localCheckpoint(eager=True)
        with clock.span("dedup.span_apply"):
            clean = remove_repeated_token_spans(surv, spans=spans).localCheckpoint(eager=True)
        with clock.span("similarity.pairs"):
            pairs = bucketed_cosine_pairs(
                surv.select(F.col("doc_id").alias("vec_id"), "embedding"), PAIR_THRESHOLD
            ).localCheckpoint(eager=True)
        with clock.span("dedup.clusters"):
            labels = dup_clusters(pairs)
        with clock.span("sampling"):
            dropped = labels.filter(F.col("id") != F.col("cluster_id")).select(
                F.col("id").alias("doc_id")
            )
            final = clean.join(surv.select("doc_id", "source"), "doc_id").join(
                dropped, "doc_id", "left_anti"
            )
            sampled = mix_sample(final, "doc_id", "source", MIX_RATES, seed=MIX_SEED)
            sampled = sampled.localCheckpoint(eager=True)
        with clock.span("packing"):
            pack_concat_map(
                sampled.select("doc_id", "source", "clean_tokens", F.col("n_kept").alias("n_tok")),
                ctx=PACK_CTX, ord_col=F.col("doc_id"),
            ).write.mode("overwrite").parquet(out)
        dt = perf() - t0
        return {
            "rate": inp["tokens"] / dt, "out": out,
            "frames": dict(rt=rt, gate=gate, groups=groups, surv=surv, spans=spans,
                           clean=clean, pairs=pairs, labels=labels, sampled=sampled),
            "search": search_pass(spark, inp["index"], work, i, clock),
        }

    def check(self, res, inp):
        res["counts"] = self.verify(self.collect(res), inp)
        shutil.rmtree(res["out"], ignore_errors=True)
        check_search(res["search"], inp["index"])

    @staticmethod
    def collect(res) -> dict:
        """Pull each stage's output to the driver as plain data (and free
        the checkpointed frames)."""
        from pyspark.sql import functions as F

        fr = res.pop("frames")
        rt = fr["rt"].select("doc_id", "tokens").toArrow()
        clean = fr["clean"].select("doc_id", "clean_tokens", "n_removed").toArrow()
        ids = clean.column("doc_id").to_pylist()
        pairs = fr["pairs"].toArrow()
        lab = fr["labels"].toArrow()
        out = {
            "rt_ids": rt.column("doc_id").to_numpy(),
            "rt_tokens": rt.column("tokens").to_pylist(),
            "gate_ids": fr["gate"].select("doc_id").toArrow().column(0).to_numpy(),
            "groups": fr["groups"].filter(F.size("ids") >= 2).select("ids")
            .toArrow().column(0).to_pylist(),
            "removed": dict(zip(ids, clean.column("n_removed").to_pylist())),
            "clean": dict(zip(ids, clean.column("clean_tokens").to_pylist())),
            "pair_a": pairs.column("id_a").to_numpy(),
            "pair_b": pairs.column("id_b").to_numpy(),
            "pair_micro": pairs.column("cosine_micro").to_numpy(),
            "labels": dict(zip(lab.column("id").to_pylist(), lab.column("cluster_id").to_pylist())),
            "span_shingles": fr["spans"].select("n_shingles").toArrow().column(0).to_numpy(),
            "train": pq.read_table(res["out"]).to_pydict(),
        }
        for df in fr.values():
            df.unpersist()
        return out

    @staticmethod
    def verify(d: dict, inp) -> dict:
        """Run every curate check on collected outputs; return the stage
        counts the traced run reports."""
        docs = inp["docs"]
        checks.check_roundtrip(d["rt_ids"], d["rt_tokens"], docs)
        checks.check_gate(d["gate_ids"], docs, GATE_RATIO)
        checks.check_exact_groups(d["groups"], d["gate_ids"].tolist(), docs)
        # the span stage's input, derived in numpy: min id of each group
        first = {}
        for i in sorted(d["gate_ids"].tolist()):
            first.setdefault(docs[i].tobytes(), i)
        surv = set(first.values())
        checks.check_span_removal(d["removed"], d["clean"], surv, docs, _span_ngram())
        a, b = d["pair_a"], d["pair_b"]
        checks.check_pairs(a, b, d["pair_micro"], inp["emb"], surv, PAIR_THRESHOLD)
        checks.check_clusters(d["labels"], a, b)
        uf = checks.union_find_labels(a, b)
        keep = {i for i in surv if uf.get(i, i) == i}
        want = checks.sample_gate(keep, inp["source"], MIX_RATES, MIX_SEED)
        lengths = {i: len(docs[i]) - d["removed"][i] for i in surv}
        checks.check_training_set(d["train"], want, lengths, inp["source"], PACK_CTX)
        return {
            "tokens.rows": len(d["rt_ids"]),
            "dedup.exact_dup_rows": len(d["gate_ids"]) - len(surv),
            "dedup.dup_grams": int(d["span_shingles"].sum()),
            "dedup.spans": len(d["span_shingles"]),
            "dedup.tokens_removed": int(sum(d["removed"].values())),
            "similarity.pairs": len(a),
            "dedup.clusters": len(set(d["labels"].values())),
            "sampling.kept_rows": len(want),
            "packing.windows": _windows(d["train"]),
        }

    def summarise(self, results):
        """Corpus tokens/s until the training set is written, queries/s of
        the median ann_frozen_topk batch, and the median time for one
        increment to be assigned into the index."""
        s = [r["search"] for r in results]
        return {
            "bulk_per_s": median([r["rate"] for r in results]),
            "online_per_s": s[0]["qpb"] / median([b for x in s for b in x["batch_s"]]),
            "step_ms": 1000.0 * median([a for x in s for a in x["assign_s"]]),
        }

    def layers(self, results, clock, inp, events):
        sp = {k: median(v) for k, v in clock.spans.items()}
        out = search_layers([r["search"] for r in results], sp, inp["index"])
        out.update({
            "tokens.busy_s": sp["tokens"],
            "tokenops.busy_s": sp["tokenops"],
            "dedup.exact_s": sp["dedup.exact"],
            "dedup.span_find_s": sp["dedup.span_find"],
            "dedup.span_apply_s": sp["dedup.span_apply"],
            "similarity.pairs_s": sp["similarity.pairs"],
            "dedup.clusters_s": sp["dedup.clusters"],
            "sampling.busy_s": sp["sampling"],
            "packing.busy_s": sp["packing"],
        })
        out.update(results[-1]["counts"])
        return out


def _span_ngram() -> int:
    from go_log_forwarder_spark.functions.dedup import SPAN_NGRAM

    return SPAN_NGRAM


def _windows(train: dict) -> int:
    """Context windows the packed training set fills, over all sources."""
    src = np.asarray(train["source"])
    last = np.asarray(train["win_last"], dtype=np.int64)
    return int(sum(last[src == s].max() + 1 for s in np.unique(src)))


# ---------------------------------------------------------------------------
# search: a persisted IVF index grown in increments, queried after each
# ---------------------------------------------------------------------------

TOPK = 10
RECALL_FLOOR = 0.6


def search_pass(spark, inp, work, i, clock) -> dict:
    """Train the IVF quantizer on the first increment, then per increment:
    assign it into the store, and answer one query batch."""
    from go_log_forwarder_spark.functions import similarity as sim
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    store = ParquetSnapshotStore(os.path.join(work, "store", f"pass-{i}"))
    answers = []
    with clock.span("similarity.train"):
        sim.ann_index_train(store, spark.read.parquet(inp["inc_dirs"][0]))
    for inc, qd in zip(inp["inc_dirs"], inp["q_dirs"]):
        with clock.span("similarity.assign"):
            sim.ann_index_assign_increment(spark, store, spark.read.parquet(inc))
        with clock.span("similarity.query"):
            ans = sim.ann_frozen_topk(spark, store, spark.read.parquet(qd), k=TOPK).select(
                "query_id", "neighbor_id", "cosine_micro", "rank"
            ).toArrow()
            store.release_leases()
        answers.append(ans.to_pydict())
    n = len(inp["q_dirs"])
    sp = clock.spans
    batches = sp["similarity.query"][-n:]
    return {
        "assign_s": sp["similarity.assign"][-n:],
        "query_s": sum(batches), "batch_s": batches, "qpb": inp["qpb"],
        "answers": answers, "store": store,
    }


def check_search(res, inp) -> None:
    from go_log_forwarder_spark.functions import similarity as sim

    qpb = inp["qpb"]
    for b, ans in enumerate(res["answers"]):
        checks.check_neighbours(
            ans, inp["queries"][b * qpb : (b + 1) * qpb],
            np.arange(b * qpb, (b + 1) * qpb) + gen.QUERY_ID_BASE,
            inp["vecs"], int(inp["bounds"][b + 1]), TOPK, RECALL_FLOOR,
        )
    store = res.pop("store")
    res["storage"] = dir_bytes_files(store.base)
    res["snapshots"] = sum(
        len(store.snapshots(t)) for t in (sim.ANN_CENTROIDS_TABLE, sim.ANN_POSTINGS_TABLE)
    )
    res["centroids"] = _centroids(store)
    shutil.rmtree(store.base, ignore_errors=True)


def search_layers(results, sp, inp) -> dict:
    n = len(inp["q_dirs"])
    return {
        "similarity.train_s": sp["similarity.train"],
        "similarity.assign_s": sp["similarity.assign"] * n,
        "similarity.query_s": median([r["query_s"] for r in results]),
        "storage.bytes_written": median([r["storage"][0] for r in results]),
        "storage.files": median([r["storage"][1] for r in results]),
        "storage.snapshots": median([r["snapshots"] for r in results]),
        "similarity.candidates": _candidates(results[-1]["centroids"], inp),
    }


def _centroids(store):
    """The committed quantizer, read straight from the store's files."""
    from go_log_forwarder_spark.functions import similarity as sim

    t = pq.read_table(os.path.join(store.base, sim.ANN_CENTROIDS_TABLE, "data")).to_pydict()
    order = np.argsort(t["cidx"])
    return np.asarray([t["cv"][j] for j in order], dtype=np.int64)


def _candidates(cents, inp) -> int:
    """Postings in the probed buckets, summed over all queries of a pass:
    each increment's vectors are assigned to their nearest centroid and
    each query probes its IVF_NPROBE nearest buckets (exact-int L2, ties
    to the lower index), recomputed in numpy."""
    from go_log_forwarder_spark.functions.similarity import IVF_NPROBE

    cn = np.einsum("ij,ij->i", cents, cents)

    def dist(q):
        return np.einsum("ij,ij->i", q, q)[:, None] + cn[None, :] - 2 * q @ cents.T

    qv = checks.quantize(inp["vecs"])
    bucket = np.array([np.lexsort((np.arange(len(cents)), d))[0] for d in dist(qv)])
    qpb, total = inp["qpb"], 0
    for b in range(len(inp["q_dirs"])):
        sizes = np.bincount(bucket[: int(inp["bounds"][b + 1])], minlength=len(cents))
        qq = checks.quantize(inp["queries"][b * qpb : (b + 1) * qpb])
        for d in dist(qq):
            probes = np.lexsort((np.arange(len(cents)), d))[:IVF_NPROBE]
            total += int(sizes[probes].sum())
    return total


WORKLOADS = {w.name: w for w in (Forward, Curate)}
