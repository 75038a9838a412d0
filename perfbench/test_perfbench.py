"""The benchmark's own tests: each workload runs at a tiny size and passes
its checks, and every check fails on a deliberately corrupted output.

    python3 -m pytest perfbench/test_perfbench.py -q

Needs the same environment as the benchmark (pyspark, numpy, pyarrow);
takes a few minutes, most of it Spark start-up and first passes.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

import checks
import gen
import harness
import spec
from harness import CheckFailed, Clock
from workloads import WORKLOADS, Curate, Forward, check_search

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


@pytest.fixture(scope="module")
def session():
    with harness.work_dir("tests") as work:
        harness.pin_env(work)
        spark = harness.start_session(work)
        try:
            yield spark, work
        finally:
            harness.stop_session(spark)
            harness.shutdown_jvm()


def _pass(wl, session, tag):
    spark, work = session
    inp = wl.gen(SEED, os.path.join(work, f"in-{wl.name}"))
    return wl.run_pass(spark, inp, work, tag, Clock()), inp


def _copy_out(res, key="out"):
    """A copy of a pass result whose output directory is a fresh copy."""
    r = copy.copy(res)
    r[key] = res[key] + "-copy"
    shutil.rmtree(r[key], ignore_errors=True)
    shutil.copytree(res[key], r[key])
    return r


def _rewrite(path, fn):
    """Replace the parquet dataset at ``path`` with ``fn(table)``."""
    table = pq.read_table(path)
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(fn(table), os.path.join(path, "part-00000.parquet"))


# ---------------------------------------------------------------------------
# the benchmark's own contract
# ---------------------------------------------------------------------------


def test_benchmark_json_names_the_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def test_refuses_to_run_without_the_package(tmp_path):
    """In a tree holding only BENCHMARK.json and the benchmark, the command
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "forward", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_generators_are_seeded(tmp_path):
    a = gen.gen_corpus(3, str(tmp_path / "a"), n_docs=50)
    b = gen.gen_corpus(3, str(tmp_path / "b"), n_docs=50)
    c = gen.gen_corpus(4, str(tmp_path / "c"), n_docs=50)
    assert all(np.array_equal(x, y) for x, y in zip(a["docs"], b["docs"]))
    assert not all(np.array_equal(x, y) for x, y in zip(a["docs"], c["docs"]))
    fa = gen.gen_forward(3, str(tmp_path / "fa"), 1, 50)
    fb = gen.gen_forward(3, str(tmp_path / "fb"), 1, 50)
    assert fa["sinks"] == fb["sinks"]


# ---------------------------------------------------------------------------
# forward
# ---------------------------------------------------------------------------


def test_forward_checks(session):
    wl = Forward("tiny")
    res, inp = _pass(wl, session, "ok")
    call, st = res["bulk"], res["stream"]
    wl.check({"bulk": _copy_out(call), "stream": _copy_out(st)}, inp)

    # a sink count the generator does not derive
    bad = dict(call["counts"], count_all=call["counts"]["count_all"] - 1)
    with pytest.raises(CheckFailed, match="sink counts"):
        checks.check_sink_counts(bad, inp["sinks"])

    # a dropped sink row on disk
    c = _copy_out(call)
    _rewrite(os.path.join(c["out"], "db_parquet"), lambda t: t.slice(1))
    with pytest.raises(CheckFailed, match="rows on disk"):
        wl._check_bulk(c, inp)

    # a sink that wrote nothing
    c = _copy_out(call)
    shutil.rmtree(os.path.join(c["out"], "splunk_web"))
    with pytest.raises(CheckFailed, match="no rows on disk"):
        wl._check_bulk(c, inp)

    # a payload that is not JSON
    c = _copy_out(call)

    def garble(t):
        col = t.column("payload").to_pylist()
        col[0] = col[0][:-1]
        return t.set_column(0, "payload", [col])

    _rewrite(os.path.join(c["out"], "gelf_app"), garble)
    with pytest.raises(CheckFailed, match="not JSON"):
        wl._check_bulk(c, inp)
    with pytest.raises(CheckFailed, match="splunk event"):
        checks.check_payloads_json("splunk_web", ['{"event":null}'], "splunk")

    # stream: a dropped row, a lost batch, a doubled batch
    r = _copy_out(st)
    sink_dir = os.path.join(r["out"], "count_all")
    first = sorted(d for d in os.listdir(sink_dir) if d.startswith("batch="))[0]
    _rewrite(os.path.join(sink_dir, first), lambda t: t.slice(1))
    with pytest.raises(CheckFailed, match="rows, expected"):
        wl._check_stream(r, inp["stream"])
    r = _copy_out(st)
    for sink in gen.SINK_TAGS:
        shutil.rmtree(os.path.join(r["out"], sink, first))
    with pytest.raises(CheckFailed, match="one-to-one"):
        wl._check_stream(r, inp["stream"])
    r = _copy_out(st)
    for sink in gen.SINK_TAGS:
        shutil.copytree(os.path.join(r["out"], sink, first),
                        os.path.join(r["out"], sink, "batch=99"))
    with pytest.raises(CheckFailed, match="one-to-one"):
        wl._check_stream(r, inp["stream"])
    with pytest.raises(CheckFailed, match="batches of"):
        wl._check_stream(dict(st, batches=st["batches"] + 1), inp["stream"])


def test_forward_layer_boundaries(session):
    spark, work = session
    wl = Forward("tiny")
    inp = wl.gen(SEED, os.path.join(work, "in-stages"))
    seen = wl.stage_pass(spark, inp, Clock())
    wl.check_stages(seen, inp)
    with pytest.raises(CheckFailed, match="kept"):
        wl.check_stages(dict(seen, kept=seen["kept"] + 1), inp)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def curated(session):
    wl = Curate("tiny")
    res, inp = _pass(wl, session, "ok")
    search = res.pop("search")
    data = wl.collect(res)
    return wl, data, inp, search


def _corrupt(data, **changes):
    d = copy.deepcopy(data)
    d.update(changes)
    return d


def test_curate_checks_pass(curated):
    wl, data, inp, _ = curated
    counts = wl.verify(data, inp)
    # the planted structure is exercised, not just the happy path
    assert counts["dedup.exact_dup_rows"] > 0
    assert counts["dedup.tokens_removed"] > 0
    assert counts["similarity.pairs"] > 0


def test_curate_roundtrip_and_gate_fail_on_corruption(curated):
    wl, data, inp, _ = curated
    toks = copy.deepcopy(data["rt_tokens"])
    toks[0] = toks[0][:-1]
    with pytest.raises(CheckFailed, match="roundtrip"):
        wl.verify(_corrupt(data, rt_tokens=toks), inp)
    lowq = [i for i, t in enumerate(inp["docs"]) if len(np.unique(t)) < 0.25 * len(t)]
    assert lowq
    with pytest.raises(CheckFailed, match="quality gate"):
        wl.verify(_corrupt(data, gate_ids=np.append(data["gate_ids"], lowq[0])), inp)


def test_curate_exact_groups_fail_on_corruption(curated):
    wl, data, inp, _ = curated
    assert data["groups"]
    with pytest.raises(CheckFailed, match="exact-duplicate groups"):
        wl.verify(_corrupt(data, groups=data["groups"][1:]), inp)


def test_curate_token_left_inside_a_repeated_span(curated):
    from go_log_forwarder_spark.functions.dedup import SPAN_NGRAM

    wl, data, inp, _ = curated
    docs = inp["docs"]
    first = {}
    for i in sorted(data["gate_ids"].tolist()):
        first.setdefault(docs[i].tobytes(), i)
    cov = checks.covered_positions(first.values(), docs, SPAN_NGRAM)
    doc = next(i for i, m in cov.items() if m.any())
    mask = cov[doc].copy()
    mask[np.flatnonzero(mask)[0]] = False  # one covered token stays in
    clean = dict(data["clean"])
    clean[doc] = docs[doc][~mask].tolist()
    removed = dict(data["removed"])
    removed[doc] = int(mask.sum())
    with pytest.raises(CheckFailed, match=f"doc {doc}"):
        wl.verify(_corrupt(data, clean=clean, removed=removed), inp)


def test_curate_pairs_and_clusters_fail_on_corruption(curated):
    wl, data, inp, _ = curated
    micro = data["pair_micro"].copy()
    micro[0] += 1
    with pytest.raises(CheckFailed, match="cosine"):
        wl.verify(_corrupt(data, pair_micro=micro), inp)
    labels = dict(data["labels"])
    some = max(labels)
    labels[some] = some  # a non-minimal member relabelled as its own cluster
    if labels == data["labels"]:
        labels[min(labels)] = -1
    with pytest.raises(CheckFailed, match="clusters differ"):
        wl.verify(_corrupt(data, labels=labels), inp)


def test_curate_packing_fails_on_corruption(curated):
    wl, data, inp, _ = curated
    train = copy.deepcopy(data["train"])
    train["start_off"][0] += 1
    with pytest.raises(CheckFailed, match="offsets|windows"):
        wl.verify(_corrupt(data, train=train), inp)
    dropped = {k: v[1:] for k, v in data["train"].items()}
    with pytest.raises(CheckFailed, match="training set has"):
        wl.verify(_corrupt(data, train=dropped), inp)


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def test_search_checks(curated):
    _, _, inp, search = curated
    idx = inp["index"]
    answers = search["answers"]
    check_search(dict(search), idx)
    qpb, n = idx["qpb"], int(idx["bounds"][1])
    args = (idx["queries"][:qpb], np.arange(qpb) + gen.QUERY_ID_BASE, idx["vecs"], n, 10)

    # a wrong neighbour: swap the first answer's id for another indexed one
    bad = copy.deepcopy(answers[0])
    bad["neighbor_id"][0] = (bad["neighbor_id"][0] + 1) % n
    with pytest.raises(CheckFailed, match="exact-int cosine|ranked"):
        checks.check_neighbours(bad, *args, recall_floor=0.0)

    # far neighbours with their true scores: valid rows, recall too low
    q = checks.quantize(idx["queries"][:1])
    v = checks.quantize(idx["vecs"][:n])
    cos = checks.cosine_micro(np.repeat(q, n, 0), v)
    far = np.lexsort((np.arange(n), cos))[:10]  # the 10 least similar
    far = far[np.lexsort((far, -cos[far]))]
    only = {"query_id": [gen.QUERY_ID_BASE] * 10, "neighbor_id": far.tolist(),
            "cosine_micro": cos[far].tolist(), "rank": list(range(1, 11))}
    with pytest.raises(CheckFailed, match="recall"):
        checks.check_neighbours(only, idx["queries"][:1], [gen.QUERY_ID_BASE], idx["vecs"],
                                n, 10, 0.5)


# ---------------------------------------------------------------------------
# the command end to end
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("trace", [0, 1])
def test_command_prints_every_metric(trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "11",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = spec.PER_LAYER if trace else spec.END_TO_END
    assert set(out["metrics"]) == set(want)
    assert all(out["metrics"][k]["unit"] == want[k][0] for k in want)
