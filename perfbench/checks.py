"""Output checks, computed apart from the program (numpy / pyarrow / json)
or as properties the method must have. Each check takes plain data, so
the benchmark's tests can hand it a deliberately corrupted output and see
it fail. A failed check raises :class:`harness.CheckFailed`.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

from harness import CheckFailed

QUANT = 10000  # the engine's fixed-point vector quantization


def _fail(msg: str):
    raise CheckFailed(msg)


# ---------------------------------------------------------------------------
# forward / stream
# ---------------------------------------------------------------------------


def check_sink_counts(counts: dict, expected: dict) -> None:
    """Per-sink routed counts equal what the generator derived."""
    if dict(counts) != dict(expected):
        _fail(f"sink counts {counts} != expected {expected}")


def check_rows_on_disk(counts: dict, rows_on_disk: dict, written) -> None:
    """Every sink in ``written`` (the sinks that write files) has output on
    disk, and its rows equal the count the program returned."""
    for sink in written:
        if sink not in rows_on_disk:
            _fail(f"sink {sink}: no rows on disk, program returned {counts.get(sink)}")
        if rows_on_disk[sink] != counts.get(sink):
            _fail(f"sink {sink}: {rows_on_disk[sink]} rows on disk,"
                  f" program returned {counts.get(sink)}")


def check_payloads_json(sink: str, payloads, kind: str) -> None:
    """Every payload parses as JSON. ``kind`` adds the format's own
    property: a splunk event of a routed (hence parsed) line is an object,
    a GELF message carries a string short_message; ``canonical`` (the
    parsed data the streaming sinks keep) is an object or null."""
    for p in payloads:
        try:
            doc = json.loads(p)
        except (TypeError, ValueError):
            _fail(f"sink {sink}: payload is not JSON: {p!r:.120}")
        if kind == "splunk" and not isinstance(doc.get("event"), dict):
            _fail(f"sink {sink}: splunk event is not an object: {p!r:.120}")
        if kind == "gelf" and not isinstance(doc.get("short_message"), str):
            _fail(f"sink {sink}: gelf short_message missing: {p!r:.120}")
        if kind == "canonical" and not (doc is None or isinstance(doc, dict)):
            _fail(f"sink {sink}: parsed data is neither an object nor null: {p!r:.120}")


def check_stream_batches(batch_rows: dict, per_file: dict) -> None:
    """``batch_rows[sink][batch_id] = list of source file names``, one per
    written row. Each input file must land as exactly one batch (no batch
    lost or doubled) and each batch's per-sink rows must equal the counts
    the generator derived for that file."""
    owner: dict[int, str] = {}
    for sink, batches in batch_rows.items():
        for b, sources in batches.items():
            names = set(sources)
            if len(names) > 1:
                _fail(f"sink {sink} batch {b} mixes input files {sorted(names)}")
            if names:
                name = names.pop()
                if owner.setdefault(b, name) != name:
                    _fail(f"batch {b} holds {owner[b]} in one sink and {name} in another")
    files = list(owner.values())
    if sorted(files) != sorted(per_file) or len(set(files)) != len(files):
        _fail(f"batches {sorted(owner.items())} do not map one-to-one onto files"
              f" {sorted(per_file)}")
    for sink, batches in batch_rows.items():
        for b, name in owner.items():
            got = len(batches.get(b, []))
            want = per_file[name][sink]
            if got != want:
                _fail(f"sink {sink} batch {b} ({name}): {got} rows, expected {want}")


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------


def check_roundtrip(ids, tokens, docs) -> None:
    """Every document comes back from serialize -> parse with its tokens."""
    ids = np.asarray(ids)
    if len(ids) != len(docs) or len(np.unique(ids)) != len(docs):
        _fail(f"roundtrip returned {len(ids)} rows for {len(docs)} docs")
    for i, t in zip(ids.tolist(), tokens):
        if t is None or not np.array_equal(np.asarray(t), docs[i]):
            _fail(f"doc {i} does not survive the roundtrip")


def gate_survivors(docs, min_distinct_ratio: float) -> set:
    """Docs whose distinct-token share reaches the quality gate (numpy)."""
    return {
        i for i, t in enumerate(docs)
        if len(t) and len(np.unique(t)) >= min_distinct_ratio * len(t)
    }


def check_gate(survivor_ids, docs, min_distinct_ratio: float) -> None:
    want = gate_survivors(docs, min_distinct_ratio)
    got = set(np.asarray(survivor_ids).tolist())
    if got != want:
        _fail(f"quality gate kept {len(got)} docs, numpy recount keeps {len(want)}"
              f" (diff {sorted(got ^ want)[:5]})")


def exact_groups(ids, docs) -> set:
    """Groups (>= 2 docs) of identical token sequences among ``ids``."""
    by_key: dict[bytes, list[int]] = {}
    for i in sorted(ids):
        by_key.setdefault(docs[i].tobytes(), []).append(i)
    return {tuple(g) for g in by_key.values() if len(g) >= 2}


def check_exact_groups(groups, ids, docs) -> None:
    got = {tuple(sorted(g)) for g in groups}
    want = exact_groups(ids, docs)
    if got != want:
        _fail(f"{len(got)} exact-duplicate groups, numpy recount finds {len(want)}")


def covered_positions(ids, docs, n: int) -> dict:
    """Per doc, the mask of token positions covered by any ``n``-gram that
    occurs >= 2 times across the docs in ``ids`` (within one doc too)."""
    ids = sorted(ids)
    keys = []
    for i in ids:
        t = np.ascontiguousarray(docs[i], dtype=np.int32)
        if len(t) >= n:
            w = np.lib.stride_tricks.sliding_window_view(t, n)
            keys.append(np.ascontiguousarray(w).view(np.dtype((np.void, 4 * n))).ravel())
    out = {i: np.zeros(len(docs[i]), dtype=bool) for i in ids}
    if not keys:
        return out
    _, inv, cnt = np.unique(np.concatenate(keys), return_inverse=True, return_counts=True)
    dup = cnt[inv.ravel()] >= 2
    start = 0
    for i in ids:
        m = max(len(docs[i]) - n + 1, 0)
        if m:
            d = dup[start : start + m]
            # position p is covered iff a dup gram starts in [p-n+1, p]
            c = np.concatenate(([0], np.cumsum(d)))
            p = np.arange(len(docs[i]))
            hi = np.minimum(p, m - 1) + 1
            lo = np.clip(p - n + 1, 0, m)
            out[i] = (c[hi] - c[lo]) > 0
            start += m
    return out


def check_span_removal(removed: dict, clean: dict, ids, docs, n: int) -> None:
    """Tokens removed per doc equal the numpy count of positions covered by
    repeated ``n``-grams of the stage's input, and the kept tokens are the
    uncovered ones in order."""
    cov = covered_positions(ids, docs, n)
    if set(removed) != set(cov):
        _fail(f"span removal returned {len(removed)} docs for {len(cov)} input docs")
    for i, mask in cov.items():
        if removed[i] != int(mask.sum()):
            _fail(f"doc {i}: {removed[i]} tokens removed, numpy counts {int(mask.sum())}")
        if not np.array_equal(np.asarray(clean[i]), docs[i][~mask]):
            _fail(f"doc {i}: kept tokens differ from the uncovered positions")


def quantize(v: np.ndarray) -> np.ndarray:
    return np.floor(np.asarray(v, dtype=np.float64) * QUANT + 0.5).astype(np.int64)


def cosine_micro(qa: np.ndarray, qb: np.ndarray) -> np.ndarray:
    """Exact-int cosine of quantized rows, as floor(c*1e6+0.5)."""
    dots = np.einsum("ij,ij->i", qa, qb)
    na = np.einsum("ij,ij->i", qa, qa)
    nb = np.einsum("ij,ij->i", qb, qb)
    c = dots.astype(np.float64) / np.sqrt(na.astype(np.float64) * nb.astype(np.float64))
    return np.floor(c * 1000000.0 + 0.5).astype(np.int64)


def check_pairs(id_a, id_b, micro, emb, allowed_ids, threshold_micro: int) -> None:
    """Every reported near-dup pair is ordered, unique, among the stage's
    input, and its exact-int cosine recomputed in numpy is reported
    exactly and reaches the threshold."""
    id_a, id_b, micro = (np.asarray(x, dtype=np.int64) for x in (id_a, id_b, micro))
    if len(id_a) == 0:
        return
    if (id_a >= id_b).any():
        _fail("pair with id_a >= id_b")
    if len(set(zip(id_a.tolist(), id_b.tolist()))) != len(id_a):
        _fail("duplicate pair")
    allowed = np.asarray(sorted(allowed_ids))
    if not (np.isin(id_a, allowed).all() and np.isin(id_b, allowed).all()):
        _fail("pair references a doc outside the semantic-dedup input")
    q = quantize(emb)
    want = cosine_micro(q[id_a], q[id_b])
    bad = np.flatnonzero(want != micro)
    if len(bad):
        j = bad[0]
        _fail(f"pair ({id_a[j]},{id_b[j]}): cosine {micro[j]} != numpy {want[j]}")
    if (want < threshold_micro).any():
        _fail("pair below the cosine threshold")


def union_find_labels(id_a, id_b) -> dict:
    """Connected components of the pair graph, labelled by min member id."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(np.asarray(id_a).tolist(), np.asarray(id_b).tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_clusters(labels: dict, id_a, id_b) -> None:
    want = union_find_labels(id_a, id_b)
    if dict(labels) != want:
        diff = sorted(set(labels.items()) ^ set(want.items()))[:5]
        _fail(f"clusters differ from union-find over the reported pairs: {diff}")


def sample_gate(ids, source, rates: dict, seed: str) -> set:
    """The deterministic mix sample recomputed with hashlib: keep a doc iff
    the first 60 md5 bits of '<seed>:<doc_id>' fall under its source rate."""
    out = set()
    for i in ids:
        thr = int(rates.get(source[i], 0.0) * (1 << 60))
        h = int(hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:15], 16)
        if h < thr:
            out.add(i)
    return out


def check_training_set(rows: dict, expected_ids: set, expected_len: dict, source, ctx: int) -> None:
    """The written training set holds exactly the expected docs with their
    cleaned lengths, and its pack offsets equal a numpy per-source cumsum
    in doc-id order (with the window math derived from them)."""
    ids = np.asarray(rows["doc_id"], dtype=np.int64)
    if set(ids.tolist()) != expected_ids or len(ids) != len(expected_ids):
        _fail(f"training set has {len(ids)} docs, expected {len(expected_ids)}")
    n_tok = np.asarray(rows["n_tok"], dtype=np.int64)
    for i, n in zip(ids.tolist(), n_tok.tolist()):
        if n != expected_len[i]:
            _fail(f"doc {i}: packed length {n} != cleaned length {expected_len[i]}")
    src = np.asarray(rows["source"])
    if any(source[i] != s for i, s in zip(ids.tolist(), src.tolist())):
        _fail("training row carries the wrong source")
    start = np.asarray(rows["start_off"], dtype=np.int64)
    wf = np.asarray(rows["win_first"], dtype=np.int64)
    wl = np.asarray(rows["win_last"], dtype=np.int64)
    cross = np.asarray(rows["crosses_boundary"], dtype=bool)
    for s in np.unique(src):
        idx = np.flatnonzero(src == s)
        idx = idx[np.argsort(ids[idx])]
        want = np.cumsum(n_tok[idx]) - n_tok[idx]
        if not np.array_equal(start[idx], want):
            _fail(f"source {s}: pack offsets differ from the numpy cumsum")
    if not (np.array_equal(wf, start // ctx) and np.array_equal(wl, (start + n_tok - 1) // ctx)
            and np.array_equal(cross, wf != wl)):
        _fail("pack windows do not follow from the offsets")


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def check_neighbours(result: dict, queries: np.ndarray, query_ids, vecs: np.ndarray,
                     n_indexed: int, k: int, recall_floor: float) -> float:
    """``result`` columns query_id, neighbor_id, cosine_micro, rank. Every
    neighbour is indexed, ranked by (cosine desc, id asc), scored with
    numpy's exact-int cosine; mean recall@k against numpy brute force over
    the indexed vectors reaches ``recall_floor``. Returns the recall."""
    qid = np.asarray(result["query_id"], dtype=np.int64)
    nid = np.asarray(result["neighbor_id"], dtype=np.int64)
    mic = np.asarray(result["cosine_micro"], dtype=np.int64)
    rank = np.asarray(result["rank"], dtype=np.int64)
    if ((nid < 0) | (nid >= n_indexed)).any():
        _fail("neighbour outside the indexed vectors")
    qq = quantize(queries)
    qv = quantize(vecs[:n_indexed])
    pos = {q: j for j, q in enumerate(np.asarray(query_ids).tolist())}
    if not set(qid.tolist()) <= set(pos):
        _fail("result for an unknown query")
    recalls = []
    for q, j in pos.items():
        sel = np.flatnonzero(qid == q)
        sel = sel[np.argsort(rank[sel])]
        if len(sel) > k or not np.array_equal(rank[sel], np.arange(1, len(sel) + 1)):
            _fail(f"query {q}: ranks {rank[sel].tolist()}")
        want = cosine_micro(np.repeat(qq[j : j + 1], len(sel), 0), qv[nid[sel]])
        if not np.array_equal(want, mic[sel]):
            _fail(f"query {q}: neighbour scores differ from numpy's exact-int cosine")
        order = np.lexsort((nid[sel], -mic[sel]))
        if not np.array_equal(order, np.arange(len(sel))):
            _fail(f"query {q}: neighbours not ranked by (cosine desc, id asc)")
        allc = cosine_micro(np.repeat(qq[j : j + 1], n_indexed, 0), qv)
        exact = np.lexsort((np.arange(n_indexed), -allc))[:k]
        recalls.append(len(set(exact.tolist()) & set(nid[sel].tolist())) / k)
    recall = float(np.mean(recalls))
    if recall < recall_floor:
        _fail(f"recall@{k} {recall:.3f} below the floor {recall_floor}")
    return recall
