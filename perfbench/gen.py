"""Seeded input generators. Single-threaded numpy; the same seed gives the
same bytes. Each generator writes the files the program reads and returns
what the benchmark needs to check the program's outputs (the expected
values are derived from what was written, never from the program).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# log lines (forward, stream)
# ---------------------------------------------------------------------------

WORDS = (
    "alpha bravo cache commit disk dns flush frame gateway handshake heap index "
    "kernel lease mount node offset packet queue quota replica retry route "
    "schema shard socket span thread token upload vacuum volume worker"
).split()
LEVELS = ("info", "warn", "error")
LEVEL_P = (0.6, 0.25, 0.15)
# line kinds: JSON object, regex-shaped, corrupt, blank
JSON, REGEX, CORRUPT, BLANK = 0, 1, 2, 3
KIND_P = (0.50, 0.35, 0.10, 0.05)
KEPT_LEVELS = (1, 2)  # warn, error: what the grep filter keeps on app.web
WEB_TAG, DB_TAG = "app.web", "app.db"

PLAN_YAML = """\
Inputs:
  - Type: tail
    Tag: {web_tag}
    Glob: {web_glob}
  - Type: tail
    Tag: {db_tag}
    Glob: {db_glob}
Parsers:
  - Type: json
    Name: json
  - Type: regex
    Name: regex
    Pattern: '^(?P<level>[A-Z]+) (?P<msg>.+)$'
Filters:
  - Type: grep
    Name: severity
    Match: {web_tag}
    Op: any
    Include:
      - '"level":"(error|ERROR)"'
      - '"level":"(warn|WARN)"'
Outputs:
  - Type: counter
    Name: count_all
    Match: '*'
  - Type: splunk
    Name: splunk_web
    Match: {web_tag}
  - Type: gelf
    Name: gelf_app
    Match: 'app.*'
  - Type: parquet
    Name: db_parquet
    Match: '*.db'
"""

# sink name -> which tags it receives
SINK_TAGS = {
    "count_all": (WEB_TAG, DB_TAG),
    "splunk_web": (WEB_TAG,),
    "gelf_app": (WEB_TAG, DB_TAG),
    "db_parquet": (DB_TAG,),
}
PAYLOAD_SINKS = {"splunk_web": "splunk", "gelf_app": "gelf"}  # sink -> payload format
FILE_SINKS = (*PAYLOAD_SINKS, "db_parquet")  # every sink but the counter writes files


def _shuffled_shares(rng: np.random.Generator, n: int, shares) -> np.ndarray:
    """n category codes in exactly the given shares (rounded), shuffled:
    the seed moves which item gets which code, not how many get each."""
    counts = np.floor(np.asarray(shares) * n).astype(np.int64)
    counts[np.argmax(shares)] += n - counts.sum()
    return rng.permutation(np.repeat(np.arange(len(counts)), counts))


def log_lines(rng: np.random.Generator, n: int, blanks: bool = True):
    """n log lines plus their kind and level codes."""
    p = np.array(KIND_P if blanks else KIND_P[:3], dtype=float)
    kinds = _shuffled_shares(rng, n, p / p.sum())
    levels = _shuffled_shares(rng, n, LEVEL_P)
    n_words = rng.integers(2, 9, size=n)
    word_idx = rng.integers(0, len(WORDS), size=int(n_words.sum()))
    codes = rng.integers(100, 600, size=n)
    users = rng.integers(0, 5000, size=n)
    variant = rng.integers(0, 3, size=n)
    lines = []
    w = 0
    for i in range(n):
        msg = " ".join(WORDS[j] for j in word_idx[w : w + n_words[i]])
        w += n_words[i]
        k, lv = kinds[i], LEVELS[levels[i]]
        if k == JSON:
            lines.append(
                '{"msg":"%s","level":"%s","code":%d,"user":"u%d"}' % (msg, lv, codes[i], users[i])
            )
        elif k == REGEX:
            lines.append(f"{lv.upper()} {msg} code={codes[i]}")
        elif k == CORRUPT:
            v = variant[i]
            if v == 0:  # truncated JSON object
                lines.append('{"level":"%s","msg":"%s' % (lv, msg))
            elif v == 1:  # JSON array, not an object
                lines.append("[%d,%d]" % (codes[i], users[i]))
            else:  # free text the regex does not accept
                lines.append(f"{msg} level={lv}")
        else:
            lines.append("   " if variant[i] else "")
    return lines, kinds, levels


def kept(tag: str, kinds: np.ndarray, levels: np.ndarray) -> np.ndarray:
    """Which (non-blank) lines leave the filter chain: the grep filter only
    gates app.web, where it keeps parsed warn/error lines."""
    live = kinds != BLANK
    if tag != WEB_TAG:
        return live
    return live & (kinds != CORRUPT) & np.isin(levels, KEPT_LEVELS)


def expected_sink_counts(kept_by_tag: dict[str, int]) -> dict[str, int]:
    return {s: sum(kept_by_tag[t] for t in tags) for s, tags in SINK_TAGS.items()}


def write_plan(root: str, web_glob: str, db_glob: str) -> str:
    """The YAML plan both log workloads run (its inputs matter to forward
    only; stream feeds its own file stream to the same parsers, filter and
    sinks)."""
    path = os.path.join(root, "plan.yaml")
    with open(path, "w") as fh:
        fh.write(PLAN_YAML.format(web_tag=WEB_TAG, db_tag=DB_TAG, web_glob=web_glob,
                                  db_glob=db_glob))
    return path


def gen_forward(seed: int, root: str, files_per_input: int, lines_per_file: int) -> dict:
    """Two tail inputs (app.web, app.db) of ``files_per_input`` log files
    each, and the YAML plan that reads them."""
    rng = np.random.default_rng([seed, 1])
    kept_by_tag = {WEB_TAG: 0, DB_TAG: 0}
    kinds_all = []
    globs = {}
    for tag, sub in ((WEB_TAG, "web"), (DB_TAG, "db")):
        d = os.path.join(root, "logs", sub)
        os.makedirs(d, exist_ok=True)
        globs[tag] = os.path.join(d, "*.log")
        for f in range(files_per_input):
            lines, kinds, levels = log_lines(rng, lines_per_file)
            with open(os.path.join(d, f"part-{f:03d}.log"), "w") as fh:
                fh.write("\n".join(lines) + "\n")
            kept_by_tag[tag] += int(kept(tag, kinds, levels).sum())
            kinds_all.append(kinds)
    kinds_all = np.concatenate(kinds_all)
    return {
        "plan": write_plan(root, globs[WEB_TAG], globs[DB_TAG]),
        "lines": int((kinds_all != BLANK).sum()),
        "parsed": int(np.isin(kinds_all, (JSON, REGEX)).sum()),
        "unparsed": int((kinds_all == CORRUPT).sum()),
        "kept": kept_by_tag[WEB_TAG] + kept_by_tag[DB_TAG],
        "sinks": expected_sink_counts(kept_by_tag),
    }


STREAM_SCHEMA = pa.schema(
    [
        ("raw", pa.string()),
        ("source", pa.string()),
        ("line_num", pa.int64()),
        ("tag", pa.string()),
        ("host", pa.string()),
        ("input_source", pa.string()),
        ("ingest_time", pa.timestamp("us", tz="UTC")),
    ]
)
STREAM_SCHEMA_DDL = (  # the same schema, as the stream reader declares it
    "raw string, source string, line_num bigint, tag string, host string,"
    " input_source string, ingest_time timestamp"
)


def gen_stream(seed: int, root: str, n_files: int, lines_per_file: int) -> dict:
    """A backlog of small parquet files of already-tailed lines, half
    app.web and half app.db rows in every file. Returns the per-file,
    per-sink expected counts."""
    rng = np.random.default_rng([seed, 2])
    d = os.path.join(root, "backlog")  # the stream source reads every file here
    os.makedirs(d, exist_ok=True)
    per_file = {}
    base_us = 1_790_000_000_000_000
    for f in range(n_files):
        name = f"batch-{f:03d}.parquet"
        lines, kinds, levels = log_lines(rng, lines_per_file, blanks=False)
        web = rng.random(lines_per_file) < 0.5
        tags = np.where(web, WEB_TAG, DB_TAG)
        table = pa.table(
            {
                "raw": lines,
                "source": [name] * lines_per_file,
                "line_num": np.arange(1, lines_per_file + 1, dtype=np.int64),
                "tag": tags.tolist(),
                "host": ["bench"] * lines_per_file,
                "input_source": ["tail"] * lines_per_file,
                "ingest_time": pa.array(
                    np.full(lines_per_file, base_us + f * 1_000_000, dtype=np.int64),
                    type=pa.timestamp("us", tz="UTC"),
                ),
            },
            schema=STREAM_SCHEMA,
        )
        pq.write_table(table, os.path.join(d, name))
        kept_by_tag = {
            WEB_TAG: int(kept(WEB_TAG, kinds[web], levels[web]).sum()),
            DB_TAG: int(kept(DB_TAG, kinds[~web], levels[~web]).sum()),
        }
        per_file[name] = expected_sink_counts(kept_by_tag)
    return {"dir": d, "lines": n_files * lines_per_file, "per_file": per_file}


# ---------------------------------------------------------------------------
# token corpus (curate)
# ---------------------------------------------------------------------------

VOCAB = 50257
SOURCES = ("src-hot", "src-a", "src-b", "src-c", "src-d", "src-e", "src-f", "src-g")
SOURCE_P = (0.60, 0.15, 0.10, 0.06, 0.04, 0.025, 0.015, 0.01)
CLEAN_HEAD = 16  # ids below this are plain docs: they seed the IVF buckets
CORPUS_FILES = 4
# planted shares among ids >= CLEAN_HEAD
DUP_SHARE, SPAN_SHARE, LOWQ_SHARE, NEAR_SHARE = 0.06, 0.15, 0.04, 0.06
EMB_DIM, EMB_CLUSTERS = 16, 8


def gen_corpus(seed: int, root: str, n_docs: int) -> dict:
    """Token-sequence corpus with a skewed source mix and planted
    structure: exact duplicate docs, shared boilerplate spans, low-quality
    (few distinct tokens) docs and near-duplicate embeddings."""
    rng = np.random.default_rng([seed, 3])
    lengths = np.clip(rng.lognormal(np.log(96), 0.45, n_docs), 16, 320).astype(np.int64)
    common = rng.integers(0, VOCAB, size=200)
    spans_pool = [rng.integers(0, VOCAB, size=int(rng.integers(12, 41))) for _ in range(24)]
    # 0 plain, 1 boilerplate span, 2 low quality, 3 exact duplicate; the
    # first CLEAN_HEAD docs stay plain
    plain = 1.0 - SPAN_SHARE - LOWQ_SHARE - DUP_SHARE
    kind = np.zeros(n_docs, dtype=np.int8)
    kind[CLEAN_HEAD:] = _shuffled_shares(
        rng, n_docs - CLEAN_HEAD, (plain, SPAN_SHARE, LOWQ_SHARE, DUP_SHARE)
    )
    docs: list[np.ndarray] = []
    for i in range(n_docs):
        L = int(lengths[i])
        if kind[i] == 3:
            docs.append(docs[int(rng.integers(0, i))].copy())
            continue
        if kind[i] == 2:
            docs.append(rng.choice(rng.integers(0, VOCAB, size=3), size=L).astype(np.int32))
            continue
        toks = np.where(
            rng.random(L) < 0.2, rng.choice(common, size=L), rng.integers(0, VOCAB, size=L)
        ).astype(np.int32)
        if kind[i] == 1:
            sp = spans_pool[int(rng.integers(0, len(spans_pool)))].astype(np.int32)
            at = int(rng.integers(0, L + 1))
            toks = np.concatenate([toks[:at], sp, toks[at:]])
        docs.append(toks)
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    emb = centers[rng.integers(0, EMB_CLUSTERS, size=n_docs)] + 0.35 * rng.normal(
        size=(n_docs, EMB_DIM)
    )
    near = CLEAN_HEAD + np.flatnonzero(
        _shuffled_shares(rng, n_docs - CLEAN_HEAD, (1.0 - NEAR_SHARE, NEAR_SHARE))
    )
    for i in near:
        emb[i] = emb[int(rng.integers(0, i))] + 0.002 * rng.normal(size=EMB_DIM)
    source = np.array(SOURCES)[_shuffled_shares(rng, n_docs, SOURCE_P)]
    ids = np.arange(n_docs, dtype=np.int64)
    d = os.path.join(root, "corpus")
    os.makedirs(d, exist_ok=True)
    for f, part in enumerate(np.array_split(ids, CORPUS_FILES)):
        lo, hi = int(part[0]), int(part[-1]) + 1
        table = pa.table(
            {
                "doc_id": pa.array(ids[lo:hi]),
                "tokens": pa.array([docs[i] for i in range(lo, hi)], type=pa.list_(pa.int32())),
                "n_tok": pa.array([len(docs[i]) for i in range(lo, hi)], type=pa.int32()),
                "source": pa.array(source[lo:hi].tolist()),
                "embedding": pa.array(list(emb[lo:hi]), type=pa.list_(pa.float64())),
            }
        )
        pq.write_table(table, os.path.join(d, f"part-{f:03d}.parquet"))
    return {
        "dir": d,
        "docs": docs,
        "source": source,
        "emb": emb,
        "tokens": int(sum(len(t) for t in docs)),
        "n_docs": n_docs,
    }


# ---------------------------------------------------------------------------
# vectors (search)
# ---------------------------------------------------------------------------

QUERY_ID_BASE = 1_000_000_000
CLUSTER_LAYOUT_SEED = 20260418
VEC_DIM, VEC_CLUSTERS = 16, 12


def gen_vectors(
    seed: int, root: str, n_vectors: int, increments: int, queries_per_batch: int
) -> dict:
    """Clustered vectors split into ``increments`` parquet batches (ids
    0..n-1, the first increment trains the quantizer) and one query batch
    per increment (ids from QUERY_ID_BASE, drawn near the same clusters).
    The cluster layout is fixed and vectors go to clusters round-robin, so
    bucket sizes do not move with the seed; the seed draws every point."""
    rng = np.random.default_rng([seed, 4])
    centers = np.random.default_rng(CLUSTER_LAYOUT_SEED).normal(size=(VEC_CLUSTERS, VEC_DIM)) * 2.0
    vecs = centers[np.arange(n_vectors) % VEC_CLUSTERS] + rng.normal(size=(n_vectors, VEC_DIM))
    n_q = increments * queries_per_batch
    qv = centers[np.arange(n_q) % VEC_CLUSTERS] + rng.normal(size=(n_q, VEC_DIM))
    d = os.path.join(root, "vectors")
    os.makedirs(d, exist_ok=True)
    inc_dirs, q_dirs = [], []
    bounds = np.linspace(0, n_vectors, increments + 1).astype(np.int64)
    for b in range(increments):
        lo, hi = int(bounds[b]), int(bounds[b + 1])
        p = os.path.join(d, f"inc-{b:02d}")
        os.makedirs(p)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(lo, hi, dtype=np.int64)),
                "embedding": pa.array(list(vecs[lo:hi]), type=pa.list_(pa.float64())),
            }),
            os.path.join(p, "part-000.parquet"),
        )
        inc_dirs.append(p)
        qlo, qhi = b * queries_per_batch, (b + 1) * queries_per_batch
        p = os.path.join(d, f"queries-{b:02d}")
        os.makedirs(p)
        pq.write_table(
            pa.table({
                "vec_id": pa.array(np.arange(qlo, qhi, dtype=np.int64) + QUERY_ID_BASE),
                "embedding": pa.array(list(qv[qlo:qhi]), type=pa.list_(pa.float64())),
            }),
            os.path.join(p, "part-000.parquet"),
        )
        q_dirs.append(p)
    return {
        "vecs": vecs, "queries": qv, "bounds": bounds,
        "inc_dirs": inc_dirs, "q_dirs": q_dirs, "qpb": queries_per_batch,
    }

