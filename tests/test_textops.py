"""Training-data ops: textstats / dedup / similarity vs pure-Python goldens."""

import hashlib
import json
import math

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark.functions import dedup as dd
from go_log_forwarder_spark.functions import multimodal as mm
from go_log_forwarder_spark.functions import similarity as sim
from go_log_forwarder_spark.functions import textstats as ts

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the cat sat on the hat"),
    (2, "der hund ist nicht ein hut"),
    (3, "le chat est dans la maison"),
    (4, "completely different words here entirely"),
    (5, "the cat sat on the mat"),  # exact dup of 0
    (6, "zz"),  # single word (fingerprint n<3 path)
]


def hex60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def micro_py(x: float) -> int:
    return math.floor(x * 1000000.0 + 0.5)


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    out = {r["text_hash"]: r for r in dd.exact_dedup(docs_df).collect()}
    h = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert out[h]["n_dups"] == 2
    assert out[h]["keeper"] == 0
    assert len(out) == 6


def test_subword_unicode_whitespace_parity(spark):
    # the kernel MUST tokenize with the same ASCII \s class as
    # words_col/words_sql: Python's unicode-aware \s would split
    # NBSP/NEL/U+2000.. and hash-mismatch the oracle (self-review fix)
    import duckdb

    from go_log_forwarder_spark.functions import subword as sw

    corpus = [
        (1, "ab\u00a0cd ef"),       # NBSP stays INSIDE the word
        (2, "xx yy\tzz"),            # tab IS a separator (ASCII \s)
        (3, "ne\x85l u\u2009s"),    # NEL + thin space stay inside
        (4, " lead trail "),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    vocab = sw.train_vocab(df)
    got = {
        r["doc_id"]: (r["n_tokens"], r["tokens_md5"])
        for r in sw.encode_docs(df, vocab).collect()
    }
    assert got[2][0] == 3  # tab split three ways (ASCII \\s)
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(sw.subword_oracle_sql("documents")).fetchall()
    }
    assert got == oracle


def test_subword_encode_golden(spark):
    # VERDICT r4 item 8: greedy longest-match subword encode over a
    # corpus-derived vocab, pinned against a hand-computed golden AND the
    # DuckDB pointer-chasing oracle.
    import duckdb

    from go_log_forwarder_spark.functions import subword as sw

    corpus = [
        (1, "abab abab cd"),
        (2, "abab dd"),
        (3, "cdcd abab"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    vocab = sw.train_vocab(df, top_k=3)
    # occurrences: "abab" x4, "cd" x1, "dd" x1, "cdcd" x1
    # 2-grams: ab x8, ba x4, cd x3, dc x1, dd x1; 3-grams: aba x4, bab x4,
    # cdc x1, dcd x1; 4-grams: abab x4, cdcd x1
    # top-3 by (count desc, piece asc): ab(8), aba(4), abab(4) -> ties at 4
    # break lexicographically: aba < abab < ba -> top3 = ab, aba, abab
    # singles: a b c d. vocab sorted: a,ab,aba,abab,b,c,d -> ids 1..7
    assert vocab == {"a": 1, "ab": 2, "aba": 3, "abab": 4, "b": 5, "c": 6, "d": 7}
    got = {r["doc_id"]: (r["n_tokens"], r["tokens_md5"]) for r in
           sw.encode_docs(df, vocab).collect()}
    import hashlib as hl

    def md5(ids):
        return hl.md5(",".join(map(str, ids)).encode()).hexdigest()

    # greedy: "abab" -> [abab]; "cd" -> [c, d]; "dd" -> [d, d];
    # "cdcd" -> [c, d, c, d]
    assert got == {
        1: (4, md5([4, 4, 6, 7])),
        2: (3, md5([4, 7, 7])),
        3: (5, md5([6, 7, 6, 7, 4])),
    }

    # DuckDB oracle twin agrees
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2])
        for r in con.execute(sw.subword_oracle_sql("documents", top_k=3)).fetchall()
    }
    assert oracle == got

    # encode is a map-side Arrow kernel: ZERO shuffle in its plan
    plan = sw.encode_docs(df, vocab)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # out-of-vocab characters stay loud
    df2 = spark.createDataFrame([(9, "zz")], "doc_id long, text string")
    with pytest.raises(Exception, match="not in vocab"):
        sw.encode_docs(df2, vocab).collect()


SPAN_CORPUS = [
    (1, "a b c d e f"),
    (2, "x y a b c d q"),
    (3, "p q r s p q r s"),
    (4, "a b c z0 z1 z2 z3 a b c"),
    (5, "completely unique words here indeed"),
]
TOKEN_CORPUS = [
    (1, [1, 2, 3, 4, 5, 6]),
    (2, [9, 9, 1, 2, 3, 4, 7]),
    (3, [5, 6, 7, 8, 5, 6, 7, 8]),
    (4, [1, 2, 3, 50, 51, 52, 53, 1, 2, 3]),
    (5, [100, 101, 102, 103, 104]),
]


def test_substring_spans_golden(spark):
    # span-level (exact-substring) dedup — VERDICT r4 item 1. n=3 shingles:
    # doc 1/2 share the 4-gram "a b c d" (two overlapping dup 3-grams);
    # doc 3 repeats "p q r s" INTRA-doc and the two runs' covered ranges
    # touch (gap == n) so they merge into ONE span; doc 4 repeats "a b c"
    # with gap > n -> TWO spans; doc 5 has no repeats -> no rows.
    import duckdb

    df = spark.createDataFrame(SPAN_CORPUS, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["span_len"], r["n_shingles"])
        for r in dd.substring_spans(df, n=3).collect()
    }
    assert got == {
        (1, 1): (4, 4, 2),   # "a b c d" via dup 3-grams at pos 1,2
        (2, 3): (6, 4, 2),
        (3, 1): (8, 8, 4),   # intra-doc repeat; runs merge (gap == n)
        (4, 1): (3, 3, 1),   # "a b c" twice, far apart -> two spans
        (4, 8): (10, 3, 1),
    }

    # DuckDB oracle twin agrees row-for-row
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(dd.substring_spans_sql("documents", n=3)).fetchall()
    }
    assert oracle == got


def test_span_incremental_index(spark, tmp_path, monkeypatch):
    # round-6 shortlist item 1: incremental substring-span dedup. A second
    # run shingles ONLY its own batch; history arrives as (h, n_occ) count
    # partials off the snapshot store; a cross-batch repeat (first copy in
    # batch 1, second in batch 2) IS caught; and the result equals the
    # full-corpus substring_spans restricted to the batch's docs — exactly.
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    corpus = [
        (1, "a b c d e f"),
        (2, "x y a b c d q"),
        (3, "p q r s p q r s"),
        (4, "m n o a b c d w"),       # cross-batch repeat of "a b c d"
        (5, "completely unique words here indeed"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    b1 = df.filter(F.col("doc_id") <= 2)
    b2 = df.filter(F.col("doc_id") >= 3)
    store = ParquetSnapshotStore(str(tmp_path))

    s1 = dd.span_index_increment(store, b1, n=3)
    assert s1 == 1
    run1 = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dd.span_incremental_spans(spark, store, b1, n=3).collect()
    }
    # batch-1 run: history is batch 1 itself -> equals batch-1-only spans
    want1 = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dd.substring_spans(b1, n=3).collect()
    }
    assert run1 == want1 and (1, 1, 4) in run1

    s2 = dd.span_index_increment(store, b2, n=3)
    assert s2 == 2
    # history counts are READ off snap= partials, never re-shingled: the
    # dup set handed to the span core scans only snapshot files
    core, dups = dd._find_spans, []
    monkeypatch.setattr(
        dd, "_find_spans", lambda k, w, n, dup: dups.append(dup) or core(k, w, n, dup)
    )
    got2 = dd.span_incremental_spans(spark, store, b2, n=3)
    files = dups[0].inputFiles()
    assert files and all("snap=" in f for f in files)
    rows2 = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"], r["n_shingles"])
        for r in got2.collect()
    }
    # exact equivalence: full-corpus spans restricted to batch-2 docs
    want2 = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_len"], r["n_shingles"])
        for r in dd.substring_spans(df, n=3).collect()
        if r["doc_id"] >= 3
    }
    assert rows2 == want2
    # the cross-batch repeat is in there (doc 4 shares "a b c d" with 1/2)
    assert any(r[0] == 4 for r in rows2)


def test_remove_repeated_spans_golden_and_oracle(spark):
    # the APPLY half of span dedup: covered words drop, survivors re-join,
    # span-free docs pass through; DuckDB twin agrees on every column
    import duckdb

    df = spark.createDataFrame(SPAN_CORPUS, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
        for r in dd.remove_repeated_spans(df, n=3).collect()
    }
    assert got == {
        1: ("e f", 2, 4),
        2: ("x y q", 3, 4),
        3: ("", 0, 8),                    # whole doc was one repeat span
        4: ("z0 z1 z2 z3", 4, 6),
        5: ("completely unique words here indeed", 5, 0),
    }

    con = duckdb.connect()
    con.register("documents", df.toPandas())
    oracle = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(dd.remove_spans_sql("documents", n=3)).fetchall()
    }
    assert oracle == got


def test_token_substring_spans_golden_and_oracle(spark):
    # VERDICT r5 item 1: the span family over TOKEN SEQUENCES (the form Lee
    # et al. define — their suffix array is over the tokenized corpus).
    # Same golden geometry as the word test: inter-doc repeat, intra-doc
    # merge at gap == n, two far-apart spans, a span-free doc.
    import duckdb

    df = spark.createDataFrame(TOKEN_CORPUS, "doc_id long, tokens array<int>")
    got = {
        (r["doc_id"], r["span_start"]): (r["span_end"], r["span_len"], r["n_shingles"])
        for r in dd.token_substring_spans(df, n=3).collect()
    }
    assert got == {
        (1, 1): (4, 4, 2),
        (2, 3): (6, 4, 2),
        (3, 1): (8, 8, 4),
        (4, 1): (3, 3, 1),
        (4, 8): (10, 3, 1),
    }

    con = duckdb.connect()
    con.register("tok_docs", df.toPandas())
    oracle = {
        (r[0], r[1]): (r[2], r[3], r[4])
        for r in con.execute(dd.token_substring_spans_sql("tok_docs", n=3)).fetchall()
    }
    assert oracle == got

    # APPLY half: covered tokens drop, survivors keep order, span-free
    # docs pass through; DuckDB twin agrees (its clean_str is the same
    # canonical comma-joined text the gate hashes)
    clean = {
        r["doc_id"]: (r["clean_tokens"], r["n_kept"], r["n_removed"])
        for r in dd.remove_repeated_token_spans(df, n=3).collect()
    }
    assert clean == {
        1: ([5, 6], 2, 4),
        2: ([9, 9, 7], 3, 4),
        3: ([], 0, 8),
        4: ([50, 51, 52, 53], 4, 6),
        5: ([100, 101, 102, 103, 104], 5, 0),
    }
    oracle_clean = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(dd.remove_token_spans_sql("tok_docs", n=3)).fetchall()
    }
    assert oracle_clean == {
        d: (",".join(str(t) for t in toks), k, rm)
        for d, (toks, k, rm) in clean.items()
    }


def test_token_shingle_packed_key_edges(spark):
    # r7 optimization pins: the Arrow sliding-window kernel's packed-int key
    # must behave exactly like the r6 string key's equality classes — docs
    # shorter than n contribute nothing, NULL token arrays contribute
    # nothing, negative int32 values pack injectively (unsigned low word),
    # and an EVEN n leaves the tail token in its own key word.
    corpus = [
        (1, [-1, -2, 3]),          # negative values, exactly n=3 long
        (2, [-1, -2, 3]),          # duplicate of 1 -> both fully spanned
        (3, [7, 8]),               # shorter than n -> no shingles
        (4, None),                 # NULL array -> no shingles
        # -1 vs -2 in the low half-word must NOT collide with each other
        (5, [-1, -2, -2]),
        (6, [-1, -1, -2]),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, tokens array<int>")
    sp = dd.token_shingle_positions(df, n=3).collect()
    by_doc = {}
    for r in sp:
        by_doc.setdefault(r["id"], []).append((r["pos"], tuple(r["h"])))
    assert sorted(by_doc) == [1, 2, 5, 6]          # docs 3, 4 emit nothing
    assert by_doc[1] == by_doc[2]                  # identical grams, same key
    keys = {by_doc[d][0][1] for d in (1, 2, 5, 6)}
    assert len(keys) == 3                          # 5 and 6 collide with nobody
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in dd.token_substring_spans(df, n=3).collect()
    }
    assert spans == {(1, 1, 3), (2, 1, 3)}

    # even n: tail token packs alone — a doc differing ONLY in the tail
    # token of the 2-gram must not share a key
    df2 = spark.createDataFrame(
        [(1, [5, 6]), (2, [5, 7]), (3, [5, 6])], "doc_id long, tokens array<int>"
    )
    sp2 = {(r["id"], tuple(r["h"])) for r in dd.token_shingle_positions(df2, n=2).collect()}
    assert len({h for _, h in sp2}) == 2
    assert {i for i, _ in sp2} == {1, 2, 3}


def test_token_shingle_count_partials_match_positions(spark):
    # r7 optimization pins the kernel-side partial counts (pyarrow hash
    # group_by since the follow-up pass; previously a void-view sort)
    # against the documented contract: summing the per-batch partials by
    # key equals token_shingle_positions(...).groupBy(h).count(), on a
    # dup-heavy corpus with short/NULL docs mixed in.
    import random

    rnd = random.Random(11)
    motifs = [[rnd.randint(0, 99) for _ in range(6)] for _ in range(8)]
    rows = []
    for doc in range(300):
        toks: list[int] = []
        for _ in range(rnd.randint(0, 5)):
            toks += rnd.choice(motifs)
        rows.append((doc, toks if toks else (None if doc % 2 else [])))
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    partial = {
        tuple(r["h"]): r["n"]
        for r in dd.token_shingle_count_partials(df, n=3)
        .groupBy("h")
        .agg(F.sum("n_occ").alias("n"))
        .collect()
    }
    full = {
        tuple(r["h"]): r["n"]
        for r in dd.token_shingle_positions(df, n=3)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert partial == full and len(full) > 8


def test_islands_kernel_matches_window_formulation(spark, monkeypatch):
    # the span core's two islands merges — the probe kernel's one-pass
    # breaks (broadcast side) and the per-doc window (scale side) — on an
    # adversarial position set: multi-island docs, islands closing exactly
    # at the gap == n boundary, > 20k duplicated positions, and the docs
    # spread over several Arrow batches. Each doc's key array carries the
    # dup key 0 at exactly its listed positions and a unique key elsewhere.
    import random

    rnd = random.Random(7)
    rows, want = [], {}
    for doc in range(400):
        pos, dups = 1, []
        for _ in range(rnd.randint(1, 120)):
            dups.append(pos)
            # mix sub-n gaps (same island) and super-n gaps (new island)
            pos += rnd.choice([1, 1, 2, 3, 4, 9, 15])
        ks = [doc * 10_000 + p for p in range(1, dups[-1] + 2)]
        for p in dups:
            ks[p - 1] = 0
        rows.append((doc, ks))
        start = prev = dups[0]
        cnt = 0
        for p in dups + [None]:
            if p is not None and p - prev <= 3:
                prev, cnt = p, cnt + 1
                continue
            want[(doc, start)] = (prev + 2, prev + 3 - start, cnt)
            if p is not None:
                start = prev = p
                cnt = 1
    assert sum(len(k) for _, k in rows) > 20000
    keyed = spark.createDataFrame(rows, "id long, _ks array<bigint>").coalesce(2)
    dup = spark.createDataFrame([(0,)], "h0 bigint")

    def spans(df):
        return {
            (r["doc_id"], r["span_start"]): (r["span_end"], r["span_len"], r["n_shingles"])
            for r in df.collect()
        }

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        probe = dd._find_spans(keyed, 1, 3, dup)
        assert "Window" not in probe._jdf.queryExecution().executedPlan().toString()
        kernel = spans(probe)
        monkeypatch.setattr(dd, "DUP_BROADCAST_ROWS", 0)
        fallback = dd._find_spans(keyed, 1, 3, dup)
        assert "Window" in fallback._jdf.queryExecution().executedPlan().toString()
        window = spans(fallback)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert kernel == window == want and len(kernel) > 400


def test_span_kernels_raise_on_duplicate_doc_id(spark):
    # each doc must be ONE input row for the probe kernel's islands; a
    # repeated id — adjacent, non-adjacent, or in a later Arrow batch of
    # the task — raises instead of merging two rows' positions into one
    # span (adjacent repeats used to slip through: (1, 1, 7, 7, 4))
    tok = [(1, list(range(1, 9))), (1, [1, 2, 3, 9, 9, 9, 9])]
    words = [(1, "a b c d e f g h"), (1, "a b c x x x x")]
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        for rows in (tok, [tok[0], (2, [7, 7, 7]), tok[1]]):
            df = spark.createDataFrame(rows, "doc_id long, tokens array<int>").coalesce(1)
            with pytest.raises(Exception, match="duplicate doc id"):
                dd.token_substring_spans(df, n=3).collect()
        for rows in (words, [words[0], (2, "q r s"), words[1]]):
            df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
            with pytest.raises(Exception, match="duplicate doc id"):
                dd.substring_spans(df, n=3).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_span_scale_side_matches_oracle(spark, monkeypatch, tmp_path, id_type):
    # the DUP_BROADCAST_ROWS fallback (positions ⋉ dup set through a
    # shuffle, per-doc window) against the DuckDB twins on the golden
    # corpora; a string doc_id always takes it, a numeric one only above
    # the gate (forced here)
    import duckdb

    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    if id_type == "long":
        monkeypatch.setattr(dd, "DUP_BROADCAST_ROWS", 0)

    def doc_id(i):
        return i if id_type == "long" else f"d{i}"

    con = duckdb.connect()

    def check(got_df, sql, table, pdf):
        assert "Window" in got_df._jdf.queryExecution().executedPlan().toString()
        con.register(table, pdf)
        got = {tuple(r) for r in got_df.select(
            "doc_id", "span_start", "span_end", "span_len", "n_shingles").collect()}
        assert got == {tuple(r) for r in con.execute(sql).fetchall()} and got

    docs = spark.createDataFrame(
        [(doc_id(i), t) for i, t in SPAN_CORPUS], f"doc_id {id_type}, text string"
    )
    check(dd.substring_spans(docs, n=3), dd.substring_spans_sql("documents", n=3),
          "documents", docs.toPandas())
    toks = spark.createDataFrame(
        [(doc_id(i), t) for i, t in TOKEN_CORPUS], f"doc_id {id_type}, tokens array<int>"
    )
    check(dd.token_substring_spans(toks, n=3),
          dd.token_substring_spans_sql("tok_docs", n=3), "tok_docs", toks.toPandas())

    # incremental read side: batch 2 under the full-corpus counts equals
    # the full-corpus oracle restricted to batch 2's docs
    batch1 = [(doc_id(i), t) for i, t in SPAN_CORPUS if i <= 2]
    batch2 = [(doc_id(i), t) for i, t in SPAN_CORPUS if i > 2]
    store = ParquetSnapshotStore(str(tmp_path))
    schema = f"doc_id {id_type}, text string"
    dd.span_index_increment(store, spark.createDataFrame(batch1, schema), n=3)
    b2 = spark.createDataFrame(batch2, schema)
    dd.span_index_increment(store, b2, n=3)
    ids2 = ", ".join(repr(d) for d, _ in batch2)
    check(dd.span_incremental_spans(spark, store, b2, n=3),
          f"SELECT * FROM ({dd.substring_spans_sql('documents', n=3)}) "
          f"WHERE doc_id IN ({ids2})", "documents", docs.toPandas())


def test_remove_token_spans_overlapping_caller_spans(spark):
    # r7 optimization pins the gap-slice cleaner against arbitrary
    # caller-supplied span relations: overlapping, touching and duplicate
    # spans must drop exactly the union of covered positions (the r6
    # exists()-filter semantics).
    df = spark.createDataFrame(
        [(1, [10, 11, 12, 13, 14, 15, 16, 17]), (2, [1, 2, 3])],
        "doc_id long, tokens array<int>",
    )
    spans = spark.createDataFrame(
        [
            (1, 2, 4), (1, 3, 5),   # overlap -> covers 2..5
            (1, 6, 6), (1, 6, 6),   # duplicate single -> covers 6 (touches 5)
            (2, 1, 3),              # whole doc
        ],
        "doc_id long, span_start long, span_end long",
    )
    got = {
        r["doc_id"]: (r["clean_tokens"], r["n_kept"], r["n_removed"])
        for r in dd.remove_repeated_token_spans(df, spans=spans).collect()
    }
    assert got == {1: ([10, 16, 17], 3, 5), 2: ([], 0, 3)}


def test_jaccard_pairs_golden(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_micro"]
        for r in dd.jaccard_pairs(docs_df, threshold=0.3).collect()
    }
    sets = {i: set(t.split()) for i, t in DOCS}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                inter = len(sets[a] & sets[b])
                if inter == 0:
                    continue
                j = inter / len(sets[a] | sets[b])
                if micro_py(j) >= 300000:
                    want[(a, b)] = micro_py(j)
    assert got == want
    assert (0, 5) in got and got[(0, 5)] == 1000000  # exact dup pair
    assert (0, 1) in got  # near dup


def test_lsh_incremental_index_no_recompute(spark, docs_df, tmp_path):
    # VERDICT r4 item 2: incremental cross-run dedup against a persisted
    # band index. A second run (a) signatures ONLY its own batch, (b) reads
    # old signatures off the snapshot store instead of recomputing them
    # (plan gate: snap= FileScans present, ZERO md5 in the pair plan), and
    # (c) union-of-runs equals the full-corpus recompute exactly.
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    store = ParquetSnapshotStore(str(tmp_path))
    b1 = docs_df.filter(F.col("doc_id") % 2 == 0)
    b2 = docs_df.filter(F.col("doc_id") % 2 == 1)

    s1 = dd.lsh_index_increment(store, b1)
    assert s1 == 1
    assert store.read(spark, dd.LSH_INDEX_TABLE).count() == dd.N_BANDS * b1.count()
    p1 = dd.lsh_incremental_pairs(spark, store, docs_df, s1, threshold=0.5).collect()

    s2 = dd.lsh_index_increment(store, b2)
    assert s2 == 2
    # crash-resume shape: only the NEW batch was signatured in run 2
    assert (
        store.read(spark, dd.LSH_INDEX_TABLE, after_snapshot=1).count()
        == dd.N_BANDS * b2.count()
    )
    p2df = dd.lsh_incremental_pairs(spark, store, docs_df, s2, threshold=0.5)
    # the ONLY files feeding the pair plan are the two index snapshots —
    # old signatures are READ, not recomputed
    files = p2df.inputFiles()
    assert any("snap=1" in f for f in files) and any("snap=2" in f for f in files)
    assert all("snap=" in f for f in files)
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    try:
        spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
        plan = p2df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "md5" not in plan.lower()  # no signature recomputation anywhere
    p2 = p2df.collect()

    inc = sorted((r["id_a"], r["id_b"], r["jaccard_micro"]) for r in p1 + p2)
    full = sorted(
        (r["id_a"], r["id_b"], r["jaccard_micro"])
        for r in dd.minhash_lsh_dedup(docs_df, threshold=0.5).collect()
    )
    assert inc == full and len(full) > 0
    assert len(p1) + len(p2) == len(inc)  # runs emit disjoint pair sets

    # unknown snapshot stays loud
    with pytest.raises(ValueError, match="not committed"):
        dd.lsh_incremental_pairs(spark, store, docs_df, 99)


def test_compaction_checkpoint_fence(spark, tmp_path):
    # round-6 shortlist item 2: a registered incremental consumer whose
    # checkpoint is below the newest snapshot FENCES compact() — the fold
    # would make read(after_snapshot=j) re-read every compacted row as
    # new. Advancing the checkpoint (or force=True) lifts the fence, and
    # a caught-up consumer reads nothing new post-compaction.
    from go_log_forwarder_spark.sources.storage import (
        CompactionFenced,
        ParquetSnapshotStore,
    )

    store = ParquetSnapshotStore(str(tmp_path))
    t = "fence_t"
    for k in range(3):
        store.append(spark.range(k * 10, k * 10 + 10).toDF("v"), t)
    store.set_checkpoint(t, "dedup-run", 2)  # lags behind snapshot 3

    with pytest.raises(CompactionFenced, match="dedup-run"):
        store.compact(spark, t, target_mb=1)
    assert store.snapshots(t) == [1, 2, 3]  # fence left the table untouched

    store.set_checkpoint(t, "dedup-run", 3)
    assert store.compact(spark, t, target_mb=1) == 3
    assert store.snapshots(t) == [3]
    # caught-up consumer sees nothing new; rows are intact
    assert store.read(spark, t, after_snapshot=3) is None
    assert store.read(spark, t).count() == 30

    # force=True overrides a lagging fence (accepting the re-read)
    store.append(spark.range(100, 110).toDF("v"), t)
    store.set_checkpoint(t, "dedup-run", 3)
    with pytest.raises(CompactionFenced):
        store.compact(spark, t, target_mb=1)
    assert store.compact(spark, t, target_mb=1, force=True) == 4
    assert store.read(spark, t).count() == 40


def test_compaction_reader_lease_fence(spark, tmp_path):
    # VERDICT r5 item 4: the quiescence contract is ENFORCED for every
    # reader, not just checkpointed consumers — read() registers an
    # ephemeral lease; an UNREGISTERED concurrent reader (different store
    # instance, no set_checkpoint) fences compact() until it releases or
    # its TTL expires (crashed reader).
    import os
    import time as _time

    from go_log_forwarder_spark.sources.storage import (
        CompactionFenced,
        ParquetSnapshotStore,
    )

    store = ParquetSnapshotStore(str(tmp_path))
    t = "lease_t"
    for k in range(2):
        store.append(spark.range(k * 10, k * 10 + 10).toDF("v"), t)

    # a separate process/instance reads — lazily: the plan is NOT consumed
    other = ParquetSnapshotStore(str(tmp_path))
    df = other.read(spark, t)
    with pytest.raises(CompactionFenced, match="lease"):
        store.compact(spark, t, target_mb=1)
    assert store.snapshots(t) == [1, 2]  # fence left the table untouched
    assert df.count() == 20  # the in-flight plan's snap= dirs survived

    # reader declares quiescence -> fold proceeds
    assert other.release_leases(t) == 1
    assert store.compact(spark, t, target_mb=1) == 2
    assert store.read(spark, t, lease=False).count() == 20

    # crashed reader: its lease expires after the TTL instead of fencing
    # forever (and the expired file is garbage-collected). The fence
    # assertion uses a LONG TTL (a loaded suite can take >1 s between
    # read and compact — a short TTL here flaked the whole test by
    # expiring early); expiry is then tested by re-opening the SAME lease
    # dir through a store configured with a zero TTL.
    store.append(spark.range(100, 105).toDF("v"), t)
    crashed = ParquetSnapshotStore(str(tmp_path), lease_ttl_sec=300.0)
    crashed.read(spark, t)
    ldir = os.path.join(str(tmp_path), t, "leases")
    assert len([f for f in os.listdir(ldir) if f.endswith(".json")]) == 1
    with pytest.raises(CompactionFenced, match="lease"):
        crashed.compact(spark, t, target_mb=1)
    _time.sleep(0.05)
    expired_view = ParquetSnapshotStore(str(tmp_path), lease_ttl_sec=0.01)
    assert expired_view.compact(spark, t, target_mb=1) == 3
    assert [f for f in os.listdir(ldir) if f.endswith(".json")] == []


def test_append_concurrent_writer_safety(spark, tmp_path):
    # ADVICE r5 (storage.py): two concurrent appenders must never pick the
    # same snapshot id (the second os.rename used to clobber the first
    # writer's manifest, silently losing its rows from every read).
    import os

    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    store = ParquetSnapshotStore(str(tmp_path))
    t = "cc_t"
    assert store.append(spark.range(0, 5).toDF("v"), t) == 1

    # simulate a concurrent writer that has RESERVED id 2 but not yet
    # committed: our append must skip to 3, not tie on 2
    mdir = os.path.join(str(tmp_path), t, "manifests")
    os.close(os.open(os.path.join(mdir, ".lock-2"), os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    assert store.append(spark.range(5, 10).toDF("v"), t) == 3
    # the other writer commits its reserved id explicitly; both survive
    assert store.append(spark.range(10, 15).toDF("v"), t, snapshot_id=2) == 2
    assert store.snapshots(t) == [1, 2, 3]
    assert store.read(spark, t, lease=False).count() == 15

    # explicit-id replay: refuses BEFORE touching the committed data
    with pytest.raises(ValueError, match="already committed"):
        store.append(spark.range(99, 100).toDF("v"), t, snapshot_id=2)
    assert store.read(spark, t, lease=False).count() == 15

    # a crashed writer's un-committed reservation burns its id: holes are
    # skipped by readers and never reused by allocation
    os.close(os.open(os.path.join(mdir, ".lock-4"), os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    assert store.append(spark.range(15, 20).toDF("v"), t) == 5
    assert store.snapshots(t) == [1, 2, 3, 5]
    assert store.read(spark, t, after_snapshot=3, lease=False).count() == 5


def test_lsh_index_compaction(spark, docs_df, tmp_path):
    # Round-5 TODO closure: fold N per-batch index snapshots into one
    # (Iceberg rewrite_data_files analog). Bands identical, one snap= dir,
    # subsequent increments keep working, and the read path ignores stale
    # pre-compaction manifests (the crash-between-commit-and-cleanup case).
    import json
    import os

    from go_log_forwarder_spark.sources.storage import (
        CompactionFenced,
        ParquetSnapshotStore,
    )

    store = ParquetSnapshotStore(str(tmp_path))
    thirds = [docs_df.filter(F.col("doc_id") % 3 == r) for r in range(3)]
    for b in thirds:
        dd.lsh_index_increment(store, b)
    assert store.snapshots(dd.LSH_INDEX_TABLE) == [1, 2, 3]
    before = sorted(
        (r["id"], r["band"], r["bsig"])
        for r in store.read(spark, dd.LSH_INDEX_TABLE).collect()
    )
    # keep a stale pre-compaction manifest around to simulate a crash
    # between the atomic manifest rename and the best-effort cleanup
    mpath = os.path.join(str(tmp_path), dd.LSH_INDEX_TABLE, "manifests", "2.json")
    stale = open(mpath).read()

    # the collected read above holds a lease — compaction is FENCED until
    # the reader declares quiescence (round-6: default-on for ALL readers)
    with pytest.raises(CompactionFenced, match="lease"):
        dd.lsh_index_compact(spark, store)
    assert store.release_leases(dd.LSH_INDEX_TABLE) == 1
    assert dd.lsh_index_compact(spark, store) == 3
    assert store.snapshots(dd.LSH_INDEX_TABLE) == [3]
    compacted = store.read(spark, dd.LSH_INDEX_TABLE)
    assert sorted(
        (r["id"], r["band"], r["bsig"]) for r in compacted.collect()
    ) == before
    # the plan reads ONE compacted dir (old snap dirs are gone)
    assert len({f.rsplit("/", 2)[1] for f in compacted.inputFiles()}) == 1
    assert all("snap=3-compact-" in f for f in compacted.inputFiles())

    # crash window: restore the stale subsumed manifest — readers must
    # ignore it purely from the subsuming manifest's metadata (its data
    # dir no longer exists, so even touching it would fail)
    with open(mpath, "w") as f:
        f.write(stale)
    assert store.snapshots(dd.LSH_INDEX_TABLE) == [3]
    assert store.read(spark, dd.LSH_INDEX_TABLE).count() == len(before)
    os.remove(mpath)

    # incremental contract continues: next batch appends snapshot 4 and a
    # new run sees ONLY it as new
    s4 = dd.lsh_index_increment(store, docs_df.filter(F.col("doc_id") % 3 == 0))
    assert s4 == 4
    newb = store.read(spark, dd.LSH_INDEX_TABLE, after_snapshot=3)
    assert newb.count() == dd.N_BANDS * thirds[0].count()
    assert all("snap=4" in f for f in newb.inputFiles())
    # compacting a single-survivor + one-new table folds again to id 4
    store.release_leases()
    assert dd.lsh_index_compact(spark, store) == 4
    assert store.read(spark, dd.LSH_INDEX_TABLE).count() == len(before) + dd.N_BANDS * thirds[0].count()
    # nothing to do on an already-compact table (short-circuits before the
    # lease fence — the read above still holds one)
    assert dd.lsh_index_compact(spark, store) is None
    # manifest bookkeeping: exactly one live manifest file remains
    mdir = os.path.join(str(tmp_path), dd.LSH_INDEX_TABLE, "manifests")
    live = [f for f in os.listdir(mdir) if f.endswith(".json")]
    assert live == ["4.json"]
    assert json.load(open(os.path.join(mdir, "4.json")))["subsumes"] == [3]


def test_minhash_lsh_finds_exact_and_near_dups(spark, docs_df):
    pairs = {
        (r["id_a"], r["id_b"]) for r in dd.minhash_lsh_dedup(docs_df, threshold=0.5).collect()
    }
    assert (0, 5) in pairs  # identical docs always collide in every band
    # disjoint docs never collide
    assert all(4 not in p for p in pairs)


def test_minhash_signature_golden(spark, docs_df):
    sig = dd.minhash_signature(docs_df).filter(F.col("id") == 0).head()["sig"]
    words = DOCS[0][1].split()
    want = [min(hex60_py(f"{s}:{w}") for w in words) for s in range(dd.N_MINHASH)]
    assert list(sig) == want


def test_simhash_golden(spark, docs_df):
    got = {r["id"]: r["simhash"] for r in dd.simhash(docs_df).collect()}
    for i, text in DOCS:
        words = set(text.split())
        simv = 0
        for j in range(dd.SIMHASH_BITS):
            vote = sum(1 if (hex60_py(w) >> j) & 1 else -1 for w in words)
            if vote > 0:
                simv |= 1 << j
        assert got[i] == simv, i


def test_lang_guess(spark, docs_df):
    got = {r["doc_id"]: r["g"] for r in docs_df.select(
        "doc_id", ts.lang_guess_col(F.col("text")).alias("g")).collect()}
    assert got[0] == "en"
    assert got[2] == "de"
    assert got[3] == "fr"
    assert got[6] == "und"  # no stopword hits at all


def test_token_count_and_quality(spark, docs_df):
    r = docs_df.filter(F.col("doc_id") == 0).select(
        *ts.token_count_cols(F.col("text")), *ts.quality_cols(F.col("text"))
    ).head()
    assert r["n_ws_tokens"] == 6
    assert r["n_bpe_tokens"] == 6  # all alpha words
    assert r["n_words"] == 6
    assert r["n_stopwords"] == 2  # 'the' twice
    assert r["stopword_ratio_micro"] == micro_py(2 / 6)


def test_fingerprint_golden(spark, docs_df):
    r = docs_df.filter(F.col("doc_id") == 0).select(
        *ts.fingerprint_cols(F.col("text"))).head()
    words = DOCS[0][1].split()
    grams = [" ".join(words[i:i + 3]) for i in range(len(words) - 2)]
    assert r["md5_fp"] == hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert r["rolling_fp"] == min(hex60_py(g) for g in grams)
    # single-word doc: the 3-gram window degrades to the word itself
    r6 = docs_df.filter(F.col("doc_id") == 6).select(
        *ts.fingerprint_cols(F.col("text"))).head()
    assert r6["rolling_fp"] == hex60_py("zz")


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.9, 0.1, 0.0, 0.0]),
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [-1.0, 0.0, 0.0, 0.0]),
    (4, [0.7, 0.7, 0.0, 0.0]),
]


def test_brute_force_topk(spark):
    emb = spark.createDataFrame(
        [(i, v) for i, v in VECS], "vec_id long, embedding array<float>"
    )
    out = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") == 0), k=4).collect()
    order = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 4, 2, 3]  # by true cosine to e1
    by_id = {r["neighbor_id"]: r["cosine_micro"] for r in out}
    assert by_id[2] == 0  # orthogonal
    assert by_id[3] == -1000000  # opposite
    want1 = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(by_id[1] / 1e6 - want1) < 1e-5


def test_lsh_topk_bucket_restricts(spark):
    emb = spark.createDataFrame(
        [(i, v) for i, v in VECS], "vec_id long, embedding array<float>"
    )
    out = sim.lsh_topk(emb, emb.filter(F.col("vec_id") == 0), k=4).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 3 not in ids  # negative first dim -> different sign bucket
    assert 1 in ids


def test_all_pairs_cosine_matches_column_kernel(spark):
    """numpy block-matmul kernel == the Column cosine on identical inputs."""
    emb = spark.createDataFrame(
        [(i, v) for i, v in VECS], "vec_id long, embedding array<float>"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine_micro"]
        for r in sim.all_pairs_cosine_micro(emb, -2_000_000).collect()
    }
    # golden from the Column path (brute_force_topk cosine per pair)
    import math

    def q(v):
        return [math.floor(float(x) * 10000 + 0.5) for x in v]

    want = {}
    for i, a in VECS:
        for j, b in VECS:
            if i < j:
                qa, qb = q(a), q(b)
                dot = sum(x * y for x, y in zip(qa, qb))
                na = sum(x * x for x in qa)
                nb = sum(x * x for x in qb)
                want[(i, j)] = math.floor(dot / math.sqrt(na * nb) * 1e6 + 0.5)
    assert got == want


def test_ivf_assign_and_search(spark):
    emb = spark.createDataFrame(
        [(i, v) for i, v in VECS], "vec_id long, embedding array<float>"
    )
    assigned = {r["id"]: r["centroid"] for r in sim.ivf_assign(emb, k=2).collect()}
    # centroids are vectors 0 and 1; every vector goes to its nearest seed
    assert assigned[0] == 0 and assigned[1] == 1
    assert assigned[3] in (0, 1) and len(assigned) == len(VECS)
    out = sim.ivf_topk(emb, emb.filter(F.col("vec_id") == 0), k=3, nprobe=2).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids[0] == 1  # nearest true neighbor found through the buckets


def test_kmeans_int_golden(spark):
    """2 Lloyd steps of integer k-means == pure-Python reimplementation."""
    emb = spark.createDataFrame(
        [(i, v) for i, v in VECS], "vec_id long, embedding array<float>"
    )
    got = {r["cidx"]: list(r["cv"]) for r in sim.kmeans_int(emb, k=2, iters=2).collect()}

    def q(v):
        return [math.floor(float(x) * 10000 + 0.5) for x in v]

    vecs = {i: q(v) for i, v in VECS}
    cents = {0: vecs[0], 1: vecs[1]}
    for _ in range(2):
        groups = {0: [], 1: []}
        for i, v in vecs.items():
            dists = []
            for c, cv in sorted(cents.items()):
                d = sum(x * x for x in v) + sum(x * x for x in cv) - 2 * sum(
                    a * b for a, b in zip(v, cv)
                )
                dists.append((d, c))
            groups[min(dists)[1]].append(v)
        for c in (0, 1):
            if groups[c]:
                n = len(groups[c])
                cents[c] = [
                    math.floor(sum(col) / n) for col in zip(*groups[c])
                ]
    assert got == cents


def test_pq_train_codebooks_golden(spark):
    """2 per-subspace Lloyd steps (S=2) == pure-Python reimplementation.
    Vectors 0 and 1 share their subspace-0 block, so codeword 1 of
    subspace 0 ties codeword 0 on every row, loses every tie and must keep
    its seed value."""
    rows = [
        (0, [0.1, 0.2, 0.5, -0.5]),
        (1, [0.1, 0.2, -0.3, 0.4]),
        (2, [-0.4, 0.3, 0.2, 0.2]),
        (3, [0.15, 0.25, 0.45, -0.4]),
        (4, [-0.35, 0.35, -0.25, 0.5]),
        (5, [0.9, -0.8, 0.1, 0.0]),
        (6, [-0.5, 0.2, 0.3, 0.1]),
        (7, [0.05, 0.1, -0.2, 0.3]),
    ]
    S, k = 2, 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["s"], r["cidx"]): list(r["cv"])
        for r in sim.pq_train_codebooks(emb, S=S, k=k, iters=2).collect()
    }

    def q(v):
        return [math.floor(float(x) * 10000 + 0.5) for x in v]

    want, empty = {}, set()
    for s in range(S):
        subs = {i: q(v)[2 * s : 2 * s + 2] for i, v in rows}
        cents = {c: subs[c] for c in range(k)}
        for _ in range(2):
            groups = {c: [] for c in range(k)}
            for v in subs.values():
                dists = [
                    (sum(x * x for x in v) + sum(x * x for x in cv)
                     - 2 * sum(a * b for a, b in zip(v, cv)), c)
                    for c, cv in sorted(cents.items())
                ]
                groups[min(dists)[1]].append(v)
            for c in range(k):
                if groups[c]:
                    n = len(groups[c])
                    cents[c] = [math.floor(sum(col) / n) for col in zip(*groups[c])]
                else:
                    empty.add((s, c))
        want.update({(s, c): cv for c, cv in cents.items()})
    assert (0, 1) in empty  # the case this golden pins
    assert got == want


def test_dup_clusters_raises_on_iteration_cap(spark):
    # a 5-node chain has diameter 4 -> min-label propagation cannot converge
    # in 1 iteration; silently returning partial labels would diverge from
    # the recursive-closure oracle.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.dup_clusters(pairs, max_iters=1)
    labels = {r["id"]: r["cluster_id"] for r in dd.dup_clusters(pairs).collect()}
    assert labels == {i: 0 for i in range(6)}


def test_ivf_topk_sql_predicate_not_rewritten():
    # the predicate is embedded verbatim (against the aliased 'id' column);
    # a substring rewrite would corrupt identifiers containing 'id'
    pred = "id < 5 AND id % 2 = 0"
    sql = sim.ivf_topk_sql("embeddings", pred)
    assert pred in sql
    assert "vec_id < 5" not in sql


def test_bucketed_pairs_equal_all_pairs_restricted_to_shared_bucket(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr = 300000
    bucketed = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.bucketed_cosine_pairs(emb, thr, k=4).collect()
    }
    cent = {r["id"]: r["centroid"] for r in sim.ivf_assign(emb, k=4).collect()}
    allp = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.all_pairs_cosine_micro(emb, thr, num_blocks=5).collect()
    }
    expected = {(a, b, m) for (a, b, m) in allp if cent[a] == cent[b]}
    assert bucketed == expected
    assert len(bucketed) > 0


def test_jaccard_pairs_guard(spark, docs_df):
    with pytest.raises(ValueError, match="quadratic"):
        dd.jaccard_pairs(docs_df, max_docs=2)


def test_simhash_pairs_banding_complete(spark, docs_df):
    # pigeonhole completeness: the banded candidate set must contain EVERY
    # pair within max_distance (verify against brute-force on all pairs)
    sigs = {r["id"]: r["simhash"] for r in dd.simhash(docs_df).collect()}
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.simhash_pairs(docs_df, max_distance=3).collect()
    }
    assert banded == brute


def test_hll_registers_and_estimate(spark):
    # sketch state is exact; the estimate from it lands within HLL's error
    # envelope of the true cardinality (p=6 -> sigma ~13%; assert 4 sigma)
    from go_log_forwarder_spark.functions import sketch as sk

    df = spark.range(20000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 4821).alias("k"),  # true distinct ~4821/3 per group... actually per g: ids with id%3==g -> k values
    )
    regs = sk.hll_registers(df, "k", ["g"]).collect()
    by_g = {}
    for r in regs:
        by_g.setdefault(r["g"], {})[r["bucket"]] = r["register"]
    exact = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(F.countDistinct("k").alias("n")).collect()
    }
    for g, registers in by_g.items():
        est = sk.hll_estimate(registers)
        assert 0.5 * exact[g] <= est <= 1.6 * exact[g], (g, est, exact[g])
    # merge property: registers of the union == elementwise max of the parts
    all_regs = {
        r["bucket"]: r["register"]
        for r in sk.hll_registers(df.withColumn("g", F.lit("all")), "k", ["g"]).collect()
    }
    merged = {}
    for registers in by_g.values():
        for b, v in registers.items():
            merged[b] = max(merged.get(b, 0), v)
    assert merged == all_regs


def test_deterministic_sample_properties(spark):
    from go_log_forwarder_spark.functions import sampling as sp

    df = spark.range(20000).select(F.col("id").cast("string").alias("k"))
    kept1 = {r["k"] for r in sp.deterministic_sample(df, "k", 0.25).collect()}
    # same rows regardless of partitioning (the whole point vs df.sample)
    kept2 = {r["k"] for r in sp.deterministic_sample(df.repartition(13), "k", 0.25).collect()}
    assert kept1 == kept2
    # rate lands near the target (md5 uniformity; 4 sigma ~ 1.2%)
    assert 0.23 <= len(kept1) / 20000 <= 0.27
    # different seeds select (near-)independent row sets
    kept_b = {r["k"] for r in sp.deterministic_sample(df, "k", 0.25, seed="s1").collect()}
    overlap = len(kept1 & kept_b) / 20000
    assert 0.04 <= overlap <= 0.09  # ~ 0.25*0.25
    # nested fractions: a 10% gate is a subset of the 25% gate (same seed)
    kept_10 = {r["k"] for r in sp.deterministic_sample(df, "k", 0.10).collect()}
    assert kept_10 <= kept1


def test_pq_encode_and_adc(spark):
    import random

    rnd = random.Random(11)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = {r["id"]: r["codes"] for r in sim.pq_encode(emb, S=4, k=8).collect()}
    assert len(codes) == 80
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in codes.values())
    # a codebook vector encodes to ITSELF in every subspace (distance 0)
    assert codes[3] == [3, 3, 3, 3]
    # ADC approximates the exact dot: the query's true nearest neighbors
    # should be mostly recovered in the ADC top-10 (coarse 8-codeword
    # codebook -> require >= 4/10 overlap, far above the ~1.3 chance level)
    adc = sim.pq_adc_topk(emb, emb.filter(F.col("vec_id") == 50), topk=10, S=4, k=8)
    adc_ids = {r["neighbor_id"] for r in adc.collect()}
    exact = sim.brute_force_topk(emb, emb.filter(F.col("vec_id") == 50), k=10)
    exact_ids = {r["neighbor_id"] for r in exact.collect()}
    assert len(adc_ids & exact_ids) >= 4


def test_decontaminate(spark):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    bench = mk([(100, "the quick brown fox jumps over the lazy dog tonight")])
    docs = mk([
        (1, "the quick brown fox jumps over the lazy dog tonight"),  # exact copy
        (2, "intro text then the quick brown fox jumps over the lazy dog and more"),  # embedded 8-gram
        (3, "completely different words that share nothing at all with it"),  # clean
        (4, "too short to have an eight gram"),  # 7 words -> no 8-gram
    ])
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"]) for r in dd.decontaminate(docs, bench).collect()}
    assert out[1][1] and out[1][0] >= 3  # shares all benchmark 8-grams
    assert out[2] == (2, True)  # 'the quick...lazy dog' = two sliding 8-grams
    assert out[3] == (0, False)
    assert out[4] == (0, False)


def test_redact_col(spark):
    df = spark.createDataFrame(
        [
            ("mail me at bob.smith+x@corp.example.org please",),
            ("see https://a.io/p?q=1 and http://b.co",),
            ("email inside url https://x.io/u?e=a@b.com tail",),
            ("nothing here",),
        ],
        "t string",
    )
    out = [r["r"] for r in df.select(ts.redact_col(F.col("t")).alias("r")).collect()]
    assert out[0] == "mail me at <EMAIL> please"
    assert out[1] == "see <URL> and <URL>"
    # fixed order: the email INSIDE the url redacts first; the url pattern
    # then swallows the placeholder with the rest of the url — either way
    # the address text is gone
    assert out[2] == "email inside url <URL> tail" and "a@b.com" not in out[2]
    assert out[3] == "nothing here"


def test_mix_sample_rates_and_absent_groups(spark):
    from go_log_forwarder_spark.functions import sampling as sp

    df = spark.range(9000).select(
        F.col("id").cast("string").alias("k"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")), (F.col("id") % 3 + 1).cast("int")
        ).alias("g"),
    )
    out = sp.mix_sample(df, "k", "g", {"a": 1.0, "b": 0.2})
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts["a"] == 3000  # rate 1.0 keeps everything
    assert 480 <= counts["b"] <= 720  # ~20% of 3000
    assert "c" not in counts  # absent from the mix -> dropped


def test_repetition_stats_golden(spark):
    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),  # 'spam ham' x3 of 5 bigrams
            (2, "all words completely distinct here"),  # every bigram once
            (3, "word"),  # < 2 words -> zeros
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in ts.repetition_stats(df).collect()}
    assert (out[1]["n_bigrams"], out[1]["top_bigram_n"]) == (5, 3)
    assert out[1]["top_bigram_micro"] == 600000  # 3/5
    assert (out[2]["n_bigrams"], out[2]["top_bigram_n"]) == (4, 1)
    assert (out[3]["n_bigrams"], out[3]["top_bigram_n"], out[3]["top_bigram_micro"]) == (0, 0, 0)


def test_quota_sample(spark):
    from go_log_forwarder_spark.functions import sampling as sp

    df = spark.range(3000).select(
        F.col("id").cast("string").alias("k"), (F.col("id") % 3).cast("string").alias("g")
    )
    out = sp.quota_sample(df, "k", "g", 50)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"0": 50, "1": 50, "2": 50}
    # deterministic: identical selection under different partitioning
    a = {r["k"] for r in out.collect()}
    b = {r["k"] for r in sp.quota_sample(df.repartition(17), "k", "g", 50).collect()}
    assert a == b
    # plan: WindowGroupLimit prunes per-partition before the shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_split_hot_buckets_bounds_and_preserves_duplicates(spark):
    # deliberately skewed: 4 tight, well-separated micro-clusters all landing
    # in ONE coarse bucket (k=2: seeds are vecs 0/1, cluster members sit far
    # from seed 1). The split must (a) break the hot bucket into multiple
    # sub-buckets bounded by the cap, (b) keep exact duplicates together
    # (identical vectors have identical argmin), (c) stay oracle-equal.
    import random

    rnd = random.Random(11)
    rows = []
    # 4 tight clusters on one-hot directions (unit scale, like real
    # normalized embeddings — the exact-int kernel assumes |x| <= ~1)
    for i in range(2, 82):
        c = [0.0] * 8
        c[i % 4] = 1.0
        rows.append((i, [v + rnd.uniform(-0.01, 0.01) for v in c]))
    # vec 0/1: far-away coarse seeds (all clusters land in bucket 1)
    rows = [(0, [-1.0] * 8), (1, [1.0] * 8)] + rows
    rows.append((200, rows[-1][1][:]))  # exact duplicate of vec 81
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cap = 30  # the single hot bucket holds ~81 members

    assigned = sim.split_hot_buckets(sim.ivf_assign(emb, k=2), cap)
    sizes = [
        r["n"]
        for r in assigned.groupBy("centroid", "sub").agg(F.count("*").alias("n")).collect()
    ]
    assert len(sizes) > 2, "hot bucket did not split"
    assert max(sizes) <= cap, f"sub-bucket exceeds cap: {sizes}"
    # the exact duplicate pair must share (centroid, sub) and survive
    pairs = {
        (r["id_a"], r["id_b"])
        for r in sim.bucketed_cosine_pairs(emb, 999000, k=2, split_cap=cap).collect()
    }
    assert (81, 200) in pairs

    # oracle parity of the split relation
    import duckdb

    con = duckdb.connect()
    pdf = emb.toPandas()
    con.register("embeddings", pdf)
    got = {
        (a, b, m)
        for a, b, m in con.execute(
            sim.bucketed_pairs_sql("embeddings", 999000, k=2, split_cap=cap)
        ).fetchall()
    }
    spark_pairs = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.bucketed_cosine_pairs(emb, 999000, k=2, split_cap=cap).collect()
    }
    assert spark_pairs == got


def test_split_hot_buckets_composes_recursively(spark):
    # the function composes with itself for deeper levels: re-splitting on
    # (centroid, sub) as the bucket key further bounds any group still over
    # the cap. Exercised by renaming the level-1 key into 'centroid'.
    import random

    rnd = random.Random(5)
    rows = [
        (i, [0.5 + rnd.uniform(-0.05, 0.05) for _ in range(8)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lvl1 = sim.split_hot_buckets(sim.ivf_assign(emb, k=1), 60)
    relabel = lvl1.select(
        "id", "v", "norm2",
        F.dense_rank().over(
            __import__("pyspark").sql.window.Window.orderBy("centroid", "sub")
        ).alias("centroid"),
    )
    lvl2 = sim.split_hot_buckets(relabel, 60, seed="split2")
    s1 = [r["n"] for r in lvl1.groupBy("centroid", "sub").agg(F.count("*").alias("n")).collect()]
    s2 = [r["n"] for r in lvl2.groupBy("centroid", "sub").agg(F.count("*").alias("n")).collect()]
    assert max(s2) <= max(s1)
    assert len(s2) >= len(s1)


def test_multiprobe_recovers_boundary_pairs(spark):
    # two near-identical vectors placed to straddle the Voronoi boundary
    # between the two coarse seeds: single-probe assignment puts them in
    # DIFFERENT buckets (pair lost); nprobe=2 makes each a candidate in
    # both buckets and recovers the pair. Oracle twin must agree.
    import duckdb

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # seed A
        (1, [0.0, 1.0, 0.0, 0.0]),   # seed B
        (2, [0.71, 0.70, 0.0, 0.0]),  # boundary, A side
        (3, [0.70, 0.71, 0.0, 0.0]),  # boundary, B side — near-dup of 2
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = {
        (r["id"], r["centroid"]) for r in sim.ivf_assign(emb, k=2, nprobe=1).collect()
    }
    assert (2, 0) in cent and (3, 1) in cent  # straddle confirmed

    thr = 990000
    p1 = {(r["id_a"], r["id_b"]) for r in sim.bucketed_cosine_pairs(emb, thr, k=2).collect()}
    p2 = {
        (r["id_a"], r["id_b"])
        for r in sim.bucketed_cosine_pairs(emb, thr, k=2, nprobe=2).collect()
    }
    assert (2, 3) not in p1
    assert (2, 3) in p2

    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    got = {
        (a, b)
        for a, b, m in con.execute(
            sim.bucketed_pairs_sql("embeddings", thr, k=2, nprobe=2)
        ).fetchall()
    }
    full = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.bucketed_cosine_pairs(emb, thr, k=2, nprobe=2).collect()
    }
    assert {(a, b) for a, b, _ in full} == got


def test_gopher_cols_golden(spark, docs_df):
    # "the cat sat on the mat": 6 words, 5 distinct ('the' x2), top word 2,
    # short words: 'on' (1); long words (>=8): none; max len 3
    r = docs_df.filter(F.col("doc_id") == 0).select(
        *ts.gopher_cols(F.col("text"))
    ).head()
    assert r["dup_word_micro"] == micro_py(1 / 6)
    assert r["top_word_micro"] == micro_py(2 / 6)
    assert r["short_word_micro"] == micro_py(1 / 6)
    assert r["long_word_micro"] == 0
    assert r["max_word_len"] == 3
    # degenerate single-word doc
    r6 = docs_df.filter(F.col("doc_id") == 6).select(
        *ts.gopher_cols(F.col("text"))
    ).head()
    assert r6["dup_word_micro"] == 0 and r6["top_word_micro"] == 1000000


def test_ivfpq_topk_composition(spark):
    # IVF+PQ: coarse probe restricts candidates, PQ ADC scores them. The
    # DuckDB twin must agree exactly; the nearest true neighbor must
    # surface through the composed index on the golden vector set.
    import duckdb

    emb = spark.createDataFrame(
        [(i, v) for i, v in VECS], "vec_id long, embedding array<float>"
    )
    out = sim.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") == 0), topk=4, nprobe=2, kc=2, S=2, k=2
    ).collect()
    ids = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids[0] == 1  # true nearest found through coarse buckets + codes

    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    got = sorted(
        con.execute(
            sim.ivfpq_topk_sql("embeddings", "id = 0", topk=4, nprobe=2, kc=2, S=2, k=2)
        ).fetchall()
    )
    spark_rows = sorted(
        (r["query_id"], r["neighbor_id"], r["approx_dot"], r["rank"]) for r in out
    )
    assert spark_rows == got


def test_ivfpq_preserves_untrained_seed_paths(spark):
    # VERDICT r4 item 7: ann_ivf_topk / ann_pq_topk were retired from the
    # 50-row driver roster in favor of the ann_ivfpq_topk composition. This
    # pins that the retired rows' coverage is preserved INSIDE it:
    # (a) the composition's coarse stage probes exactly the buckets the
    #     standalone untrained ivf_topk probes — with an untruncated topk,
    #     the two candidate MEMBERSHIP sets are identical;
    # (b) its ADC scores equal the standalone untrained pq_adc_topk score
    #     for every surviving (query, neighbor) pair (ADC is bucket-blind,
    #     so the scores must agree wherever membership overlaps).
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select("vec_id")
    n = emb.count()

    ivfpq = sim.ivfpq_topk(emb, queries, topk=n).collect()
    assert len(ivfpq) > 0
    ivf = sim.ivf_topk(emb, queries, k=n).collect()
    comp_members = {(r["query_id"], r["neighbor_id"]) for r in ivfpq}
    seed_members = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    assert comp_members == seed_members  # same buckets probed

    pq = sim.pq_adc_topk(emb, queries, topk=n).collect()
    pq_scores = {(r["query_id"], r["neighbor_id"]): r["approx_dot"] for r in pq}
    for r in ivfpq:
        assert pq_scores[(r["query_id"], r["neighbor_id"])] == r["approx_dot"]


def test_opq_permutation_balances_and_matches_oracle(spark):
    # skewed energy layout: first half of the dims carry all the energy.
    # Natural-order PQ puts them all in subspace 0; the OPQ-lite
    # permutation deals them round-robin so per-subspace energy evens out,
    # and the DuckDB twin reproduces the permuted search bit-for-bit.
    import random

    import duckdb

    rnd = random.Random(13)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(4)] + [rnd.uniform(-0.01, 0.01) for _ in range(4)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    S = 2
    perm = sim.opq_permutation(emb, S=S)
    assert sorted(perm) == list(range(8))
    # each subspace gets 2 hot (dims 0-3) and 2 cold dims
    assert sum(1 for p in perm[:4] if p < 4) == 2

    def sub_energy(vectors, order):
        es = []
        for s in range(S):
            block = order[s * 4:(s + 1) * 4]
            es.append(sum(v[p] * v[p] for _, v in vectors for p in block))
        return es

    nat = sub_energy(rows, list(range(8)))
    bal = sub_energy(rows, perm)
    assert max(bal) - min(bal) < max(nat) - min(nat)

    got_spark = sorted(
        (r["query_id"], r["neighbor_id"], r["approx_dot"], r["rank"])
        for r in sim.pq_adc_topk(
            sim.apply_permutation(emb, perm),
            emb.filter(F.col("vec_id") < 2),
            topk=5, S=S, k=4,
        ).collect()
    )
    con = duckdb.connect()
    con.register("embeddings", spark.createDataFrame(rows, "vec_id long, embedding array<double>").toPandas())
    got_duck = sorted(
        con.execute(
            sim.pq_adc_topk_sql(
                sim.opq_perm_table_sql("embeddings", S=S), "id < 2", topk=5, S=S, k=4
            )
        ).fetchall()
    )
    assert got_spark == got_duck


def test_normalize_and_mean_pool(spark):
    emb = spark.createDataFrame(
        [("d1", [3.0, 4.0]), ("d1", [1.0, 0.0]), ("d2", [0.0, 0.0])],
        "doc string, embedding array<double>",
    )
    normed = {
        tuple(round(x, 6) for x in r["embedding"])
        for r in sim.normalize_vectors(emb).collect()
    }
    assert (0.6, 0.8) in normed and (1.0, 0.0) in normed
    assert (0.0, 0.0) in normed  # zero vector passes through

    pooled = {
        r["doc"]: [round(x, 6) for x in r["embedding"]]
        for r in sim.mean_pool(emb, "doc").collect()
    }
    assert pooled == {"d1": [2.0, 2.0], "d2": [0.0, 0.0]}


def test_resize_corrupt_png_yields_null_content(spark):
    import pandas as pd

    buf = bytearray(mm.synth_png(3))
    buf[12] ^= 0xFF  # break the IHDR CRC
    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, "image", bytes(buf)), (1, "image", mm.synth_png(1))],
            columns=["media_id", "kind", "content"],
        ),
        schema="media_id long, kind string, content binary",
    )
    rows = {r["media_id"]: r for r in mm.resize_images(df, 4, 4).collect()}
    assert rows[0]["content"] is None  # corrupt flagged, batch survives
    assert mm.decode_png_pixels(bytes(rows[1]["content"]))[0] == 4


def test_split_hot_buckets_recursive_adversarial_skew(spark):
    # VERDICT r3 item 2: one dense cluster >> cap whose level-1 split
    # PROVABLY leaves a hot group (pinned by the max_levels=1 run), so the
    # recursion must engage. 24 distinct points x 25 exact copies, all in
    # one coarse bucket; duplicates always co-locate, so any sub-group
    # holding >= 2 points is hot (50 > 30) until a deeper level separates
    # them.
    n, cap, m = 600, 30, 25
    rows = []
    for i in range(n):
        p = i // m
        ks = [100000 + (p % 3), 100000 + ((p // 3) % 3), 100000 + ((p // 9) % 3), 100000]
        rows.append((i, [x / 10000.0 for x in ks]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sizes(assigned):
        return [
            r["n"]
            for r in assigned.groupBy("centroid", "sub")
            .agg(F.count("*").alias("n"))
            .collect()
        ]

    base = sim.ivf_assign(emb, k=1)
    # one level is NOT enough on this corpus — recursion is load-bearing
    s1 = sizes(sim.split_hot_buckets(base, cap, max_levels=1))
    assert max(s1) == 50 > cap

    # the default loop converges: every final group bounded by the cap
    full = sim.split_hot_buckets(base, cap)
    sf = sizes(full)
    assert max(sf) <= cap, f"group exceeds cap after recursion: {sorted(sf)[-5:]}"

    # de-broadcast path (seed relation through a plain shuffle join) is
    # plan-only: assignment identical to the broadcast path
    shuffled = sim.split_hot_buckets(base, cap, seed_broadcast_rows=0)
    a = {(r["id"], r["centroid"], r["sub"]) for r in full.collect()}
    b = {(r["id"], r["centroid"], r["sub"]) for r in shuffled.collect()}
    assert a == b

    # oracle parity at the recursive depth: the unrolled SQL mirrors the
    # loop CTE-for-CTE, so the pair relations agree bit-for-bit
    import duckdb

    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    got = set(
        con.execute(
            sim.bucketed_pairs_sql("embeddings", 999000, k=1, split_cap=cap)
        ).fetchall()
    )
    spark_pairs = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.bucketed_cosine_pairs(emb, 999000, k=1, split_cap=cap).collect()
    }
    assert spark_pairs == got and len(spark_pairs) > 0


def _executed_plan(spark, df) -> str:
    old = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    try:
        spark.conf.set("spark.sql.maxMetadataStringLength", "4096")
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)


def _ann_emb(spark):
    # deterministic synthetic corpus: 30 vectors, dim 8 (divisible by PQ_S)
    rows = [
        (i, [float(((i * 37 + d * 11) % 19) - 9) for d in range(8)])
        for i in range(30)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_ann_frozen_index_no_retrain(spark, tmp_path):
    # VERDICT r5 item 2: persisted/incremental ANN index. Train ONCE,
    # assign increments against the FROZEN centroids, search reads
    # everything as snap= FileScans: (a) the apply plan has no training
    # aggregate (posexplode = the Lloyd update marker) and reads centroids
    # off the store, (b) the frozen search plan has no argmin of any kind
    # (min_by = assign/train marker) and touches ONLY index files, and
    # (c) frozen-index top-k == in-query retrain top-k exactly.
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    emb = _ann_emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    store = ParquetSnapshotStore(str(tmp_path))

    sim.ann_index_train(store, emb, k=4, iters=2)

    # apply-to-new-batch plan: frozen centroids arrive as a snap= FileScan,
    # no Lloyd update anywhere
    cents = store.read(spark, sim.ANN_CENTROIDS_TABLE)
    a = sim.ivf_assign(emb.filter(F.col("vec_id") % 2 == 0), centroids=cents)
    assert any("snap=" in f for f in a.inputFiles())
    assert "posexplode" not in _executed_plan(spark, a).lower()

    sim.ann_index_assign_increment(spark, store, emb.filter(F.col("vec_id") % 2 == 0))
    sim.ann_index_assign_increment(spark, store, emb.filter(F.col("vec_id") % 2 == 1))
    # each increment appended ONLY its own batch's postings
    assert store.read(spark, sim.ANN_POSTINGS_TABLE, after_snapshot=1).count() == 15
    assert store.read(spark, sim.ANN_POSTINGS_TABLE).count() == 30

    frozen = sim.ann_frozen_topk(spark, store, queries, k=5, nprobe=2)
    files = frozen.inputFiles()
    assert files and all("snap=" in f for f in files)
    # postings land as centroid=N hive partitions (the inverted-list layout)
    # and the probe join prunes non-probed buckets at the FILE level
    assert any("centroid=" in f for f in files)
    plan = _executed_plan(spark, frozen).lower()
    assert "min_by" not in plan and "posexplode" not in plan
    assert "dynamicpruning" in plan

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_micro"], r["rank"])
        for r in frozen.collect()
    )
    trained = sim.kmeans_int(emb, k=4, iters=2)
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["cosine_micro"], r["rank"])
        for r in sim.ivf_topk(emb, queries, k=5, nprobe=2, centroids=trained).collect()
    )
    assert got == want and len(got) > 0


def test_ann_pq_frozen_index(spark, tmp_path):
    # PQ side of the persisted index: codebooks trained once, codes
    # appended per batch against the FROZEN codebooks, ADC search reads
    # both as snap= FileScans with no argmin (no retrain, no re-encode)
    # and equals the in-query retrain pq_adc_topk exactly.
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    emb = _ann_emb(spark)
    queries = emb.filter(F.col("vec_id") < 3)
    store = ParquetSnapshotStore(str(tmp_path))

    sim.ann_pq_train(store, emb, iters=2)
    sim.ann_pq_encode_increment(spark, store, emb.filter(F.col("vec_id") % 2 == 0))
    sim.ann_pq_encode_increment(spark, store, emb.filter(F.col("vec_id") % 2 == 1))
    assert store.read(spark, sim.ANN_CODES_TABLE, after_snapshot=1).count() == 15

    frozen = sim.ann_pq_frozen_topk(spark, store, queries, topk=5)
    files = frozen.inputFiles()
    assert files and all("snap=" in f for f in files)
    assert "min_by" not in _executed_plan(spark, frozen).lower()

    got = sorted(
        (r["query_id"], r["neighbor_id"], r["approx_dot"], r["rank"])
        for r in frozen.collect()
    )
    cents = sim.pq_train_codebooks(emb, iters=2)
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["approx_dot"], r["rank"])
        for r in sim.pq_adc_topk(emb, queries, topk=5, cents=cents).collect()
    )
    assert got == want and len(got) > 0


def test_words_tokenization_three_way_parity_property(spark):
    # VERDICT r5 item 5: round 5 hand-fixed two SILENT whitespace
    # divergences (\x0B in Java's \s but not RE2's; DuckDB's default trim
    # strips NBSP, Spark's strips 0x20 only). This pins the whole class
    # the way the tag-match property test pinned util.go: random corpora
    # over every separator-adjacent character must tokenize identically in
    # the Spark column (words_col), the DuckDB oracle (words_sql), and the
    # Python kernel (subword._WS + strip(' ')) — including empty tokens
    # from untrimmed leading/trailing non-space separators.
    import duckdb
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from go_log_forwarder_spark.functions.subword import _WS

    alphabet = "ab. \t\n\x0b\f\r\xa0  ·　​e"

    @settings(max_examples=15, deadline=None)
    @given(
        texts=st.lists(
            st.text(alphabet=alphabet, max_size=14), min_size=1, max_size=24
        )
    )
    def check(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got_spark = {
            r["doc_id"]: list(r["w"])
            for r in df.select(
                "doc_id", ts.words_col(F.col("text")).alias("w")
            ).collect()
        }
        con = duckdb.connect()
        con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
        got_duck = {
            r[0]: list(r[1])
            for r in con.execute(
                f"SELECT doc_id, {ts.words_sql('text')} FROM t"
            ).fetchall()
        }
        got_py = {i: _WS.split((t or "").strip(" ")) for i, t in rows}
        assert got_spark == got_py, "Spark words_col vs Python _WS kernel"
        assert got_duck == got_py, "DuckDB words_sql vs Python _WS kernel"

    check()


def test_subword_vocab_persist_roundtrip(spark, docs_df, tmp_path):
    # round 6: the subword vocab persists through the same snapshot store
    # as every other trained artifact; the frozen vocab read back equals
    # the retrain bit-for-bit (training is deterministic), so frozen-vocab
    # encode == retrain encode; an unseen character stays LOUD.
    from go_log_forwarder_spark.functions import subword as sw
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    store = ParquetSnapshotStore(str(tmp_path))
    sw.vocab_train_persist(spark, store, docs_df)
    frozen = sw.vocab_load(spark, store)
    assert frozen == sw.train_vocab(docs_df)

    got = {
        (r["doc_id"], r["n_tokens"], r["tokens_md5"])
        for r in sw.encode_docs(docs_df, frozen).collect()
    }
    want = {
        (r["doc_id"], r["n_tokens"], r["tokens_md5"])
        for r in sw.encode_docs(docs_df, sw.train_vocab(docs_df)).collect()
    }
    assert got == want and len(got) > 0

    import pytest as _pytest

    unseen = spark.createDataFrame([(99, "ûnseen")], "doc_id long, text string")
    with _pytest.raises(Exception, match="not in vocab"):
        sw.encode_docs(unseen, frozen).collect()


def test_embedding_incremental_pairs(spark, tmp_path):
    # the third dedup family goes incremental (round 6): near-dup cosine
    # pairs per batch off the PERSISTED posting index — new x (old + new)
    # bucket join, old vectors never re-scored against each other — and the
    # union of per-batch outputs equals the one-shot bucket-pair relation
    # over the full posting set under the same frozen centroids, exactly.
    from go_log_forwarder_spark.sources.storage import ParquetSnapshotStore

    emb = _ann_emb(spark)
    store = ParquetSnapshotStore(str(tmp_path))
    sim.ann_index_train(store, emb, k=4, iters=2)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    s1 = sim.ann_index_assign_increment(spark, store, b1)
    p1 = sim.embedding_incremental_pairs(spark, store, s1, threshold=0.5)
    rows1 = {(r["id_a"], r["id_b"], r["cosine_micro"]) for r in p1.collect()}
    s2 = sim.ann_index_assign_increment(spark, store, b2)
    p2df = sim.embedding_incremental_pairs(spark, store, s2, threshold=0.5)
    # everything reaches the plan as persisted snap= FileScans — no corpus
    # re-read, no training aggregate
    files = p2df.inputFiles()
    assert files and all("snap=" in f for f in files)
    assert "posexplode" not in _executed_plan(spark, p2df).lower()
    rows2 = {(r["id_a"], r["id_b"], r["cosine_micro"]) for r in p2df.collect()}
    assert not (rows1 & rows2)  # old x old never re-emitted

    full = {
        (r["id_a"], r["id_b"], r["cosine_micro"])
        for r in sim.posting_cosine_pairs(
            store.read(spark, sim.ANN_POSTINGS_TABLE, lease=False),
            store.read(spark, sim.ANN_POSTINGS_TABLE, lease=False),
            int(0.5 * 1e6),
        ).collect()
    }
    assert rows1 | rows2 == full and len(full) > 0
