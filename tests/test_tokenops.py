"""Parity pins for the round-7 vectorized token kernels: each Arrow kernel
must be bit-exact with the Catalyst expression chain it replaced (named in
the module docstrings), including the empty/NULL/negative edge cases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from go_log_forwarder_spark.functions import tokenops as tk
from go_log_forwarder_spark.functions.textstats import hex60_col


CORPUS = [
    (1, [5, 6, 7, 5, 6]),          # repeated bigram within a doc
    (2, [5, 6]),                   # exactly one bigram, shared with doc 1
    (3, [9]),                      # < 2 tokens -> no bigrams
    (4, []),                       # empty array
    (5, None),                     # NULL array
    (6, [-2, -1, 0, 2147483647]),  # negatives + int32 max
]


@pytest.fixture()
def toks_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, tokens array<int>")


def test_bigram_partials_match_explode_counts(spark, toks_df):
    enc = F.when(
        F.size("tokens") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tokens") - 1),
            lambda i: F.try_element_at(F.col("tokens"), i).cast("bigint")
            * F.lit(4294967296).cast("bigint")
            + F.try_element_at(F.col("tokens"), i + 1).cast("bigint"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    old = {
        (r["bg"], r["n"])
        for r in toks_df.select(F.explode(enc).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    new = {
        (r["bg"], r["n"])
        for r in tk.bigram_count_partials(toks_df)
        .groupBy("bg")
        .agg(F.sum("n").alias("n"))
        .collect()
    }
    assert new == old and len(new) > 0


def test_joined_digest_md5_and_hex60_parity(spark, toks_df):
    joined = F.array_join(
        F.transform(F.col("tokens"), lambda x: x.cast("string")), ","
    )
    old = {
        r["doc_id"]: (r["m"], r["h"])
        for r in toks_df.select(
            "doc_id", F.md5(joined).alias("m"), hex60_col(joined).alias("h")
        ).collect()
    }
    got_md5 = {
        r["doc_id"]: r["m"]
        for r in tk.joined_digest(toks_df, "tokens", "m", kind="md5").collect()
    }
    got_h60 = {
        r["doc_id"]: r["h"]
        for r in tk.joined_digest(toks_df, "tokens", "h", kind="hex60").collect()
    }
    assert got_md5 == {d: m for d, (m, _) in old.items()}
    assert got_h60 == {d: h for d, (_, h) in old.items()}
    # empty array digests the empty string; NULL array digests to NULL
    import hashlib

    assert got_md5[4] == hashlib.md5(b"").hexdigest()
    assert got_md5[5] is None and got_h60[5] is None


def test_synth_tokens_arrow_parity(spark):
    # r7: the vectorized token-synthesis kernel must be bit-identical to
    # the Catalyst tokens_cols formulation — including negative indexes
    # (empty array but NEGATIVE n_tok column), zero, and >= 10^12 indexes
    # (Spark lpad truncates to 12 chars).
    from go_log_forwarder_spark.sources import tokens as tks

    idxs = [-1048574, -7, 0, 1, 2, 13, 999, 1048572, 1048573, 10**12 + 345]
    ids = spark.createDataFrame([(i,) for i in idxs], "id bigint")
    old = {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in ids.select(*tks.tokens_cols(F.col("id"), max_len=16)).collect()
    }
    new = {
        r["doc_id"]: (r["tokens"], r["n_tok"], r["source"])
        for r in tks.synth_tokens_arrow(ids, max_len=16).collect()
    }
    assert new == old and len(new) == len(idxs)
    # pruned/derived columns: subset selection and the in-kernel
    # n_distinct must match size(array_distinct(tokens)) (0 for empty)
    derived = {
        (r["source"], r["n_tok"], r["n_distinct"])
        for r in tks.synth_tokens_arrow(
            ids, max_len=16, columns=["source", "n_tok", "n_distinct"]
        ).collect()
    }
    expect = {
        (s, n, len(set(toks)))
        for _, (toks, n, s) in old.items()
    }
    assert derived == expect


def test_with_distinct_count_parity(spark, toks_df):
    old = {
        r["doc_id"]: r["d"]
        for r in toks_df.select(
            "doc_id", F.size(F.array_distinct("tokens")).alias("d")
        ).collect()
    }
    # size() of a NULL array is -1 under the default (legacy) config or
    # NULL under ANSI; the kernel pins NULL — normalize the old side for
    # the comparison and assert the kernel's NULL explicitly.
    got = {
        r["doc_id"]: r["n_distinct"]
        for r in tk.with_distinct_count(toks_df).collect()
    }
    for d in (1, 2, 3, 4, 6):
        assert got[d] == old[d], d
    assert got[5] is None
    assert got[1] == 3 and got[4] == 0 and got[6] == 4


def test_fused_regex_canonical_parity(spark):
    # r7: the RE2 kernel's in-kernel canonical must equal the Catalyst
    # map-marshal (filters.canonical_json_of_string_map) byte-for-byte —
    # multiple groups (quote between entries!), escapes, empty values
    # kept or dropped, no named groups, no-match rows.
    import datetime

    from go_log_forwarder_spark.functions.filters import canonical_json_of_string_map
    from go_log_forwarder_spark.functions.parsers import ParserChain, RegexParser

    rows = [
        ('ERROR event "quoted"\\slash', 1),
        ("INFO x", 2),
        ("~~no match~~", 3),
        ("WARN ", 4),  # empty message: kept or dropped by allow_empty
    ]
    df = spark.createDataFrame(
        [(r, i, datetime.datetime(2024, 1, 1)) for r, i in rows],
        "raw string, i long, ingest_time timestamp",
    )
    two_groups = r"^(?P<level>[A-Z]+)\s(?P<message>.*)$"
    expected = {
        (two_groups, True): '{"level":"WARN","message":""}',
        (two_groups, False): '{"level":"WARN"}',
        (r"^[A-Z]+\s", True): "{}",  # no named groups: '{}' on a match
    }
    for (pattern, allow_empty), warn in expected.items():
        out = ParserChain([RegexParser(pattern=pattern, allow_empty=allow_empty)]).apply(df)
        got = {
            r["i"]: (r["canonical"], r["jvm"])
            for r in out.select(
                "i",
                "canonical",
                F.coalesce(
                    canonical_json_of_string_map(F.col("parsed")), F.lit("null")
                ).alias("jvm"),
            ).collect()
        }
        kernel = {i: c for i, (c, _) in got.items()}
        jvm = {i: j for i, (_, j) in got.items()}
        assert kernel == jvm, (pattern, allow_empty)
        assert jvm[3] == "null" and jvm[4] == warn
        if pattern == two_groups:
            assert jvm[1] == '{"level":"ERROR","message":"event \\"quoted\\"\\\\slash"}'
        else:
            assert jvm[1] == jvm[2] == "{}"
