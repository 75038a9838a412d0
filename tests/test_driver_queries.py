"""The north-rule gate inside pytest: every driver query runs at sf0.001,
and every oracle-gated query is compared against DuckDB (row count + sorted
value hash) — the same check the driver performs at sf0.01.
"""

import hashlib
import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from scripts.check_correctness import TABLES, normalize, value_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"create view {t} as select * from read_parquet('{path}')")
    return con


def test_contract_shape():
    assert set(ORACLES) <= set(QUERIES)
    assert all(callable(v) for v in QUERIES.values())
    assert all(isinstance(v, str) for v in ORACLES.values())
    # every SURVEY §2 pipeline stage has at least one oracle-gated query
    assert len(ORACLES) >= 30


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_gated_query(spark, duck, name):
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(ORACLES[name]).df()
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    assert len(a) == len(b), f"{name}: {len(a)} vs {len(b)} rows"
    assert list(a.columns) == list(b.columns), f"{name}: column mismatch"
    assert value_hash(a) == value_hash(b), f"{name}: value hash mismatch"


def test_oracle_sql_frozen():
    # every query is gated against these texts, so a change to any of them
    # must be deliberate: update the digest in the same change that edits
    # an oracle builder, and say why
    digest = hashlib.sha256(json.dumps(ORACLES, sort_keys=True).encode()).hexdigest()
    assert digest == "65b231d4e932a3b97e27a4fe41b48d44027ee0bfadc31f5191c9554c8233c725"


def test_every_query_is_oracle_gated():
    # round 3: the last rows-only entries (streaming counter, crash-resume
    # metrics) gained outcome-level oracles — nothing ships on a weaker
    # rows-only check anymore
    assert set(QUERIES) == set(ORACLES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == len(entry_mod.SINKS)
    assert df.schema.simpleString() == "struct<sink_name:string,n:bigint>"
