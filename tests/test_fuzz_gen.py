"""Smoke tests for the randomized-corpus generator (tools/gen_fuzz.py).

The full cross-engine sweep over fuzz corpora runs in tools/
fuzz_sweep.py (a gates.py stage — too heavy for the unit layer); here
we pin the generator's contract: schema parity with the driver
testdata, per-seed determinism, per-seed variation, and presence of
the hostile-value classes the sweep exists to exercise.
"""

import hashlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from gen_fuzz import TABLES_REF, gen_corpus  # noqa: E402

REF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fuzz") / "seed7")
    counts = gen_corpus(out, seed=7)
    return out, counts


def test_schemas_match_reference(corpus):
    out, _ = corpus
    con = duckdb.connect()
    for t in TABLES_REF:
        got = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{out}/{t}.parquet')"
        ).fetchall()
        want = con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{REF}/{t}.parquet')"
        ).fetchall()
        assert [(c[0], c[1]) for c in got] == [(c[0], c[1]) for c in want], t


def test_deterministic_per_seed(corpus, tmp_path):
    out, _ = corpus
    again = str(tmp_path / "again")
    gen_corpus(again, seed=7)
    for t in TABLES_REF:
        h1 = hashlib.md5(open(f"{out}/{t}.parquet", "rb").read()).hexdigest()
        h2 = hashlib.md5(open(f"{again}/{t}.parquet", "rb").read()).hexdigest()
        assert h1 == h2, t


def test_seeds_differ(corpus, tmp_path):
    out, _ = corpus
    other = str(tmp_path / "other")
    gen_corpus(other, seed=8)
    h1 = hashlib.md5(open(f"{out}/lineitem.parquet", "rb").read()).hexdigest()
    h2 = hashlib.md5(open(f"{other}/lineitem.parquet", "rb").read()).hexdigest()
    assert h1 != h2


def test_hostile_classes_present(corpus):
    out, _ = corpus
    con = duckdb.connect()
    # NULLs in measures and categories
    n_null_price = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/lineitem.parquet') "
        "WHERE l_extendedprice IS NULL"
    ).fetchone()[0]
    assert n_null_price > 0
    # boundary .xx5 money values (3 decimal digits ending in 5)
    n_boundary = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/orders.parquet') "
        "WHERE o_totalprice IS NOT NULL "
        "AND CAST(o_totalprice AS VARCHAR) LIKE '%5' "
        "AND CAST(o_totalprice AS VARCHAR) LIKE '%.%'"
    ).fetchone()[0]
    assert n_boundary > 0
    # NULL document text + exact-duplicate texts
    nulls, dups = con.execute(
        f"SELECT sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END), "
        "count(*) - count(DISTINCT text) "
        f"FROM read_parquet('{out}/documents.parquet')"
    ).fetchone()
    assert nulls > 0 and dups > 0
    # duplicate (user_id, ts) event pairs (window tie-break stress)
    ties = con.execute(
        f"SELECT count(*) FROM (SELECT user_id, ts, count(*) AS c "
        f"FROM read_parquet('{out}/events.parquet') "
        "GROUP BY user_id, ts HAVING count(*) > 1)"
    ).fetchone()[0]
    assert ties > 0
    # duplicate embedding vectors, and never an all-zero vector
    dup_vecs, zero_vecs = con.execute(
        "SELECT count(*) - count(DISTINCT CAST(embedding AS VARCHAR)), "
        "sum(CASE WHEN NOT list_has_any(list_transform(embedding, "
        "x -> x <> 0), [true]) THEN 1 ELSE 0 END) "
        f"FROM read_parquet('{out}/embeddings.parquet')"
    ).fetchone()
    assert dup_vecs > 0
    assert (zero_vecs or 0) == 0
