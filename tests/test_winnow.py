"""Winnowing (MOSS, Schleimer et al. SIGMOD 2003) fingerprints: the
positional-guarantee dedup front-end — any shared token run of length
>= w + k - 1 forces a shared fingerprint. Engine-exactness is checked
against a pure-Python reimplementation AND the DuckDB twin."""

import hashlib
import random

import pytest

from rio_cogeo_spark.operators.dedup import (
    winnow_fingerprints,
    winnow_pairs,
    winnow_pairs_sql,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ref_fps(rows, k, w):
    """Pure-Python winnowing (independent reimplementation)."""
    out = set()
    for d, t in rows:
        toks = t.strip().split()
        if len(toks) < k:
            continue
        g = [
            int(hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[:15], 16)
            for i in range(len(toks) - k + 1)
        ]
        for i in range(len(g) - w + 1):
            out.add((d, min(g[i : i + w])))
    return out


def _rand_rows(n=40, seed=7):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    return [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 30))))
        for d in range(n)
    ]


def test_winnow_matches_python_reference(spark):
    rows = _rand_rows()
    for k, w in [(3, 4), (1, 1), (2, 5)]:
        got = {
            (r.doc_id, r.fp)
            for r in winnow_fingerprints(_docs(spark, rows), k=k, w=w).collect()
        }
        assert got == _ref_fps(rows, k, w), (k, w)


def test_winnow_shared_run_guarantee(spark):
    # exactly w + k - 1 shared tokens in otherwise-disjoint docs -> the
    # MOSS guarantee forces >= 1 shared fingerprint; one token fewer
    # (no full common window) must NOT pair at min_shared=1 when the
    # run's window minima differ per doc context.
    k, w = 3, 4
    run = " ".join(f"s{i}" for i in range(w + k - 1))
    df = _docs(
        spark,
        [(1, "x1 x2 x3 " + run), (2, run + " y1 y2")],
    )
    pairs = winnow_pairs(df, min_shared=1, k=k, w=w, df_cap=None).collect()
    assert [(p.doc_a, p.doc_b) for p in pairs] == [(1, 2)]


def test_winnow_short_doc_empty(spark):
    k, w = 3, 4
    short = " ".join(f"t{i}" for i in range(w + k - 2))  # one token short
    exact = " ".join(f"t{i}" for i in range(w + k - 1))
    df = _docs(spark, [(1, short), (2, exact), (3, ""), (4, "a b")])
    got = winnow_fingerprints(df, k=k, w=w).groupBy("doc_id").count().collect()
    assert {r.doc_id: r["count"] for r in got} == {2: 1}


def test_winnow_pairs_matches_duckdb_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    rows = _rand_rows(n=60, seed=11)
    run = " ".join(f"r{i}" for i in range(10))
    rows += [(100, "a1 a2 a3 " + run + " a4 a5"), (101, "b1 b2 " + run + " b3")]
    got = sorted(
        (r.doc_a, r.doc_b, r.n_shared)
        for r in winnow_pairs(
            _docs(spark, rows), min_shared=1, k=3, w=4, df_cap=None
        ).collect()
    )
    assert any(a == 100 and b == 101 for a, b, _ in got)
    con = duckdb.connect()
    con.register("docs_in", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = winnow_pairs_sql("SELECT doc_id, text FROM docs_in", 1)
    assert got == sorted(tuple(r) for r in con.execute(sql).fetchall())


def test_winnow_df_cap_drops_boilerplate(spark):
    # 30 docs share ONLY a boilerplate run; 2 docs also share a rare run.
    # With the hot-fingerprint cap at 10, boilerplate-only pairs vanish
    # but the rare pair survives.
    boiler = " ".join(f"nav{i}" for i in range(8))
    rare = " ".join(f"q{i}" for i in range(8))
    rows = [(d, f"u{d} " + boiler + f" v{d}") for d in range(30)]
    rows += [(200, rare + " p1 p2"), (201, "p3 " + rare)]
    capped = winnow_pairs(
        _docs(spark, rows), min_shared=1, k=3, w=4, df_cap=10
    ).collect()
    assert sorted((p.doc_a, p.doc_b) for p in capped) == [(200, 201)]


def test_winnow_arg_validation(spark):
    df = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="k must be"):
        winnow_fingerprints(df, k=0)
    with pytest.raises(ValueError, match="w must be"):
        winnow_fingerprints(df, w=0)
    with pytest.raises(ValueError, match="min_shared"):
        winnow_pairs(df, min_shared=0)
