"""Triangle counting + fixed-round k-core peel (operators/graph.py).

Goldens on hand-checkable graphs, DuckDB-twin hash parity, direction /
duplicate-edge invariance, and the k-core fixed-point contract.
"""

import duckdb
import pytest

from rio_cogeo_spark.operators.graph import (
    k_core,
    k_core_sql,
    triangle_count,
    triangle_count_sql,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _values_cte(edges):
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    return f"SELECT src, dst FROM (VALUES {vals}) AS v(src, dst)"


def test_triangles_k4_golden(spark):
    # K4: 4 triangles total, every vertex in 3 of them, cc = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = {r.host: (r.deg, r.triangles, r.cc_ppm)
           for r in triangle_count(_edges(spark, k4)).collect()}
    assert got == {h: (3, 3, 1_000_000) for h in range(4)}


def test_triangles_star_has_none_and_direction_invariance(spark):
    # hub-and-spoke: triangle-free regardless of edge direction or dups
    star = [(0, i) for i in range(1, 6)]
    mixed = star + [(3, 0), (0, 3)]  # reversed + duplicate edges
    got = {r.host: (r.triangles, r.cc_ppm)
           for r in triangle_count(_edges(spark, mixed)).collect()}
    assert all(v == (0, 0) for v in got.values())
    hub = {r.host: r.deg for r in
           triangle_count(_edges(spark, mixed)).collect()}
    assert hub[0] == 5  # dedup + undirect collapse the parallel edges


def test_triangles_matches_duckdb_twin(spark):
    edges = sorted({(i % 13, (i * 5 + 2) % 13) for i in range(60)}
                   - {(a, a) for a in range(13)})
    got = {r.host: (r.deg, r.triangles, r.cc_ppm)
           for r in triangle_count(_edges(spark, edges)).collect()}
    sql = triangle_count_sql(_values_cte(edges))
    want = {int(h): (int(d), int(t), int(c))
            for h, d, t, c in duckdb.sql(sql).fetchall()}
    assert got == want


def test_kcore_peels_pendant_then_stabilizes(spark):
    # K4 plus a pendant vertex: k=3 removes the pendant in round 1 and
    # K4 survives as an exact fixed point — more rounds change nothing.
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    g = k4 + [(3, 9)]
    r2 = {r.host: r.deg for r in k_core(_edges(spark, g), k=3, rounds=2).collect()}
    r5 = {r.host: r.deg for r in k_core(_edges(spark, g), k=3, rounds=5).collect()}
    assert r2 == {h: 3 for h in range(4)}
    assert r5 == r2  # fixed point reached


def test_kcore_chain_fully_peels(spark):
    # a path graph has no 2-core: each round peels both endpoints
    chain = [(i, i + 1) for i in range(6)]
    out = k_core(_edges(spark, chain), k=2, rounds=4).collect()
    assert out == []


def test_kcore_matches_duckdb_unroll(spark):
    edges = sorted({(i % 13, (i * 5 + 2) % 13) for i in range(60)}
                   - {(a, a) for a in range(13)})
    got = {r.host: r.deg
           for r in k_core(_edges(spark, edges), k=4, rounds=3).collect()}
    sql = k_core_sql(_values_cte(edges), k=4)
    want = {int(h): int(d) for h, d in duckdb.sql(sql).fetchall()}
    assert got == want


def test_kcore_validates_args(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        k_core(e, k=0)
    with pytest.raises(ValueError):
        k_core(e, k=2, rounds=0)
