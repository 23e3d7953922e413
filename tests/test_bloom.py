"""Bloom-filter contamination prefilter: zero-false-negative superset of
the exact hits, engine-exact vs the relational DuckDB twin, tunable
false positives, and the scale contract (corpus side never shuffles)."""

import pytest
from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark.operators.contamination import (
    bloom_prefilter,
    bloom_prefilter_sql,
    contamination_hits,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_bench(spark):
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25))))
        for d in range(80)
    ]
    # planted contamination: docs 70-74 embed a benchmark passage
    passage = "alpha beta gamma delta epsilon zeta"
    for d in range(70, 75):
        rows[d] = (d, rows[d][1] + " " + passage)
    corpus = _docs(spark, rows)
    bench = _docs(spark, [(0, "intro " + passage + " outro")]).select("text")
    return corpus, bench, set(range(70, 75))


def test_bloom_superset_and_planted_hits(spark):
    corpus, bench, planted = _corpus_bench(spark)
    exact = {r.doc_id for r in contamination_hits(corpus, bench, n=3).collect()}
    assert planted <= exact
    flagged = {
        r.doc_id
        for r in bloom_prefilter(corpus, bench, m_bits=1 << 14).collect()
    }
    assert exact <= flagged  # the zero-false-negative contract


def test_bloom_matches_duckdb_twin(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")

    corpus, bench, _ = _corpus_bench(spark)
    p = str(tmp_path / "docs.parquet")
    corpus.write.parquet(p)
    # tiny filter (2^9 bits) to force false positives through BOTH engines
    for m in (1 << 9, 1 << 14):
        got = sorted(
            tuple(r)
            for r in bloom_prefilter(
                corpus, bench, m_bits=m, n_hashes=3
            ).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{p}/*.parquet')"
        )
        sql = bloom_prefilter_sql(
            "SELECT doc_id, text FROM documents",
            "SELECT 'intro alpha beta gamma delta epsilon zeta outro' AS text",
            m_bits=m, n_hashes=3,
        )
        want = sorted(tuple(r) for r in con.execute(sql).fetchall())
        assert got == want, m


def test_bloom_false_positives_shrink_with_m(spark):
    corpus, bench, _ = _corpus_bench(spark)
    exact = {r.doc_id for r in contamination_hits(corpus, bench, n=3).collect()}
    tiny = {
        r.doc_id
        for r in bloom_prefilter(corpus, bench, m_bits=1 << 6).collect()
    }
    big = {
        r.doc_id
        for r in bloom_prefilter(corpus, bench, m_bits=1 << 16).collect()
    }
    assert exact <= big <= tiny
    assert len(tiny) > len(big)  # 64 bits over ~1k probe shingles must collide


def test_bloom_corpus_plan_has_no_exchange(spark):
    corpus, bench, _ = _corpus_bench(spark)
    plan = plan_of(bloom_prefilter(corpus, bench))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_bloom_arg_validation(spark):
    corpus, bench, _ = _corpus_bench(spark)
    with pytest.raises(ValueError, match="n_hashes"):
        bloom_prefilter(corpus, bench, n_hashes=5)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_prefilter(corpus, bench, m_bits=1000)  # not a power of 2


def test_bloom_empty_benchmark_flags_nothing(spark):
    corpus, _, _ = _corpus_bench(spark)
    bench = corpus.filter(F.lit(False)).select("text")
    assert bloom_prefilter(corpus, bench).count() == 0
