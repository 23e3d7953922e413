"""Curriculum interleave (operators/sampling.py curriculum_interleave):
round-robin balanced training order across groups.
"""

from pyspark.sql import functions as F

from rio_cogeo_spark.operators.sampling import curriculum_interleave


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, score long")


def test_round_robin_order(spark):
    rows = [
        (1, "de", 10), (2, "de", 30), (3, "de", 20),
        (4, "en", 5), (5, "en", 50),
    ]
    out = curriculum_interleave(_docs(spark, rows), score_col="score")
    ordered = [r.doc_id for r in out.orderBy("curriculum_key").collect()]
    # round 1: best de (2, score 30), best en (5, score 50);
    # round 2: de 3, en 4; round 3: de 1 (en exhausted)
    assert ordered == [2, 5, 3, 4, 1]


def test_keys_unique_and_groups_alternate(spark):
    rows = [(i, ["a", "b", "c"][i % 3], i * 7 % 13) for i in range(60)]
    out = curriculum_interleave(
        _docs(spark, rows), score_col="score"
    ).orderBy("curriculum_key").collect()
    keys = [r.curriculum_key for r in out]
    assert len(set(keys)) == len(keys)
    # equal-size groups: every consecutive triple covers all 3 langs
    langs = [r.lang for r in out]
    for i in range(0, 60, 3):
        assert set(langs[i:i + 3]) == {"a", "b", "c"}


def test_score_none_ranks_by_id(spark):
    rows = [(9, "x", 0), (3, "x", 0)]
    out = curriculum_interleave(_docs(spark, rows))
    got = {r.doc_id: r.rank_in_group for r in out.collect()}
    assert got == {3: 1, 9: 2}
