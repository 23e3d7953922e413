"""Zonal majority (operators/zonal.py zonal_mode): golden counts,
deterministic tie-break, exact-ppm share.
"""

from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark.operators.join import AdminArea
from rio_cogeo_spark.operators.zonal import zonal_mode


def _pages(spark, rows):
    # (doc_id, lat, lon, lang) — minimal page shape for the PIP join
    return spark.createDataFrame(
        rows, "doc_id long, lat double, lon double, lang string"
    )


def _area(aid, lat0, lat1, lon0, lon1):
    # axis-aligned rectangle as a closed polygon ring
    return AdminArea(
        admin_id=aid,
        name=aid,
        ring_lon=(lon0, lon1, lon1, lon0, lon0),
        ring_lat=(lat0, lat0, lat1, lat1, lat0),
    )


def test_majority_and_exact_ppm(spark):
    area = _area("Z", 0.0, 10.0, 0.0, 10.0)
    rows = [(i, 5.0, 5.0, "en") for i in range(3)] + [
        (10, 5.0, 5.0, "de"),
        (11, 5.0, 5.0, "fr"),
    ]
    out = zonal_mode(_pages(spark, rows), [area]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.mode_class, r.mode_count, r.zone_count) == ("en", 3, 5)
    assert r.mode_ppm == (3 * 1_000_000) // 5


def test_tie_breaks_to_smallest_class(spark):
    area = _area("Z", 0.0, 10.0, 0.0, 10.0)
    rows = [(1, 5.0, 5.0, "fr"), (2, 5.0, 5.0, "de")]
    out = zonal_mode(_pages(spark, rows), [area]).collect()
    assert out[0].mode_class == "de"  # lexicographically smallest wins


def test_empty_zone_absent_and_zones_independent(spark):
    a = _area("A", 0.0, 10.0, 0.0, 10.0)
    b = _area("B", 40.0, 50.0, 40.0, 50.0)
    rows = [(1, 5.0, 5.0, "en"), (2, 45.0, 45.0, "de"), (3, 45.0, 45.0, "de")]
    out = {r.admin_id: r for r in zonal_mode(_pages(spark, rows), [a, b]).collect()}
    assert set(out) == {"A", "B"}
    assert out["A"].mode_class == "en" and out["A"].zone_count == 1
    assert out["B"].mode_class == "de" and out["B"].mode_count == 2


def test_no_window_in_plan(spark):
    # the majority pick must be a combinable aggregate, never a per-zone
    # row_number window (hot-zone skew rule)
    area = _area("Z", 0.0, 10.0, 0.0, 10.0)
    df = zonal_mode(_pages(spark, [(1, 5.0, 5.0, "en")]), [area])
    plan = plan_of(df)
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_count" in plan


def test_nearest_zone_assignment_and_ties(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.zonal import nearest_zone

    a = _area("A", 0.0, 2.0, 0.0, 2.0)     # center (1, 1)
    b = _area("B", 0.0, 2.0, 10.0, 12.0)   # center (1, 11)
    pages = spark.createDataFrame(
        [(1, 1.0, 1.5), (2, 1.0, 10.5), (3, 1.0, 6.0)],
        "doc_id long, lat double, lon double",
    )
    out = {r.doc_id: (r.admin_id, r.dist2)
           for r in nearest_zone(pages, [a, b]).collect()}
    assert out[1][0] == "A" and out[2][0] == "B"
    # doc 3 is equidistant (lon 6 between centers 1 and 11): tie breaks
    # to the smallest admin_id
    assert out[3][0] == "A"
    assert out[1][1] == 0.25
    with _pytest.raises(ValueError):
        nearest_zone(pages, [])


def test_nearest_zone_zero_shuffle(spark):
    from rio_cogeo_spark.operators.zonal import nearest_zone

    a = _area("A", 0.0, 2.0, 0.0, 2.0)
    pages = spark.createDataFrame(
        [(1, 1.0, 1.0)], "doc_id long, lat double, lon double"
    )
    plan = plan_of(nearest_zone(pages, [a]))
    assert "Exchange" not in plan and "Join" not in plan
