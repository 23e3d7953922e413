"""Unicode script-mix election (functions/text.script_mix): per-script
BMP char counts, deterministic first-listed-max dominant election, and
exact-integer ppm — engine-exact vs the DuckDB twin (Spark's UTF-16
code-unit length == DuckDB's code-point length on BMP-only ranges)."""

import pytest
from pyspark.sql import functions as F

from rio_cogeo_spark.functions.text import (
    SCRIPT_RANGES,
    script_counts,
    script_mix,
    script_mix_sql,
)

ROWS = [
    (1, "hello world"),
    (2, "привет мир hello"),
    (3, "中文网页内容 with some latin text"),
    (4, "مرحبا بالعالم"),
    (5, "한국어 텍스트"),
    (6, "αβγ abc"),  # greek/latin tie -> latin (first in SCRIPT_RANGES)
    (7, "1234 !!! $$$"),
    (8, ""),
    (9, "नमस्ते दुनिया"),
]


def _mix_df(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sm = script_mix(F.col("text"))
    return df.select(
        "doc_id",
        sm["script_chars"].alias("script_chars"),
        sm["dom_script"].alias("dom_script"),
        sm["dom_ppm"].alias("dom_ppm"),
    )


def test_script_mix_golden(spark):
    got = {r.doc_id: (r.script_chars, r.dom_script, r.dom_ppm)
           for r in _mix_df(spark, ROWS).collect()}
    assert got[1] == (10, "latin", 1000000)
    assert got[2] == (14, "cyrillic", 642857)  # 9 cyr vs 5 lat of 14
    assert got[4][1] == "arabic" and got[4][2] == 1000000
    assert got[5][1] == "hangul"
    assert got[6] == (6, "latin", 500000)  # tie-break: list order
    assert got[7] == (0, "none", 0)
    assert got[8] == (0, "none", 0)
    assert got[9][1] == "devanagari"


def test_script_mix_matches_duckdb_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    got = sorted(tuple(r) for r in _mix_df(spark, ROWS).collect())
    con = duckdb.connect()
    con.register("d", pd.DataFrame(ROWS, columns=["doc_id", "text"]))
    s = script_mix_sql()
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT doc_id, {s['script_chars']} AS script_chars, "
            f"{s['dom_script']} AS dom_script, {s['dom_ppm']} AS dom_ppm "
            "FROM d"
        ).fetchall()
    )
    assert got == want


def test_script_counts_are_disjoint_and_bmp(spark):
    # the ranges must not overlap (a char counted twice would corrupt
    # script_chars) and must stay in the BMP (the UTF-16 == code-point
    # length precondition)
    spans = []
    for _, rng in SCRIPT_RANGES:
        if rng == "A-Za-z":
            spans += [(ord("A"), ord("Z")), (ord("a"), ord("z"))]
        else:
            lo, hi = rng.split("-")
            spans.append((ord(lo), ord(hi)))
    spans.sort()
    for (l1, h1), (l2, h2) in zip(spans, spans[1:]):
        assert h1 < l2, (hex(h1), hex(l2))
    assert all(h <= 0xFFFF for _, h in spans)
    # and a char from each range lands in exactly its own counter
    probes = {"latin": "x", "cyrillic": "ж", "greek": "λ", "cjk": "中",
              "arabic": "م", "hangul": "한", "devanagari": "न"}
    df = spark.createDataFrame(
        [(n, c) for n, c in probes.items()], "name string, text string"
    )
    cnts = script_counts(F.col("text"))
    row = {
        r.name: [r[n] for n, _ in SCRIPT_RANGES]
        for r in df.select(
            "name", *[cnts[n].alias(n) for n, _ in SCRIPT_RANGES]
        ).collect()
    }
    names = [n for n, _ in SCRIPT_RANGES]
    for name, vec in row.items():
        assert vec == [1 if n == name else 0 for n in names], name
