"""Round-3 training-data-pipeline additions: repetition signal,
benchmark contamination, URL canonicalization, duplicate-group
resolution (connected components)."""

import pytest
from pyspark.sql import functions as F
from test_plan_shapes import plan_of

from rio_cogeo_spark.functions import text as TX
from rio_cogeo_spark.operators.contamination import (
    contamination_hits,
    contamination_rate,
)
from rio_cogeo_spark.operators.dedup import (
    connected_components,
    dedup_components,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- repetition (duplicate-bigram) signal ---------------------------------


def test_repetition_stats_golden(spark):
    df = _docs(
        spark,
        [
            (1, "a b a b a b"),   # bigrams: ab ba ab ba ab -> 5 total, 2 distinct
            (2, "w x y z"),        # 3 distinct bigrams, no repeats
            (3, "solo"),           # < 2 tokens -> all zeros
        ],
    )
    st = TX.repetition_stats(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            st["n_bigrams"].alias("n"),
            st["n_distinct_bigrams"].alias("nd"),
            st["top_bigram_count"].alias("top"),
            st["dup_bigram_frac"].alias("frac"),
        ).collect()
    }
    assert (rows[1]["n"], rows[1]["nd"], rows[1]["top"]) == (5, 2, 3)
    assert rows[1]["frac"] == pytest.approx(0.6)
    assert (rows[2]["n"], rows[2]["nd"], rows[2]["top"]) == (3, 3, 1)
    assert rows[2]["frac"] == 0.0
    assert (rows[3]["n"], rows[3]["nd"], rows[3]["top"]) == (0, 0, 0)
    assert rows[3]["frac"] == 0.0


def test_repetition_matches_duckdb_twin(spark, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    df = _docs(
        spark,
        [(i, " ".join(f"t{(i * j) % 7}" for j in range(12))) for i in range(30)],
    )
    p = str(tmp_path / "docs.parquet")
    df.write.parquet(p)
    st = TX.repetition_stats(F.col("text"))
    got = sorted(
        df.select(
            "doc_id",
            st["n_bigrams"].alias("n_bigrams"),
            st["n_distinct_bigrams"].alias("n_distinct_bigrams"),
            st["top_bigram_count"].alias("top_bigram_count"),
            st["dup_bigram_frac"].alias("dup_bigram_frac"),
        ).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM parquet_scan('{p}/*.parquet')"
    )
    want = sorted(con.execute(TX.repetition_sql()).fetchall())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


# --- URL canonicalization --------------------------------------------------


def test_host_col_golden(spark):
    df = spark.createDataFrame(
        [
            ("https://www.example.com/a/b",),
            ("http://sub.example.org/",),
            ("https://example.net",),
            # second '://' inside a query param must NOT win
            ("https://a.com/r?u=https://b.com/x",),
            # scheme-less passes through whole
            ("example.com/x",),
        ],
        "url string",
    )
    hosts = [r[0] for r in df.select(TX.host_col(F.col("url"))).collect()]
    assert hosts == [
        "example.com", "sub.example.org", "example.net", "a.com",
        "example.com",
    ]


def test_host_col_matches_duckdb_twin(spark):
    duckdb = pytest.importorskip("duckdb")
    urls = [
        "https://www.example.com/a/b",
        "http://sub.example.org/",
        "https://example.net",
        "https://a.com/r?u=https://b.com/x",
        "example.com/x",
        "www.plain.net/path",
        "ftp://files.example.io/a",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r[0] for r in df.select(TX.host_col(F.col("url"))).collect()]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {TX.HOST_SQL} FROM (SELECT ? AS url)", [u]
        ).fetchone()[0]
        for u in urls
    ]
    assert got == want


# --- contamination ---------------------------------------------------------


def test_contamination_hits_and_rate(spark):
    corpus = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),      # shares 'alpha beta gamma' + 'beta gamma delta'
            (2, "epsilon zeta eta theta"),      # no overlap
            (3, "beta gamma delta zeta"),       # shares only 'beta gamma delta'
        ],
    )
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon")])
    hits = {
        r["doc_id"]: r["n_hits"]
        for r in contamination_hits(corpus, bench, n=3).collect()
    }
    assert hits == {1: 2, 3: 1}  # doc 2 clean -> absent
    rate = {
        r["doc_id"]: r
        for r in contamination_rate(corpus, bench).collect()
    }
    assert rate[1]["n_shingles"] == 2 and rate[1]["hit_frac"] == pytest.approx(1.0)
    assert rate[3]["n_shingles"] == 2 and rate[3]["hit_frac"] == pytest.approx(0.5)


def test_contamination_plan_broadcasts_benchmark(spark):
    corpus = _docs(spark, [(i, f"w{i} w{i + 1} w{i + 2} w{i + 3}") for i in range(50)])
    bench = _docs(spark, [(999, "w1 w2 w3")])
    plan = contamination_hits(corpus, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


# --- connected components --------------------------------------------------


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_connected_components_chain_and_islands(spark):
    # chain 1-2-3-4-5 needs multiple propagation rounds; 10-11 separate
    pairs = _pairs(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)])
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_dedup_components_keeper_flags(spark):
    pairs = _pairs(spark, [(7, 3), (3, 9), (20, 21)])
    rows = {r["doc_id"]: r for r in dedup_components(pairs).collect()}
    assert rows[3]["component"] == 3 and rows[3]["is_keeper"]
    assert rows[7]["component"] == 3 and not rows[7]["is_keeper"]
    assert rows[9]["component"] == 3 and not rows[9]["is_keeper"]
    assert rows[20]["is_keeper"] and not rows[21]["is_keeper"]


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    out = connected_components(pairs)
    assert out.count() == 0
    assert out.columns == ["doc_id", "component"]


def test_star_components_matches_label_propagation(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(60))
    edges = [
        (a, b)
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
        )
        if a != b
    ]
    pairs = _pairs(spark, edges)
    from rio_cogeo_spark.operators.dedup import connected_components_star

    lab = sorted(map(tuple, connected_components(pairs).collect()))
    star = sorted(map(tuple, connected_components_star(pairs).collect()))
    assert lab == star


def test_label_propagation_raises_beyond_max_iter(spark):
    """Partial labels would silently keep duplicates — exceeding the
    round budget must be loud, pointing at the star variant."""
    pairs = _pairs(spark, [(i, i + 1) for i in range(30)])
    with pytest.raises(RuntimeError, match="connected_components_star"):
        connected_components(pairs, max_iter=5)


def test_star_components_long_chain_few_rounds(spark):
    """A 300-node path has diameter 299 — label propagation at its
    default max_iter cannot finish, the O(log n) star algorithm must."""
    from rio_cogeo_spark.operators.dedup import connected_components_star

    pairs = _pairs(spark, [(i, i + 1) for i in range(299)])
    comp = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(pairs, max_iter=15).collect()
    }
    assert len(comp) == 300
    assert set(comp.values()) == {0}


# --- streaming dedup -------------------------------------------------------


def test_streaming_dedup_first_seen(spark, tmp_path):
    """Streaming exact-dedup emits one row per content fingerprint and
    agrees with the batch fingerprint set."""
    import datetime

    from rio_cogeo_spark.streaming.dedup import dedup_stream
    from rio_cogeo_spark.streaming.events import run_stream_to_memory

    base = datetime.datetime(2026, 1, 1)
    rows = [
        (i, f"doc text {i % 20}", base + datetime.timedelta(seconds=i))
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    src = str(tmp_path / "docs_stream")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    got = run_stream_to_memory(
        dedup_stream(stream), "dedup_stream_test",
        output_mode="append",
    )
    out = got.collect()
    assert len(out) == 20
    batch_fps = {
        r["fp"]
        for r in df.select(TX.fingerprint(F.col("text")).alias("fp"))
        .distinct()
        .collect()
    }
    assert {r["fp"] for r in out} == batch_fps


# --- deterministic sampling ------------------------------------------------


def test_sample_stratified_deterministic_and_proportional(spark):
    from rio_cogeo_spark.operators.sampling import sample_stratified

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    rates = {"en": 0.5, "de": 0.1}
    a = sorted(r["doc_id"] for r in sample_stratified(docs, rates).collect())
    b = sorted(r["doc_id"] for r in sample_stratified(docs, rates).collect())
    assert a == b  # reproducible
    kept = sample_stratified(docs, rates)
    n_en = kept.filter(F.col("lang") == "en").count()
    n_de = kept.filter(F.col("lang") == "de").count()
    assert abs(n_en / 1000 - 0.5) < 0.08
    assert abs(n_de / 1000 - 0.1) < 0.05


def test_split_assign_partitions_everything_once(spark):
    from rio_cogeo_spark.operators.sampling import split_assign

    docs = spark.createDataFrame(
        [(i,) for i in range(5000)], "doc_id long"
    )
    out = split_assign(docs, [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 5000
    assert abs(counts["train"] / 5000 - 0.8) < 0.05
    # stable across calls
    again = split_assign(docs, [("train", 0.8), ("val", 0.1), ("test", 0.1)])
    joined = out.join(again.withColumnRenamed("split", "split2"), "doc_id")
    assert joined.filter(F.col("split") != F.col("split2")).count() == 0


# --- inverted-index search -------------------------------------------------


def test_search_topk_scoring_and_rank(spark):
    from rio_cogeo_spark.operators.search import search_topk

    docs = _docs(
        spark,
        [
            (1, "spark spark hash"),     # rare-term heavy
            (2, "spark table table"),
            (3, "table row value"),      # no query terms -> absent
            (4, "hash hash hash hash"),
        ],
    )
    out = {r["doc_id"]: r for r in search_topk(docs, ["spark", "hash"], k=10).collect()}
    assert 3 not in out
    # df(spark)=2, df(hash)=2, N=4 -> idf_scaled = 2_000_000 each
    assert out[1]["score"] == 3 * 2_000_000 and out[1]["n_terms_hit"] == 2
    assert out[4]["score"] == 4 * 2_000_000 and out[4]["n_terms_hit"] == 1
    assert out[4]["rank"] == 1 and out[1]["rank"] == 2  # 8M > 6M > 4M
    assert out[2]["rank"] == 3


def test_topk_per_group(spark):
    from rio_cogeo_spark.operators.search import topk_per_group

    df = spark.createDataFrame(
        [(i, "g" + str(i % 2), i * 10) for i in range(10)],
        "doc_id long, g string, v long",
    )
    out = topk_per_group(df, ["g"], "v", k=2)
    got = {(r["g"], r["rank"]): r["doc_id"] for r in out.collect()}
    assert got == {("g0", 1): 8, ("g0", 2): 6, ("g1", 1): 9, ("g1", 2): 7}


def test_search_plan_broadcasts_tiny_sides(spark):
    from rio_cogeo_spark.operators.search import search_topk

    docs = _docs(spark, [(i, f"w{i} spark hash") for i in range(100)])
    plan = search_topk(docs, ["spark"], k=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sampling_plan_has_no_exchange(spark):
    """Stratified sampling and split assignment are pure projections —
    any Exchange in the plan would mean an accidental shuffle."""
    from rio_cogeo_spark.operators.sampling import sample_stratified, split_assign

    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(100)],
        "doc_id long, lang string",
    )
    for df in (
        sample_stratified(docs, {"en": 0.5}, default_rate=0.1),
        split_assign(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


# --- document chunking -----------------------------------------------------


def test_chunk_docs_roundtrip_and_sizes(spark):
    from rio_cogeo_spark.operators.chunking import chunk_docs

    docs = _docs(
        spark,
        [
            (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks -> 4,4,2
            (2, "a b c"),                                # one partial chunk
            (3, ""),  # empty text -> [''] per the shared tokenizer
        ],
    )
    out = chunk_docs(docs, chunk_tokens=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    assert [by_doc[1][i]["n_tokens"] for i in range(3)] == [4, 4, 2]
    # ordered concatenation of chunks reconstructs the normalized text
    recon = " ".join(
        by_doc[1][i]["chunk_text"] for i in sorted(by_doc[1])
    )
    assert recon == " ".join(f"w{i}" for i in range(10))
    assert by_doc[2][0]["chunk_text"] == "a b c"
    # the shared whitespace tokenizer maps '' to [''] (one empty token)
    # in BOTH engines — consistent with token_count('') == 1 suite-wide
    assert by_doc[3][0]["n_tokens"] == 1 and by_doc[3][0]["chunk_text"] == ""


def test_chunk_docs_single_shuffle(spark):
    from rio_cogeo_spark.operators.chunking import chunk_docs

    docs = _docs(spark, [(i, "x y z w v u t s") for i in range(50)])
    plan = chunk_docs(docs, chunk_tokens=3)._jdf.queryExecution().executedPlan().toString()
    # round 4: the slice-transform projection has ZERO exchanges (the
    # grouped formulation had one) — plan-shape row chunk_docs
    assert plan.count("Exchange") == 0


def test_chunk_docs_sliding_windows(spark):
    from rio_cogeo_spark.operators.chunking import (
        chunk_docs, chunk_docs_sliding,
    )

    toks = [f"w{i}" for i in range(10)]
    docs = _docs(spark, [(1, " ".join(toks)), (2, "a b"), (3, "")])
    out = chunk_docs_sliding(docs, chunk_tokens=4, stride=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    # 10 tokens, C=4, S=2 -> ceil(6/2)+1 = 4 windows: [0:4),[2:6),[4:8),[6:10)
    assert sorted(by_doc[1]) == [0, 1, 2, 3]
    for i in range(4):
        assert by_doc[1][i]["chunk_text"] == " ".join(toks[2 * i:2 * i + 4])
        assert by_doc[1][i]["n_tokens"] == 4
    # doc shorter than one window -> exactly one window with all tokens
    assert sorted(by_doc[2]) == [0] and by_doc[2][0]["chunk_text"] == "a b"
    # '' tokenizes to [''] (one empty token), same as chunk_docs
    assert by_doc[3][0]["n_tokens"] == 1

    # stride == chunk_tokens degenerates to the non-overlapping form
    a = sorted(map(tuple, chunk_docs_sliding(
        docs, chunk_tokens=4, stride=4).collect()))
    b = sorted(map(tuple, chunk_docs(docs, chunk_tokens=4).collect()))
    assert a == b

    with pytest.raises(ValueError):
        chunk_docs_sliding(docs, chunk_tokens=4, stride=5)


# --- per-host language purity ----------------------------------------------

def test_host_lang_purity_golden_and_twin(spark):
    from rio_cogeo_spark.operators.rarity import (
        host_lang_purity,
        host_lang_purity_sql,
    )

    rows = (
        # pure host: 6 en docs -> not suspect
        [(f"https://pure.example/{i}", "en") for i in range(6)]
        # mixed host: 3 en / 2 de / 2 fr of 7 -> 428571 ppm < 600000 -> suspect
        + [(f"https://mixed.example/{i}", l)
           for i, l in enumerate(["en", "en", "en", "de", "de", "fr", "fr"])]
        # small host: 2 langs but only 2 docs < min_docs -> not suspect
        + [("https://tiny.example/0", "en"), ("https://tiny.example/1", "zh")]
        # tie host: 3 de / 3 en of 6 -> majority ties to 'de' (lexicographic)
        + [(f"https://tie.example/{i}", l)
           for i, l in enumerate(["en", "de", "en", "de", "en", "de"])]
    )
    df = spark.createDataFrame(rows, "url string, lang string")
    got = {
        r.host: (r.n_docs, r.n_langs, r.major_lang, r.major_frac_ppm,
                 r.suspect)
        for r in host_lang_purity(df).collect()
    }
    assert got["pure.example"] == (6, 1, "en", 1000000, False)
    assert got["mixed.example"] == (7, 3, "en", 428571, True)
    assert got["tiny.example"] == (2, 2, "en", 500000, False)
    assert got["tie.example"] == (6, 2, "de", 500000, True)

    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    con = duckdb.connect()
    con.register("hp", pd.DataFrame(rows, columns=["url", "lang"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            host_lang_purity_sql("SELECT url, lang FROM hp")
        ).fetchall()
    )
    got_rows = sorted(
        tuple(r)
        for r in host_lang_purity(df).collect()
    )
    assert got_rows == want


# --- per-host quality trend ------------------------------------------------

def test_host_quality_trend_golden_and_twin(spark):
    from rio_cogeo_spark.operators.rarity import (
        host_quality_trend,
        host_quality_trend_sql,
    )

    good = " ".join(["the", "of", "and"] + [f"word{i}" for i in range(57)])
    bad = "$$$ ### !!! %%% ^^^ &&& ***"
    rows = (
        [(f"https://a.example/{i}", 100 + i, good) for i in range(10)]
        + [(f"https://a.example/x{i}", 86400 + 100 + i, bad)
           for i in range(10)]
        + [(f"https://b.example/{d}/{i}", d * 86400 + 50 + i, good)
           for d in (0, 1) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "url string, ts_sec long, text string")
    got = {
        (r.host, r.day): (r.n_docs, r.pass_ppm, r.prev_pass_ppm,
                          r.delta_ppm, r.degrading)
        for r in host_quality_trend(df).collect()
    }
    # first observed day: no prev, never degrading
    assert got[("a.example", 0)] == (10, 1000000, None, None, False)
    # collapse day: full million-point drop flags
    assert got[("a.example", 1)] == (10, 0, 1000000, -1000000, True)
    # steady host: zero delta, no flag
    assert got[("b.example", 1)] == (5, 1000000, 1000000, 0, False)

    duckdb = pytest.importorskip("duckdb")
    import pandas as pd

    con = duckdb.connect()
    con.register("psrc", pd.DataFrame(rows, columns=["url", "ts_sec", "text"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            host_quality_trend_sql("SELECT url, ts_sec, text FROM psrc")
        ).fetchall()
    )
    got_rows = sorted(tuple(r) for r in host_quality_trend(df).collect())
    assert got_rows == want


def test_classifier_eval_golden(spark):
    from rio_cogeo_spark.operators.report import classifier_eval

    scored = spark.createDataFrame(
        [
            ("en", "en"), ("en", "en"), ("en", "de"),
            ("de", "de"),
            ("fr", "de"),  # fr never predicted; de over-predicted
        ],
        "truth string, pred string",
    )
    out = {r.cls: (r.n_truth, r.n_pred, r.tp, r.precision_ppm, r.recall_ppm)
           for r in classifier_eval(scored, "truth", "pred").collect()}
    assert out["en"] == (3, 2, 2, 1_000_000, 666_666)
    assert out["de"] == (1, 3, 1, 333_333, 1_000_000)
    # truth-only class: precision 0 by stated convention (never NULL)
    assert out["fr"] == (1, 0, 0, 0, 0)


def test_classifier_eval_pred_only_class(spark):
    from rio_cogeo_spark.operators.report import classifier_eval

    scored = spark.createDataFrame(
        [("a", "b")], "truth string, pred string"
    )
    out = {r.cls: (r.n_truth, r.n_pred, r.recall_ppm)
           for r in classifier_eval(scored, "truth", "pred").collect()}
    assert out["b"] == (0, 1, 0)  # recall 0 when the class has no truth
    assert out["a"] == (1, 0, 0)


def test_column_profile_golden_with_nulls(spark):
    from rio_cogeo_spark.operators.report import column_profile

    df = spark.createDataFrame(
        [("en", 5), ("en", 3), ("de", None), (None, 7)],
        "lang string, score int",
    )
    out = {r.col_name: r for r in column_profile(df, ["lang", "score"]).collect()}
    l = out["lang"]
    assert (l.n, l.n_null, l.n_distinct) == (4, 1, 2)
    assert (l.min_val, l.max_val) == ("de", "en")
    assert (l.top_value, l.top_count) == ("en", 2)
    s = out["score"]
    assert (s.n, s.n_null, s.n_distinct) == (4, 1, 3)
    # top of all-distinct values ties to the SMALLEST string value
    assert s.top_count == 1 and s.top_value == "3"
    with __import__("pytest").raises(ValueError):
        column_profile(df, [])


def test_data_checks_pass_fail_and_single_pass(spark):
    from rio_cogeo_spark.operators.report import data_checks

    df = spark.createDataFrame(
        [("en", 5), ("de", 3), (None, 90)], "lang string, score int"
    )
    rules = [
        {"rule": "r1", "col": "lang", "check": "not_null_ppm_ge",
         "threshold": 700_000},
        {"rule": "r2", "col": "lang", "check": "not_null_ppm_ge",
         "threshold": 900_000},
        {"rule": "r3", "col": "score", "check": "max_le", "threshold": 50},
        {"rule": "r4", "col": "score", "check": "min_ge", "threshold": 1},
        {"rule": "r5", "col": "lang", "check": "distinct_le", "threshold": 2},
    ]
    out = {r.rule: (r.measure, r["pass"]) for r in
           data_checks(df, rules).collect()}
    assert out["r1"] == (666_666, False)  # 2/3 non-null, integer ppm
    assert out["r2"] == (666_666, False)
    assert out["r3"] == (90, False)
    assert out["r4"] == (3, True)
    assert out["r5"] == (2, True)
    # all rules fold in ONE aggregation pass over one scan
    plan = plan_of(data_checks(df, rules))
    assert plan.count("Scan ExistingRDD") <= 1 or "ReusedExchange" in plan \
        or plan.count("Union") >= 1
    with __import__("pytest").raises(ValueError):
        data_checks(df, [{"col": "lang", "check": "nope", "threshold": 1}])


def test_volume_anomaly_flags_surge_day(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.report import volume_anomaly

    # 10 steady days of 100 pages, then a 500-page surge day
    rows = []
    did = 0
    for d in range(10):
        for _ in range(100):
            rows.append((did, d * 86400 + 10)); did += 1
    for _ in range(500):
        rows.append((did, 10 * 86400 + 10)); did += 1
    df = spark.createDataFrame(rows, "doc_id long, ts_sec long")
    out = {r.day: r for r in volume_anomaly(df, window_days=7).collect()}
    # warmup days (< 7 prior observed days) are absent
    assert min(out) == 7
    # steady days: zero variance in the trailing window -> z NULL,
    # mean pinned exactly at 100.000
    assert out[7].z_mil is None and out[7].trail_mean_mil == 100_000
    # the surge day sits over the steady baseline: still zero variance
    assert out[10].n_pages == 500 and out[10].z_mil is None
    with _pytest.raises(ValueError):
        volume_anomaly(df, window_days=1)


def test_volume_anomaly_z_sign_and_magnitude(spark):
    from rio_cogeo_spark.operators.report import volume_anomaly

    # alternating 90/110 baseline (variance > 0), then a 200 surge
    rows, did = [], 0
    for d in range(8):
        for _ in range(90 if d % 2 == 0 else 110):
            rows.append((did, d * 86400 + 5)); did += 1
    for _ in range(200):
        rows.append((did, 8 * 86400 + 5)); did += 1
    df = spark.createDataFrame(rows, "doc_id long, ts_sec long")
    out = {r.day: r.z_mil for r in volume_anomaly(df, window_days=7).collect()}
    assert out[8] is not None and out[8] > 3_000  # > 3 sigma
    assert out[7] is not None and abs(out[7]) < 2_000


def test_cohen_kappa_goldens(spark):
    import duckdb

    from rio_cogeo_spark.operators.report import cohen_kappa, cohen_kappa_sql

    # perfect agreement -> kappa 1.0
    perfect = spark.createDataFrame(
        [("a", "a"), ("b", "b"), ("a", "a"), ("b", "b")],
        "x string, y string",
    )
    r = cohen_kappa(perfect, "x", "y").collect()[0]
    assert (r.po_ppm, r.kappa_ppm) == (1_000_000, 1_000_000)

    # systematic DISagreement (labels swapped): kappa -1.0 exactly —
    # the negative branch must match DuckDB's floor (the div/floor trap)
    swapped = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("b", "a")],
        "x string, y string",
    )
    r2 = cohen_kappa(swapped, "x", "y").collect()[0]
    assert r2.kappa_ppm == -1_000_000
    rows = [("a", "b"), ("b", "a"), ("a", "b"), ("b", "a")]
    vals = ", ".join(f"('{a}', '{b}')" for a, b in rows)
    sql = cohen_kappa_sql(
        f"SELECT x, y FROM (VALUES {vals}) AS v(x, y)", "x", "y"
    )
    want = duckdb.sql(sql).fetchone()
    assert int(want[4]) == r2.kappa_ppm

    # single-class constants: pe = 1e6 -> NULL by stated convention
    const = spark.createDataFrame([("a", "a")], "x string, y string")
    assert cohen_kappa(const, "x", "y").collect()[0].kappa_ppm is None


def test_host_concentration_goldens(spark):
    from rio_cogeo_spark.operators.report import host_concentration

    # perfectly equal distribution: gini 0, hhi = 1e6/k
    eq = spark.createDataFrame(
        [(h,) for h in ["a", "a", "b", "b", "c", "c", "d", "d"]],
        "host string",
    )
    r = host_concentration(eq).collect()[0]
    assert (r.n_keys, r.n_rows) == (4, 8)
    assert r.gini_ppm == 0
    assert r.hhi_ppm == 250_000
    assert r.top_share_ppm == 250_000

    # total concentration in one key out of many rows: gini -> (k-1)/k
    one = spark.createDataFrame(
        [("a",)] * 9 + [("b",), ("c",), ("d",)], "host string"
    )
    r2 = host_concentration(one).collect()[0]
    # counts [1,1,1,9], k=4, n=12: Σ i·c_i = 1+2+3+36 = 42,
    # gini = (2*42 - 5*12)/(4*12) = 24/48 = 0.5
    assert r2.gini_ppm == ((2 * 42 - 60) * 1_000_000) // 48
    assert r2.top_share_ppm == 750_000
    # hhi = (81+1+1+1)*1e6 // 144
    assert r2.hhi_ppm == (84 * 1_000_000) // 144


def test_chi_square_goldens(spark):
    import duckdb

    from rio_cogeo_spark.operators.report import chi_square, chi_square_sql

    # perfectly independent 2x2 (margins 50/50 each): chi2 = 0
    ind = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 3,
        "l string, s string",
    )
    r = chi_square(ind, "l", "s").collect()[0]
    assert (r.n, r.dof, r.chi2_mil) == (12, 1, 0)

    # perfect association 2x2: chi2 = n (phi = 1)
    assoc = spark.createDataFrame(
        [("a", "x"), ("b", "y")] * 5, "l string, s string"
    )
    r2 = chi_square(assoc, "l", "s").collect()[0]
    assert r2.dof == 1
    # per-cell floor-then-sum: each cell term is exactly n/4 * 1000
    assert r2.chi2_mil == 10_000
    vals = ", ".join(["('a', 'x'), ('b', 'y')"] * 5)
    sql = chi_square_sql(
        f"SELECT l, s FROM (VALUES {vals}) AS v(l, s)", "l", "s"
    )
    want = duckdb.sql(sql).fetchone()
    assert int(want[4]) == r2.chi2_mil

    # zero-observed cells must contribute (the full-cross contract):
    # 2x2 with an empty cell — omitting it would understate chi2
    skew = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x")], "l string, s string"
    )
    r3 = chi_square(skew, "l", "s").collect()[0]
    vals3 = "('a', 'x'), ('a', 'y'), ('b', 'x')"
    want3 = duckdb.sql(
        chi_square_sql(
            f"SELECT l, s FROM (VALUES {vals3}) AS v(l, s)", "l", "s"
        )
    ).fetchone()
    assert r3.chi2_mil == int(want3[4]) > 0


def test_zipf_slope_perfect_power_law(spark):
    # term counts 24/rank (24, 12, 8, 6): exact slope -1, r2 ~ 1
    from rio_cogeo_spark.operators.report import zipf_slope

    text = " ".join(["a"] * 24 + ["b"] * 12 + ["c"] * 8 + ["d"] * 6)
    docs = spark.createDataFrame([(text,)], "text string")
    r = zipf_slope(docs, top_k=4).collect()[0]
    assert r.k == 4 and r.n_tokens == 50
    # e6-pinned log coordinates: slope lands within 1 mil of -1000
    assert -1001 <= r.slope_mil <= -999
    assert r.r2_mil >= 999


def test_ks_statistic_goldens(spark):
    from rio_cogeo_spark.operators.report import ks_statistic

    # disjoint supports: D = 1 at the last value of group a
    disj = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b")], "v long, g string"
    )
    r = ks_statistic(disj, "v", "g", "a").collect()[0]
    assert (r.n_a, r.n_b, r.d_ppm, r.at_value) == (2, 2, 1_000_000, 2)

    # identical distributions: D = 0
    same = spark.createDataFrame(
        [(1, "a"), (2, "a"), (1, "b"), (2, "b")], "v long, g string"
    )
    r2 = ks_statistic(same, "v", "g", "a").collect()[0]
    assert r2.d_ppm == 0

    # half-shifted: F_a jumps to 1 at v=1, F_b still 0 -> D = 1/2... at v=1
    shift = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "b"), (2, "b")], "v long, g string"
    )
    r3 = ks_statistic(shift, "v", "g", "a").collect()[0]
    assert (r3.d_ppm, r3.at_value) == (500_000, 1)


def test_term_shift_goldens(spark):
    import duckdb

    from rio_cogeo_spark.functions.text import TOKENS_SQL
    from rio_cogeo_spark.operators.report import term_shift, term_shift_sql

    # identical slices: TV = 0 and the KLs = 0 exactly
    a = spark.createDataFrame([("x y z",), ("x y",)], "text string")
    r = term_shift(a, a, top_k=10).collect()[0]
    assert (r.tv_ppm, r.kl_ab_nano, r.kl_ba_nano) == (0, 0, 0)

    # disjoint vocabularies: TV = 1.0 exactly (ppm 1e6)
    b = spark.createDataFrame([("p q r",), ("p q",)], "text string")
    r2 = term_shift(a, b, top_k=10).collect()[0]
    assert r2.tv_ppm == 1_000_000
    assert r2.kl_ab_nano > 0 and r2.kl_ba_nano > 0

    # pinned against the live DuckDB twin on an asymmetric pair
    c = spark.createDataFrame([("x x y",)], "text string")
    r3 = term_shift(a, c, top_k=10).collect()[0]
    sql = term_shift_sql(
        "SELECT text FROM (VALUES ('x y z'), ('x y')) AS t(text)",
        "SELECT text FROM (VALUES ('x x y')) AS t(text)",
        TOKENS_SQL, top_k=10,
    )
    want = duckdb.sql(sql).fetchone()
    assert tuple(r3) == tuple(int(v) for v in want)


def test_heaps_fit_saturating_vs_minting(spark):
    """Template flood (one shared vocab) must fit beta ~ 0; a corpus
    where every doc mints fresh types fits beta near 1."""
    from rio_cogeo_spark.operators.report import heaps_fit

    flood = spark.createDataFrame(
        [(i, "the same ten words repeat here on every page again")
         for i in range(64)],
        "doc_id long, text string",
    )
    r = heaps_fit(flood, n_points=5).collect()[0]
    assert r.n_points == 5
    assert r.beta_mil < 100  # vocabulary saturates

    mint = spark.createDataFrame(
        [(i, f"u{i}a u{i}b u{i}c u{i}d") for i in range(64)],
        "doc_id long, text string",
    )
    r2 = heaps_fit(mint, n_points=5).collect()[0]
    assert r2.beta_mil > 900  # every doc mints new types


def test_lang_entropy_goldens(spark):
    import math

    from rio_cogeo_spark.operators.report import lang_entropy

    # uniform over 4 types: H = ln 4 exactly (modulo per-term floor)
    uni = spark.createDataFrame(
        [(0, "a b c d", "xx")], "doc_id long, text string, lang string"
    )
    r = lang_entropy(uni).collect()[0]
    assert (r.n_tokens, r.n_types) == (4, 4)
    want = math.log(4) * 1e9
    assert want - 4 <= r.h_nano <= want  # 4 per-term floors
    assert r.h_nano <= r.h_max_nano

    # single repeated token: H = 0
    const = spark.createDataFrame(
        [(0, "w w w w w", "yy")], "doc_id long, text string, lang string"
    )
    r2 = lang_entropy(const).collect()[0]
    assert (r2.n_types, r2.h_nano, r2.h_max_nano) == (1, 0, 0)


def test_benford_goldens(spark):
    import duckdb

    from rio_cogeo_spark.operators.report import (
        BENFORD_PPM, benford, benford_sql,
    )

    # hosts with per-key counts 1, 12, 25, 9 -> first digits 1,1,2,9
    rows = ([("a",)] * 1 + [("b",)] * 12 + [("c",)] * 25 + [("d",)] * 9)
    df = spark.createDataFrame(rows, "host string")
    got = {r.digit: r for r in benford(df).collect()}
    assert set(got) == set(range(1, 10))  # zero-observed digits present
    assert got[1].n_obs == 2 and got[1].obs_ppm == 500_000
    assert got[2].n_obs == 1 and got[2].obs_ppm == 250_000
    assert got[9].n_obs == 1
    assert got[3].n_obs == 0 and got[3].obs_ppm == 0
    assert got[1].dev_ppm == 500_000 - BENFORD_PPM[0]
    assert got[3].dev_ppm == -BENFORD_PPM[2]
    # expectation literals are exact floor(log10(1+1/d)*1e6)
    import math
    for d in range(1, 10):
        assert BENFORD_PPM[d - 1] == math.floor(
            math.log10(1 + 1 / d) * 1_000_000
        )
    # live SQL twin agrees
    vals = ", ".join(f"('{h}')" for (h,) in rows)
    sql = benford_sql(f"SELECT host FROM (VALUES {vals}) AS v(host)")
    want = {int(r[0]): r for r in duckdb.sql(sql).fetchall()}
    for d in range(1, 10):
        assert (want[d][1], want[d][2], want[d][4]) == (
            got[d].n_obs, got[d].obs_ppm, got[d].dev_ppm)


def test_mann_whitney_goldens(spark):
    import duckdb

    from rio_cogeo_spark.operators.report import mann_whitney, mann_whitney_sql

    # A = {1, 2}, B = {2, 3}: U = 0.5 (one half-credit tie) -> u2 = 1
    df = spark.createDataFrame(
        [("en", 1), ("en", 2), ("de", 2), ("fr", 3)],
        "lang string, n long",
    )
    r = mann_whitney(df, "lang", "en", "n").collect()[0]
    assert (r.n_a, r.n_b, r.u2, r.u2_max) == (2, 2, 1, 8)
    # rank-biserial: (u2 - n_a*n_b)*1e6 / (n_a*n_b) = -3e6/4 = -750000
    assert r.rb_ppm == -750_000
    sql = mann_whitney_sql(
        "SELECT lang, n FROM (VALUES ('en', 1), ('en', 2), ('de', 2),"
        " ('fr', 3)) AS v(lang, n)", "lang", "en", "n",
    )
    want = duckdb.sql(sql).fetchone()
    assert (int(want[2]), int(want[4])) == (1, -750_000)

    # complete separation: every A below every B -> u2 = 0, rb = -1e6;
    # reversed -> u2 = u2_max, rb = +1e6
    lo = spark.createDataFrame(
        [("en", 1), ("en", 2), ("de", 5), ("de", 6)],
        "lang string, n long",
    )
    r2 = mann_whitney(lo, "lang", "en", "n").collect()[0]
    assert r2.u2 == 0 and r2.rb_ppm == -1_000_000
    hi = mann_whitney(lo, "lang", "de", "n").collect()[0]
    assert hi.u2 == hi.u2_max and hi.rb_ppm == 1_000_000

    # empty group A -> NULL effect size by stated convention
    nb = spark.createDataFrame([("de", 1)], "lang string, n long")
    assert mann_whitney(nb, "lang", "en", "n").collect()[0].rb_ppm is None


def test_spearman_goldens(spark):
    from rio_cogeo_spark.operators.report import spearman

    # perfectly monotone -> rho = +1.0 exactly (1000000 after the pin)
    up = spark.createDataFrame([(i, i * 3 + 1) for i in range(20)], "a long, b long")
    assert spearman(up, "a", "b").collect()[0].rho_mil == 1000000
    # reversed -> -1.0
    dn = spark.createDataFrame([(i, 100 - i) for i in range(20)], "a long, b long")
    assert dn.count() == 20
    from rio_cogeo_spark.operators.report import spearman as sp
    assert sp(dn, "a", "b").collect()[0].rho_mil == -1000000
    # constant side -> NULL by stated convention
    const = spark.createDataFrame([(i, 7) for i in range(10)], "a long, b long")
    assert sp(const, "a", "b").collect()[0].rho_mil is None


def test_spearman_tie_ranks_exact(spark):
    """Average-rank doubling: Σ(2·rank) = n(n+1) on each side even
    under heavy ties (the in-query self-check the oracle hashes)."""
    from rio_cogeo_spark.operators.report import spearman

    rows = [(1, 5), (1, 5), (1, 9), (2, 9), (2, 5), (3, 9)]
    df = spark.createDataFrame(rows, "a long, b long")
    r = spearman(df, "a", "b").collect()[0]
    n = len(rows)
    assert r.n == n and r.su == n * (n + 1) and r.sv == n * (n + 1)


def test_spearman_matches_scipy_formula(spark):
    """Cross-check the tie-correct rho against a direct Pearson-on-
    average-ranks computation in Python."""
    from rio_cogeo_spark.operators.report import spearman

    rows = [(i % 4, (i * 7) % 5) for i in range(40)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = spearman(df, "a", "b").collect()[0].rho_mil

    import math
    from collections import Counter

    def avg_ranks(vals):
        cnt = Counter(vals)
        cum, r2 = 0, {}
        for v in sorted(cnt):
            r2[v] = 2 * cum + cnt[v] + 1
            cum += cnt[v]
        return [r2[v] for v in vals]

    u = avg_ranks([a for a, _ in rows])
    v = avg_ranks([b for _, b in rows])
    n = len(rows)
    num = n * sum(x * y for x, y in zip(u, v)) - sum(u) * sum(v)
    d1 = n * sum(x * x for x in u) - sum(u) ** 2
    d2 = n * sum(y * y for y in v) - sum(v) ** 2
    want = math.floor(float(num) * 1000000.0 / math.sqrt(float(d1) * float(d2)))
    assert got == want


def test_volume_acf_periodic_signal(spark):
    """A period-3 day series must read strongly positive at lag 3 and
    negative at lags 1-2; a constant series reads NULL everywhere."""
    from rio_cogeo_spark.operators.report import volume_acf

    rows = []
    for day in range(18):
        n = 50 if day % 3 == 0 else 5
        rows += [(day * 86400 + i,) for i in range(n)]
    df = spark.createDataFrame(rows, "ts_sec long")
    out = {r.lag: r for r in volume_acf(df, max_lag=4).collect()}
    assert out[3].acf_mil > 500, out[3]
    assert out[1].acf_mil < 0 and out[2].acf_mil < 0
    assert out[3].n_pairs == 15  # 18 days, lag 3

    const = spark.createDataFrame(
        [(d * 86400 + i,) for d in range(6) for i in range(4)], "ts_sec long"
    )
    got = volume_acf(const, max_lag=2).collect()
    assert all(r.acf_mil is None for r in got)


def test_volume_acf_lag_exact_hand_series(spark):
    """Hand-verify lag-1 on a 3-day series y=(1,2,3): N=3, S=6,
    dev=(−3,0,3); num_1 = 0·(−3) + 3·0 = 0 -> acf_mil = 0."""
    from rio_cogeo_spark.operators.report import volume_acf

    rows = []
    for day, n in enumerate((1, 2, 3)):
        rows += [(day * 86400 + i,) for i in range(n)]
    df = spark.createDataFrame(rows, "ts_sec long")
    out = {r.lag: r for r in volume_acf(df, max_lag=2).collect()}
    assert out[1].acf_mil == 0 and out[1].n_pairs == 2
    # lag 2: num = (3)·(−3) = −9, den = 18 -> −0.5 -> −500
    assert out[2].acf_mil == -500 and out[2].n_pairs == 1


def test_group_boxplot_goldens(spark):
    """Hand series per group: values 1..8 plus an outlier 100 —
    quartiles by the exact cum*den>=n*num probe, fences doubled ints,
    the 100 must count high-side."""
    from rio_cogeo_spark.operators.report import group_boxplot

    rows = [("a", v) for v in [1, 2, 3, 4, 5, 6, 7, 8, 100]]
    rows += [("b", v) for v in [10, 10, 10]]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    out = {r.lang: r for r in group_boxplot(df).collect()}
    a = out["a"]
    # n=9: q1 at cum>=ceil(9/4)=3 -> 3; med cum>=ceil(4.5)=5 -> 5;
    # q3 at cum>=ceil(27/4)=7 -> 7
    assert (a.n, a.q1, a.med, a.q3) == (9, 3, 5, 7)
    assert a.lo_fence2 == 5 * 3 - 3 * 7  # -6 -> fence -3
    assert a.hi_fence2 == 5 * 7 - 3 * 3  # 26 -> fence 13
    assert a.n_low == 0 and a.n_high == 1  # only the 100
    b = out["b"]
    assert (b.q1, b.med, b.q3) == (10, 10, 10)
    assert b.n_low == 0 and b.n_high == 0  # zero IQR, all on the fence


def test_group_boxplot_p50_matches_group_median(spark):
    from rio_cogeo_spark.operators.report import group_boxplot, group_median

    rows = [("x", (i * 7) % 23) for i in range(40)]
    rows += [("y", (i * 3) % 11) for i in range(25)]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    med = {r.lang: r.median for r in group_median(df, "lang").collect()}
    box = {r.lang: r.med for r in group_boxplot(df).collect()}
    assert med == box


def test_mojibake_counts(spark):
    from rio_cogeo_spark.functions.text import mojibake_cols

    df = spark.createDataFrame(
        [(1, "clean text"), (2, "bad Ã© text â€™ here"),
         (3, "lossy ï¿½ decode"), (4, "café fine")],
        "doc_id long, text string",
    )
    cols = mojibake_cols(F.col("text"))
    out = {r.doc_id: r for r in df.select(
        "doc_id", cols["n_moji"].alias("n_moji"),
        cols["n_repl"].alias("n_repl"), cols["clean"].alias("clean"),
    ).collect()}
    assert out[1].n_moji == 0 and out[1].clean == 1
    assert out[2].n_moji == 2 and out[2].clean == 0
    assert out[3].n_repl == 1 and out[3].n_moji == 1
    assert out[4].n_moji == 0 and out[4].clean == 1  # real é is NOT mojibake


def test_kruskal_two_group_matches_scipy_formula(spark):
    """Hand series: a=[1,2,3], b=[4,5,6] — no ties, perfect
    separation. R_a = 6, R_b = 15; H = 12/(6·7)·(36/3 + 225/3) − 3·7
    = 12/42·87 − 21 = 3.857142... -> h_mil 3857; no ties -> hc = h."""
    from rio_cogeo_spark.operators.report import kruskal_wallis

    rows = [("a", v) for v in [1, 2, 3]] + [("b", v) for v in [4, 5, 6]]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    r = kruskal_wallis(df).collect()[0]
    assert (r.k, r.n, r.t_ties) == (2, 6, 0)
    assert r.h_mil == 3857
    assert r.hc_mil == 3857


def test_kruskal_identical_groups_h_zero(spark):
    """Same distribution in every group -> ranks split evenly, H ~ 0
    (floored mil of a tiny negative fp residue is allowed: -1..0)."""
    from rio_cogeo_spark.operators.report import kruskal_wallis

    rows = [(g, v) for g in ("a", "b", "c") for v in (10, 20, 30)]
    df = spark.createDataFrame(rows, "lang string, n_chars long")
    r = kruskal_wallis(df).collect()[0]
    assert r.k == 3 and r.n == 9
    assert r.t_ties == 3 * (27 - 3)  # three triple-ties
    assert -1 <= r.h_mil <= 0


def test_cusum_level_shift_peaks_at_changepoint(spark):
    """10 days at y=10 then 10 days at y=20: s_up grows after day 10
    and peaks at the last day; the pre-shift trace stays below."""
    from rio_cogeo_spark.operators.report import cusum_days

    rows = []
    ts = 0
    for day in range(20):
        y = 10 if day < 10 else 20
        for i in range(y):
            rows.append((day * 86400 + i,))
    df = spark.createDataFrame(rows, "ts_sec long")
    out = {r.day: r for r in cusum_days(df).collect()}
    assert len(out) == 20
    assert all(out[d].y == (10 if d < 10 else 20) for d in range(20))
    # D=20, S=300 -> d_t = 20y - 300 = -100 pre, +100 post
    assert out[9].s_up == 0           # monotone decreasing prefix so far
    assert out[19].s_up == 10 * 100   # full post-shift accumulation
    assert out[9].s_dn == 9 * 100     # downward trace peaks pre-shift
    assert out[19].s_dn == 0


def test_cusum_constant_series_flat(spark):
    from rio_cogeo_spark.operators.report import cusum_days

    rows = [(d * 86400 + i,) for d in range(5) for i in range(7)]
    df = spark.createDataFrame(rows, "ts_sec long")
    out = cusum_days(df).collect()
    assert all(r.s_up == 0 and r.s_dn == 0 for r in out)


def test_hilbert_consecutive_keys_are_adjacent(spark):
    """THE Hilbert property (which Morton lacks): consecutive d values
    are rook-adjacent cells — exhaustively over the full z=3 grid,
    engine vs scalar twin."""
    from rio_cogeo_spark.functions.hilbert import _hilbert_scalar, with_hilbert

    z, n = 3, 8
    grid = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)],
        "tile_x long, tile_y long",
    )
    rows = with_hilbert(grid, z).collect()
    pos = {r.hilbert: (r.tile_x, r.tile_y) for r in rows}
    assert sorted(pos) == list(range(n * n))  # bijection onto [0, 4^z)
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = pos[d], pos[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1
    for r in rows:  # engine == scalar twin
        assert r.hilbert == _hilbert_scalar(r.tile_x, r.tile_y, z)


def test_hilbert_locality_beats_morton_on_windows(spark):
    """Range-read quality, the Moon et al. clustering metric: the
    number of CONTIGUOUS key runs needed to cover a 4x4 window (=
    seeks a range reader pays). Hilbert needs fewer runs than Morton
    in total and in the worst case over every window of the z=4 grid.
    (Raw key-span is the wrong metric — Morton wins that one while
    paying more seeks.)"""
    from rio_cogeo_spark.functions.hilbert import _hilbert_scalar
    from rio_cogeo_spark.functions.tile import _morton_scalar

    def runs(keys):
        ks = sorted(keys)
        return 1 + sum(1 for a, b in zip(ks, ks[1:]) if b != a + 1)

    z, n, w = 4, 16, 4
    h_runs, m_runs = [], []
    for x0 in range(0, n - w + 1):
        for y0 in range(0, n - w + 1):
            cells = [(x, y) for x in range(x0, x0 + w)
                     for y in range(y0, y0 + w)]
            h_runs.append(runs(_hilbert_scalar(x, y, z) for x, y in cells))
            m_runs.append(runs(_morton_scalar(x, y) for x, y in cells))
    assert sum(h_runs) < sum(m_runs)       # 628 vs 1000 on this grid
    assert max(h_runs) < max(m_runs)       # 6 vs 10


def test_hilbert_rejects_bad_zoom(spark):
    from rio_cogeo_spark.functions.hilbert import with_hilbert

    df = spark.createDataFrame([(0, 0)], "tile_x long, tile_y long")
    import pytest as _pt
    with _pt.raises(ValueError):
        with_hilbert(df, 32)


def test_kendall_perfect_and_ties(spark):
    """tau-b goldens: perfect concordance → +1.0 exactly; perfect
    discordance → −1.0; the 2×2 tie textbook case → tau 0 with
    tie_x2 = tie_y2 = 4; degenerate single-x → NULL."""
    from rio_cogeo_spark.operators.report import kendall_tau

    mk = lambda rows: spark.createDataFrame(rows, "x long, y long")
    r = kendall_tau(mk([(1, 1), (2, 2), (3, 3), (4, 4)]), "x", "y").collect()[0]
    assert (r.n, r.conc, r.disc, r.tau_mil) == (4, 6, 0, 1_000_000)

    r = kendall_tau(mk([(1, 3), (2, 2), (3, 1)]), "x", "y").collect()[0]
    assert (r.conc, r.disc, r.tau_mil) == (0, 3, -1_000_000)

    r = kendall_tau(mk([(1, 1), (1, 2), (2, 1), (2, 2)]), "x", "y").collect()[0]
    assert (r.conc, r.disc) == (1, 1)
    assert (r.tie_x2, r.tie_y2, r.tie_xy2) == (4, 4, 0)
    assert r.tau_mil == 0

    r = kendall_tau(mk([(5, 1), (5, 2), (5, 3)]), "x", "y").collect()[0]
    assert r.tau_mil is None


def test_kendall_frequency_products(spark):
    """Duplicated rows weight pairs by frequency products: three
    copies of (1,1) against one (2,2) → conc = 3, tie_xy2 = 6."""
    from rio_cogeo_spark.operators.report import kendall_tau

    df = spark.createDataFrame(
        [(1, 1)] * 3 + [(2, 2)], "x long, y long"
    )
    r = kendall_tau(df, "x", "y").collect()[0]
    assert r.n == 4
    assert r.conc == 3 and r.disc == 0
    assert r.tie_xy2 == 6 and r.tie_x2 == 6 and r.tie_y2 == 6
    # tau_b = 2*3*1e6 / sqrt((12-6)*(12-6)) = 1e6 exactly
    assert r.tau_mil == 1_000_000


def _days_frame(spark, counts):
    """Day d gets counts[d] rows with distinct in-day timestamps."""
    rows = [
        (d * 86400 + i,) for d, c in enumerate(counts) for i in range(c)
    ]
    return spark.createDataFrame(rows, "ts_sec long")


def test_theil_sen_perfect_line(spark):
    """y = 5 + 3d: every pairwise slope is exactly 3 → key 3e10 at
    both median ranks, slope_mil = 3,000,000."""
    from rio_cogeo_spark.operators.report import theil_sen_days

    df = _days_frame(spark, [5 + 3 * d for d in range(5)])
    r = theil_sen_days(df).collect()[0]
    assert (r.n_days, r.n_pairs) == (5, 10)
    assert r.key_lo == r.key_hi == 3 * 10_000_000_000
    assert r.slope_mil == 3_000_000


def test_theil_sen_outlier_robust(spark):
    """Constant volume with one 100× surge day: 15 of 21 pairwise
    slopes are exactly 0 → the median ignores the outlier (an OLS fit
    would not)."""
    from rio_cogeo_spark.operators.report import theil_sen_days

    counts = [10, 10, 10, 1000, 10, 10, 10]
    r = theil_sen_days(_days_frame(spark, counts)).collect()[0]
    assert r.n_pairs == 21
    assert r.slope_mil == 0


def test_theil_sen_negative_fractional_floor(spark):
    """Two days spanning 3 days with Δy = −1: slope −1/3, exercising
    the negative floor-division adjust on BOTH the key and the mil
    reduction: key = floor(−1e10/3) = −3333333334,
    slope_mil = floor(−1e6/3) = −333334."""
    from rio_cogeo_spark.operators.report import theil_sen_days

    rows = [(0 + i,) for i in range(10)] + [(3 * 86400 + i,) for i in range(9)]
    df = spark.createDataFrame(rows, "ts_sec long")
    r = theil_sen_days(df).collect()[0]
    assert (r.n_days, r.n_pairs) == (2, 1)
    assert r.key_lo == r.key_hi == -3333333334
    assert r.slope_mil == -333334


def test_term_burstiness_exact_vmr(spark):
    """VMR over the full bucket calendar (absent buckets zero) matches
    the closed-form integer computation; top-K by total count."""
    from collections import Counter, defaultdict

    from rio_cogeo_spark.operators.report import term_burstiness

    docs = [
        (0, "the cat sat on the mat"),
        (1, "the dog ran"),
        (3, "cat cat cat burst"),
        (9, "the end"),
    ]
    tb = Counter()
    for b, t in docs:
        for w in t.split():
            tb[(w, b)] += 1
    D = 10  # buckets 0..9
    per = defaultdict(lambda: [0, 0, 0])
    for (w, b), x in tb.items():
        per[w][0] += x
        per[w][1] += x * x
        per[w][2] += 1
    df = spark.createDataFrame(docs, "t_bucket long, text string")
    got = {
        r.term: (r.n_total, r.n_buckets, r.vmr_mil)
        for r in term_burstiness(df, top_k=100).collect()
    }
    for w, (S, Q, nb) in per.items():
        assert got[w] == (S, nb, ((D * Q - S * S) * 1_000_000) // (D * S))
    # 'cat' (bursty: 4 mentions, 2 buckets) disperses worse than 'the'
    assert got["cat"][2] > got["the"][2] > 0
    # a steady 1-per-bucket term has VMR (D-1)/D < 1e6
    assert got["the"][2] < 1_000_000 or got["cat"][2] > 1_000_000
    # top-1: 'cat' and 'the' tie at 4 total; lexicographic tie-break
    top1 = term_burstiness(df, top_k=1).collect()
    assert top1[0].term == "cat"


def test_lang_vocab_overlap_exact_jaccard(spark):
    """Pairwise vocabulary Jaccard matches set arithmetic; languages
    with empty intersections report 0."""
    import itertools
    from collections import defaultdict

    from rio_cogeo_spark.operators.report import lang_vocab_overlap

    docs = [
        ("the cat sat on the mat", "en"),
        ("the dog ran", "en"),
        ("le chat et le chien", "fr"),
        ("chat cat hybrid", "fr"),
        ("der hund und die katze", "de"),
    ]
    vocab = defaultdict(set)
    for t, l in docs:
        vocab[l].update(t.split())
    df = spark.createDataFrame(docs, "text string, lang string")
    got = {
        (r.lang_a, r.lang_b): (r.inter, r.n_a, r.n_b, r.jaccard_mil)
        for r in lang_vocab_overlap(df).collect()
    }
    for a, b in itertools.combinations(sorted(vocab), 2):
        i = len(vocab[a] & vocab[b])
        na, nb = len(vocab[a]), len(vocab[b])
        assert got[(a, b)] == (i, na, nb, i * 1_000_000 // (na + nb - i))
    assert got[("en", "fr")][0] == 1  # only 'cat' is shared
    assert got[("de", "en")][3] == 0


def test_cocitation_and_coupling(spark):
    """Co-citation (shared citers of a cited pair) and bibliographic
    coupling (shared citeds of a citer pair) vs set arithmetic; the
    degree cap drops super-spreader pivots."""
    import itertools
    from collections import Counter, defaultdict

    from rio_cogeo_spark.operators.graph import cocitation

    edges = [(i % 13, (i * 7 + 1) % 13) for i in range(60)]
    edges += [(1, 5), (2, 5), (1, 8), (2, 8)]
    edges = sorted({(s, d) for s, d in edges if s != d})
    outn, inn = defaultdict(set), defaultdict(set)
    for s, d in edges:
        outn[s].add(d)
        inn[d].add(s)

    def pairs(nbrs):
        c = Counter()
        for vs in nbrs.values():
            for a, b in itertools.combinations(sorted(vs), 2):
                c[(a, b)] += 1
        return dict(c)

    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.host_a, r.host_b): r.n_common for r in cocitation(edf).collect()
    }
    assert got == pairs(outn)
    # hosts 5 and 8 are co-cited by BOTH 1 and 2
    assert got[(5, 8)] >= 2
    gotc = {
        (r.host_a, r.host_b): r.n_common
        for r in cocitation(edf, mode="coupling").collect()
    }
    assert gotc == pairs(inn)
    capped = {
        (r.host_a, r.host_b): r.n_common
        for r in cocitation(edf, max_degree=2).collect()
    }
    assert capped == pairs(
        {s: ds for s, ds in outn.items() if len(ds) <= 2}
    )
    import pytest

    with pytest.raises(ValueError):
        cocitation(edf, mode="nope")


def test_term_localization_moments(spark):
    """Per-term mean center + dispersion radius match closed-form; a
    spatially-clustered term is more localized than a scattered one."""
    import math
    from collections import defaultdict

    from rio_cogeo_spark.operators.report import term_localization

    rows = [
        (1, 2, "paris tower paris"), (1, 3, "paris cafe"),
        (9, 9, "global web"), (0, 0, "global net"), (5, 5, "global hub"),
    ]
    mom = defaultdict(lambda: [0, 0, 0, 0, 0])
    for x, y, t in rows:
        for w in t.split():
            m = mom[w]
            m[0] += 1
            m[1] += x
            m[2] += y
            m[3] += x * x
            m[4] += y * y
    df = spark.createDataFrame(rows, "tile_x long, tile_y long, text string")
    got = {
        r.term: (r.n_mentions, r.mean_x_mil, r.mean_y_mil, r.std_dist_mil)
        for r in term_localization(df, top_k=100).collect()
    }
    for w, (n, sx, sy, sxx, syy) in mom.items():
        std = math.floor(
            math.sqrt(
                (float(sxx) + float(syy)) / n
                - (float(sx) / n) ** 2 - (float(sy) / n) ** 2
            ) * 1e6
        )
        assert got[w] == (n, sx * 1_000_000 // n, sy * 1_000_000 // n, std)
    assert got["paris"][3] < got["global"][3]


def test_cell_diversity_entropy(spark):
    """Per-cell language entropy: monolingual cell -> 0; balanced
    bilingual cell -> contributions matching the pinned closed form."""
    import math

    from rio_cogeo_spark.operators.report import cell_diversity

    rows = (
        [(0, 0, "en")] * 4
        + [(1, 1, "en")] * 2 + [(1, 1, "fr")] * 2
        + [(2, 2, "en"), (2, 2, "fr"), (2, 2, "de"), (2, 2, "de")]
    )
    df = spark.createDataFrame(rows, "tile_x long, tile_y long, lang string")
    got = {
        (r.tile_x, r.tile_y): r for r in cell_diversity(df).collect()
    }
    assert (got[(0, 0)].n_pages, got[(0, 0)].n_langs) == (4, 1)
    assert got[(0, 0)].h_nano == 0
    assert got[(0, 0)].h_max_nano == 0

    def contrib(cnt, n):
        return math.floor(cnt / n * math.log(n / cnt) * 1e9)

    assert got[(1, 1)].h_nano == 2 * contrib(2, 4)  # ln 2 (floored x2)
    assert got[(1, 1)].h_max_nano == math.floor(math.log(2) * 1e9)
    assert got[(2, 2)].h_nano == (
        contrib(1, 4) + contrib(1, 4) + contrib(2, 4)
    )
    assert got[(2, 2)].n_langs == 3
    # bilingual balanced cell is MORE diverse than the monolingual one
    assert got[(1, 1)].h_nano > got[(0, 0)].h_nano


def test_hapax_ratio_frequency_spectrum(spark):
    """Hapax/dis counts match the frequency spectrum exactly."""
    from rio_cogeo_spark.operators.report import hapax_ratio

    docs = [
        ("a b c a", "en"),      # a:2, b:1, c:1
        ("b d", "en"),          # b:2 total, d:1
        ("x x y", "fr"),        # x:2, y:1
    ]
    df = spark.createDataFrame(docs, "text string, lang string")
    got = {r.lang: r for r in hapax_ratio(df).collect()}
    en = got["en"]
    # en counts: a=2, b=2, c=1, d=1 -> types 4, hapax 2, dis 2
    assert (en.n_tokens, en.n_types, en.n_hapax, en.n_dis) == (6, 4, 2, 2)
    assert en.hapax_mil == 500_000
    fr = got["fr"]
    assert (fr.n_tokens, fr.n_types, fr.n_hapax, fr.n_dis) == (3, 2, 1, 1)
    assert fr.hapax_mil == 500_000


def test_lang_mixing_assortative_and_mixed(spark):
    """Perfectly assortative two-community graph -> r_mil 1e6; a
    single-language graph -> NULL; mixed graph matches closed form."""
    import math

    from rio_cogeo_spark.operators.graph import lang_mixing

    hl = spark.createDataFrame(
        [(0, "en"), (1, "en"), (2, "fr"), (3, "fr")], "host long, lang string"
    )
    perfect = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 3), (3, 2)], "src long, dst long"
    )
    r = lang_mixing(perfect, hl).collect()[0]
    assert (r.n_edges, r.same_lang) == (4, 4)
    assert r.r_mil == 1_000_000

    mono = spark.createDataFrame(
        [(0, 1), (1, 0)], "src long, dst long"
    )
    r = lang_mixing(mono, hl).collect()[0]
    assert r.r_mil is None  # E² == sum_ab for a single language

    mixed = spark.createDataFrame(
        [(0, 1), (2, 3), (0, 2), (3, 1)], "src long, dst long"
    )
    r = lang_mixing(mixed, hl).collect()[0]
    E, same = 4, 2
    # marginals: out en=3(0,0,3->en? no: src langs: 0=en,2=fr,0=en,3=fr -> en2 fr2
    a = {"en": 2, "fr": 2}
    b = {"en": 2, "fr": 2}  # dst langs: 1=en,3=fr,2=fr,1=en
    sum_ab = sum(a[k] * b[k] for k in a)
    want = math.floor((E * same - sum_ab) * 1e6 / (E * E - sum_ab))
    assert (r.n_edges, r.same_lang, r.sum_ab) == (E, same, sum_ab)
    assert r.r_mil == want


def test_regional_terms_odds_and_exclusives(spark):
    """Exact odds ratios; region-exclusive terms rank first; terms
    below min_in are dropped."""
    from rio_cogeo_spark.operators.report import regional_terms

    cities = spark.createDataFrame(
        [("alpha", 10.0, 10.0), ("beta", -40.0, -40.0)],
        "city string, c_lat double, c_lon double",
    )
    rows = (
        # inside alpha: 'fjord' exclusive (4x), 'web' shared
        [("fjord fjord web", 10.1, 10.1), ("fjord fjord web", 9.9, 9.9)]
        # inside beta: 'tango' 3x + web
        + [("tango tango tango web", -40.2, -39.9)]
        # outside everything: web-heavy background
        + [("web web web web", 50.0, 50.0)]
    )
    pages = spark.createDataFrame(rows, "text string, lat double, lon double")
    out = regional_terms(pages, cities, top_k=3, min_in=2).collect()
    by_city = {}
    for r in out:
        by_city.setdefault(r.city, []).append(r)
    alpha = by_city["alpha"]
    assert alpha[0].term == "fjord" and alpha[0].n_out == 0
    assert alpha[0].odds_mil is None  # exclusive: undefined odds, rank 1
    beta = by_city["beta"]
    assert beta[0].term == "tango" and beta[0].n_out == 0
    # 'web' in alpha: a=2, A=6, g=7, b=5, G=14, B=8, B-b=3:
    # odds = (2*3)/((6-2)*5) = 0.3 exactly
    webs = [r for r in alpha if r.term == "web"]
    assert webs and webs[0].odds_mil == 300_000
    assert webs[0].n_out == 5


def test_dissimilarity_index_exact(spark):
    """Duncan D: perfect segregation -> 1e6, identical spatial mix -> 0,
    exact common-denominator arithmetic on an uneven pair."""
    from rio_cogeo_spark.operators.report import dissimilarity_index

    def run(cells):
        df = spark.createDataFrame(
            cells, "tile_x long, tile_y long, lang string"
        )
        return {
            (r.lang_a, r.lang_b): r
            for r in dissimilarity_index(df).collect()
        }

    # complete segregation
    got = run([(0, 0, "en"), (0, 0, "en"), (1, 1, "fr"), (1, 1, "fr")])
    assert got[("en", "fr")].d_mil == 1_000_000
    # identical spatial distribution
    got = run([(0, 0, "en"), (0, 0, "fr"), (1, 1, "en"), (1, 1, "fr")])
    assert got[("en", "fr")].d_mil == 0
    # uneven: en 3@(0,0) 1@(1,1); fr 1@(0,0) 1@(1,1)
    # D = (|3*2-1*4| + |1*2-1*4|) * 1e6 // (2*4*2) = 4e6 // 16
    got = run([
        (0, 0, "en"), (0, 0, "en"), (0, 0, "en"), (1, 1, "en"),
        (0, 0, "fr"), (1, 1, "fr"),
    ])
    r = got[("en", "fr")]
    assert (r.total_a, r.total_b, r.n_cells) == (4, 2, 2)
    assert r.d_mil == 250_000
    # three languages -> three unordered pairs
    got = run([(0, 0, "en"), (1, 1, "fr"), (2, 2, "de")])
    assert set(got) == {("de", "en"), ("de", "fr"), ("en", "fr")}
    assert all(r.d_mil == 1_000_000 for r in got.values())


def test_location_quotient_exact(spark):
    """LQ = (a*T*1e6)//(t*A) per (cell,label) vs hand arithmetic."""
    from rio_cogeo_spark.operators.report import location_quotient

    pts = spark.createDataFrame(
        [(0, 0, "en")] * 3 + [(0, 0, "fr")] + [(1, 1, "fr")] * 2,
        "tile_x long, tile_y long, lang string",
    )
    got = {
        (r.tile_x, r.tile_y, r.lang): r
        for r in location_quotient(pts).collect()
    }
    assert got[(0, 0, "en")].lq_mil == 3 * 6 * 1_000_000 // (4 * 3)
    assert got[(0, 0, "fr")].lq_mil == 1 * 6 * 1_000_000 // (4 * 3)
    assert got[(1, 1, "fr")].lq_mil == 2 * 6 * 1_000_000 // (2 * 3)
    r = got[(0, 0, "en")]
    assert (r.cnt, r.cell_total, r.lang_total) == (3, 4, 3)


def test_exposure_index_exact(spark):
    """Ordered P* matrix: per-cell floordiv sums vs hand arithmetic;
    diagonal = isolation."""
    from rio_cogeo_spark.operators.report import exposure_index

    pts = spark.createDataFrame(
        [(0, 0, "en")] * 2 + [(0, 0, "fr")] + [(1, 1, "en")],
        "tile_x long, tile_y long, lang string",
    )
    got = {
        (r.lang_a, r.lang_b): r.exp_nano
        for r in exposure_index(pts).collect()
    }
    assert got[("en", "en")] == (2 * 2 * 10**9) // (3 * 3) + (10**9) // 3
    assert got[("en", "fr")] == (2 * 1 * 10**9) // (3 * 3)
    assert got[("fr", "en")] == (1 * 2 * 10**9) // (1 * 3)
    assert got[("fr", "fr")] == (1 * 1 * 10**9) // (1 * 3)


def test_host_spread_footprint(spark):
    """Exact cell counts + mean center, pinned-double rms radius,
    min_pages filter, footprint ordering."""
    import math

    from rio_cogeo_spark.operators.report import host_spread

    pts = spark.createDataFrame(
        [("a.com", 0, 0), ("a.com", 0, 0), ("a.com", 4, 0),
         ("b.com", 7, 7), ("c.com", 1, 1), ("c.com", 2, 2)],
        "host string, tile_x long, tile_y long",
    )
    rows = host_spread(pts, min_pages=2, top_k=10).collect()
    assert [r.host for r in rows] == ["a.com", "c.com"]  # b filtered
    a = rows[0]
    assert (a.n_pages, a.n_cells) == (3, 2)
    assert a.mean_x_mil == 4 * 1_000_000 // 3 and a.mean_y_mil == 0
    # num = 3*(16+0) - 16 - 0 = 32, den = 9
    assert a.rms_mil == math.floor(math.sqrt(32 / 9) * 1e6)
    c = rows[1]
    assert (c.n_pages, c.n_cells) == (2, 2)
    # num = 2*(1+4+1+4) - 9 - 9 = 2 ; rms = sqrt(2/4)
    assert c.rms_mil == math.floor(math.sqrt(2 / 4) * 1e6)


def test_morisita_horn_overlap(spark):
    """MH = 1 for identical distributions, 0 for disjoint, exact-moment
    pinned ratio for a mixed pair."""
    import math

    from rio_cogeo_spark.operators.report import morisita_horn

    def run(cells):
        df = spark.createDataFrame(
            cells, "tile_x long, tile_y long, lang string"
        )
        return {
            (r.lang_a, r.lang_b): r for r in morisita_horn(df).collect()
        }

    # identical distribution -> MH = 1 (floor to 1_000_000)
    got = run([(0, 0, "en"), (0, 0, "fr"), (1, 1, "en"), (1, 1, "fr")])
    assert got[("en", "fr")].mh_mil == 1_000_000
    # disjoint -> no shared cell -> no pair row (Sab empty)
    got = run([(0, 0, "en"), (1, 1, "fr")])
    assert got == {}
    # mixed: en [2,1], fr [1,3] over two cells
    got = run(
        [(0, 0, "en")] * 2 + [(1, 1, "en")]
        + [(0, 0, "fr")] + [(1, 1, "fr")] * 3
    )
    r = got[("en", "fr")]
    sab, saa, sbb, A, B = 2 * 1 + 1 * 3, 5, 10, 3, 4
    want = math.floor(
        (2.0 * sab * A * B) / (saa * B * B + sbb * A * A) * 1e6
    )
    assert r.mh_mil == want and (r.total_a, r.total_b) == (3, 4)


def test_lang_range_bbox(spark):
    """Exact bbox, cell count, and box-occupancy mil per label."""
    from rio_cogeo_spark.operators.report import lang_range

    pts = spark.createDataFrame(
        [(0, 0, "en"), (0, 0, "en"), (3, 1, "en"), (5, 5, "fr")],
        "tile_x long, tile_y long, lang string",
    )
    got = {r.lang: r for r in lang_range(pts).collect()}
    en = got["en"]
    assert (en.n_pages, en.n_cells) == (3, 2)
    assert (en.x0, en.y0, en.x1, en.y1) == (0, 0, 3, 1)
    assert en.occ_mil == 2 * 1_000_000 // (4 * 2)
    fr = got["fr"]
    assert (fr.n_cells, fr.occ_mil) == (1, 1_000_000)


def test_cell_novelty_frontier(spark):
    """Per-day first-occupancy counts + cumulative distinct cells."""
    from rio_cogeo_spark.operators.report import cell_novelty

    day = 86_400
    pts = spark.createDataFrame(
        [
            (0, 0, 10),            # cell A day 0
            (0, 0, 3 * day + 5),   # revisit day 3 — not novel
            (1, 1, day + 1),       # cell B day 1
            (2, 2, day + 2),       # cell C day 1
            (3, 3, 3 * day),       # cell D day 3
        ],
        "tile_x long, tile_y long, ts_sec long",
    )
    rows = {r.day: r for r in cell_novelty(pts).collect()}
    assert {d: r.new_cells for d, r in rows.items()} == {0: 1, 1: 2, 3: 1}
    assert rows[3].cum_cells == 4


def test_theil_h_segregation(spark):
    """H = 1e6 for perfect segregation (floor noise aside), 0 when
    every cell mirrors the global mix, exact pinned arithmetic."""
    import math

    from rio_cogeo_spark.operators.report import theil_h

    def run(cells):
        df = spark.createDataFrame(
            cells, "tile_x long, tile_y long, lang string"
        )
        return theil_h(df).collect()[0]

    # perfect segregation: monolingual cells -> every E_i = 0 -> H = 1
    r = run([(0, 0, "en")] * 2 + [(1, 1, "fr")] * 2)
    assert r.h_mil == 1_000_000 and r.n_cells == 2
    # every cell mirrors the global mix -> E_i = E -> H = 0
    r = run([(0, 0, "en"), (0, 0, "fr"), (1, 1, "en"), (1, 1, "fr")])
    assert r.h_mil == 0
    # monolingual corpus -> E = 0 -> NULL
    r = run([(0, 0, "en"), (1, 1, "en")])
    assert r.h_mil is None
    # mixed case: exact pinned arithmetic replicated in python
    cells = [(0, 0, "en")] * 3 + [(0, 0, "fr")] + [(1, 1, "fr")] * 2
    r = run(cells)

    def contrib(c, t):
        return math.floor((c / t) * math.log(t / c) * 1e9)

    e = contrib(3, 6) + contrib(3, 6)           # en 3, fr 3 of 6
    e0 = contrib(3, 4) + contrib(1, 4)          # cell (0,0)
    e1 = 0                                       # monolingual cell
    num = 4 * (e - e0) + 2 * (e - e1)
    assert r.e_nano == e
    assert r.h_mil == (num * 1_000_000) // (6 * e)


def test_syndication_span(spark):
    """Cross-cell duplicated fingerprints with exact bbox span; solo
    and single-cell fingerprints excluded."""
    from rio_cogeo_spark.operators.report import syndication

    pts = spark.createDataFrame(
        [
            ("f1", 0, 0), ("f1", 10, 2), ("f1", 10, 2),   # span 10
            ("f2", 3, 3), ("f2", 3, 4),                    # span 1
            ("f3", 5, 5), ("f3", 5, 5),                    # one cell
            ("f4", 9, 9),                                  # solo
        ],
        "fp string, tile_x long, tile_y long",
    )
    rows = syndication(pts).collect()
    assert [(r.fp, r.cheb_span, r.n_pages, r.n_cells) for r in rows] == [
        ("f1", 10, 3, 2), ("f2", 1, 2, 2),
    ]
    r = rows[0]
    assert (r.x0, r.y0, r.x1, r.y1) == (0, 0, 10, 2)


def test_city_langs_profile(spark):
    """Per-city top-k language shares with exact mil and strict
    ordering; pages outside every box ignored."""
    from rio_cogeo_spark.operators.report import city_langs

    cities = spark.createDataFrame(
        [("alpha", 10.0, 10.0), ("beta", 50.0, 50.0)],
        "city string, c_lat double, c_lon double",
    )
    pts = spark.createDataFrame(
        [("en", 10.1, 10.1)] * 3 + [("fr", 9.9, 9.9)] * 2
        + [("de", 10.0, 10.2)] + [("en", 50.0, 50.0)]
        + [("xx", 0.0, 0.0)],
        "lang string, lat double, lon double",
    )
    got = {
        (r.city, r.rank): r
        for r in city_langs(pts, cities, top_k=2).collect()
    }
    assert got[("alpha", 1)].lang == "en"
    assert got[("alpha", 1)].share_mil == 3 * 1_000_000 // 6
    assert got[("alpha", 2)].lang == "fr"
    assert got[("beta", 1)].lang == "en"
    assert got[("beta", 1)].share_mil == 1_000_000
    assert len(got) == 3  # alpha top-2 + beta's single language


def test_zoom_entropy_profile(spark):
    """Pinned-term entropy per zoom; uniform distribution hits the
    ceiling; concentrated distribution scores 0."""
    import math

    from rio_cogeo_spark.operators.report import zoom_entropy

    tiles = spark.createDataFrame(
        [(8, 0, 0, 4), (8, 1, 1, 4), (7, 0, 0, 8),
         (6, 0, 0, 6), (6, 1, 1, 2)],
        "zoom int, tile_x long, tile_y long, page_count long",
    )
    got = {r.zoom: r for r in zoom_entropy(tiles).collect()}
    # z8: uniform over 2 cells -> h = ln(2) (two pinned half-terms)
    half = math.floor(0.5 * math.log(2) * 1e9)
    assert got[8].h_nano == 2 * half
    assert got[8].h_max_nano == math.floor(math.log(2) * 1e9)
    # z7: single cell -> zero entropy
    assert got[7].h_nano == 0 and got[7].n_cells == 1
    # z6: 6/8 + 2/8 split, exact pinned terms
    want = (
        math.floor((6 / 8) * math.log(8 / 6) * 1e9)
        + math.floor((2 / 8) * math.log(8 / 2) * 1e9)
    )
    assert got[6].h_nano == want and got[6].total == 8


def test_urban_gradient_and_catchment(spark):
    """Exact distance histogram and Voronoi catchments on a toy
    two-center layout; struct argmin tie-break."""
    from rio_cogeo_spark.operators.report import (
        city_catchment,
        urban_gradient,
    )

    centers = [("a", 0, 0), ("b", 10, 0)]
    # pages: 2 at center a, 1 at (1,1) [d=1 from a], 1 at (5,0)
    # [d=5 from both -> tie goes to a (idx 0)], 1 at (9,0) [d=1 from b]
    pts = spark.createDataFrame(
        [(0, 0), (0, 0), (1, 1), (5, 0), (9, 0)],
        "tile_x long, tile_y long",
    )
    g = {r.d: r for r in urban_gradient(pts, centers).collect()}
    assert {d: (r.n_pages, r.n_cells) for d, r in g.items()} == {
        0: (2, 1), 1: (2, 2), 5: (1, 1),
    }
    assert g[0].share_mil == 2 * 1_000_000 // 5
    c = {r.city: r for r in city_catchment(pts, centers).collect()}
    assert (c["a"].n_pages, c["a"].n_cells) == (4, 3)  # tie -> a
    assert (c["b"].n_pages, c["b"].n_cells) == (1, 1)
