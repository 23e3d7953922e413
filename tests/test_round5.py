"""Round-5 surface: variable-width TileMatrixSet (morecantile's full
matrix contract, reference cogeo.py:86 — explicit per-zoom matrices +
OGC 2D-TMS variableMatrixWidths row coalescing, GNOSISGlobalGrid-style),
TMS dict validation hardening, the quad-only pyramid gate, and the
fold-from-base-level pyramid equivalence (translate.FOLD_CELLS covers a
global z10 base extent, so chained-vs-folded derivations must stay
value-identical).
"""

import numpy as np
import pytest
from test_plan_shapes import plan_of

from rio_cogeo_spark import grid
from rio_cogeo_spark.errors import IncompatibleOptions
from rio_cogeo_spark.operators import rarity, sampling
from rio_cogeo_spark.operators import translate as T
from rio_cogeo_spark.synth import synth_pages


# A GNOSIS-style grid: geographic, 4x2 zoom-0 matrix doubling per zoom,
# with the polar rows coalesced (top/bottom row tiles span 4 columns at
# every zoom, the next rows 2 at zoom >= 1) — the shape
# GNOSISGlobalGrid uses, exercised with small numbers.
GNOSISH = {
    "id": "GNOSISish",
    "crs": "OGC:CRS84",
    "bbox": [-180.0, -90.0, 180.0, 90.0],
    "geographic": True,
    "matrices": [[4, 2], [8, 4], [16, 8]],
    "variable_widths": [
        [[0, 0, 4], [1, 1, 4]],
        [[0, 0, 4], [3, 3, 4], [1, 1, 2], [2, 2, 2]],
        [[0, 0, 4], [7, 7, 4], [1, 1, 2], [6, 6, 2]],
    ],
}


def test_variable_tms_matrix_and_cell_size():
    t = grid.tms_from_dict(GNOSISH)
    assert not t.is_quad
    assert t.matrix_size(0) == (4, 2)
    assert t.matrix_size(2) == (16, 8)
    assert t.cell_size(1) == 360.0 / (8 * 256)
    with pytest.raises(ValueError, match="out of range"):
        t.matrix_size(3)
    # zoom_for_res clamps to the defined matrices
    assert t.zoom_for_res(1e-12) == 2


def test_variable_tms_coalesced_snapping():
    t = grid.tms_from_dict(GNOSISH)
    # zoom 1: rows 0 and 3 coalesce by 4, rows 1-2 by 2 (matrix 8x4)
    lon = np.array([170.0, 170.0, 170.0, -170.0])
    lat = np.array([80.0, 30.0, -30.0, -80.0])
    tx, ty = t.tile_index(lon, lat, 1)
    assert list(ty) == [0, 1, 2, 3]
    # uniform tx for lon=170 at 8 cols is 7 → snaps to 4 (row 0, c=4)
    # and 6 (rows 1-2, c=2); lon=-170 → uniform 0 stays 0
    assert list(tx) == [4, 6, 6, 0]
    # every snapped tile_x is a multiple of its row's coalesce factor
    c = {0: 4, 1: 2, 2: 2, 3: 4}
    assert all(int(x) % c[int(y)] == 0 for x, y in zip(tx, ty))


def test_variable_tms_bounds_span_coalesced_columns():
    t = grid.tms_from_dict(GNOSISH)
    # zoom 1, row 0 (c=4): tile (4, 0) spans 4 uniform columns = 180 deg
    w, s, e, n = t.tile_bounds([4], [0], 1)
    assert (float(w[0]), float(n[0])) == (0.0, 90.0)
    assert float(e[0]) - float(w[0]) == 4 * 45.0
    # row 1 (c=2): spans 2 columns
    w, s, e, n = t.tile_bounds([6], [1], 1)
    assert float(e[0]) - float(w[0]) == 2 * 45.0
    # points round-trip into their tile's bounds
    lon = np.linspace(-179.9, 179.9, 41)
    lat = np.linspace(-89.9, 89.9, 41)
    for z in (0, 1, 2):
        tx, ty = t.tile_index(lon, lat, z)
        w, s, e, n = t.tile_bounds(tx, ty, z)
        assert (w <= lon).all() and (lon < e).all()
        assert (s <= lat).all() and (lat <= n).all()


def test_uniform_tms_unaffected_by_extension():
    # quad grids keep byte-identical behavior through the new code paths
    q = grid.WEB_MERCATOR_QUAD
    assert q.is_quad
    rng = np.random.default_rng(11)
    lon = rng.uniform(-179, 179, 1000)
    lat = rng.uniform(-84, 84, 1000)
    for z in (0, 5, 12):
        a = grid.tile_index(lon, lat, z)
        b = q.tile_index(lon, lat, z)
        assert (a[0] == b[0]).all() and (a[1] == b[1]).all()


def test_tms_from_dict_rejects_nonpositive_dims():
    base = {"id": "x", "crs": "OGC:CRS84", "bbox": [-180, -90, 180, 90]}
    for k in ("tile_px", "matrix_width0", "matrix_height0"):
        with pytest.raises(ValueError, match=">= 1"):
            grid.tms_from_dict({**base, k: 0})
        with pytest.raises(ValueError, match=">= 1"):
            grid.tms_from_dict({**base, k: -3})


def test_tms_from_dict_rejects_bad_variable_widths():
    base = {"id": "x", "crs": "OGC:CRS84", "bbox": [-180, -90, 180, 90]}
    with pytest.raises(ValueError, match="requires explicit matrices"):
        grid.tms_from_dict({**base, "variable_widths": [[[0, 0, 2]]]})
    with pytest.raises(ValueError, match=">= 1x1"):
        grid.tms_from_dict({**base, "matrices": [[4, 0]]})
    with pytest.raises(ValueError, match="coalesce"):
        grid.tms_from_dict(
            {**base, "matrices": [[4, 2]], "variable_widths": [[[0, 0, 0]]]}
        )
    with pytest.raises(ValueError, match="outside"):
        grid.tms_from_dict(
            {**base, "matrices": [[4, 2]], "variable_widths": [[[0, 5, 2]]]}
        )
    with pytest.raises(ValueError, match="more zooms"):
        grid.tms_from_dict(
            {**base, "matrices": [[4, 2]],
             "variable_widths": [[], [[0, 0, 2]]]}
        )


def test_pyramid_rejects_non_quad_tms(spark, sf_small):
    pages = synth_pages(spark, sf_small).limit(50)
    t = grid.tms_from_dict(GNOSISH)
    with pytest.raises(IncompatibleOptions, match="not a quad"):
        T.cog_translate(pages, max_zoom=2, overview_level=2, tms=t)
    with pytest.raises(IncompatibleOptions, match="not a quad"):
        T.plan_tile_job(pages, max_zoom=2, tms=t)
    # addressing still works on the variable grid — it is only the
    # pyramid (parent-cell decimation) that requires quad
    out = T.assign_tiles(pages, 1, tms=t)
    rows = out.select("tile_x", "tile_y").collect()
    assert len(rows) == 50


def test_pyramid_rejects_levels_below_zoom_0(spark, sf_small):
    """An overview_level deeper than max_zoom would label tiles at
    negative zooms: refused before any Spark job runs."""
    pages = synth_pages(spark, sf_small)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    with pytest.raises(IncompatibleOptions, match="below zoom 0"):
        T.cog_translate(pages, max_zoom=2, overview_level=5)
    with pytest.raises(IncompatibleOptions, match="below zoom 0"):
        T.plan_tile_job(pages, max_zoom=3, overview_level=2, decimation_base=4)
    assert set(st.getJobIdsForGroup()) == before
    # the deepest chain that fits ends at zoom 0
    assert T.plan_tile_job(pages, max_zoom=2, overview_level=2).zooms == [2, 1, 0]


# --- CLI parity tail: --dtype / --add-mask / --co (reference
# scripts/cli.py:111-117 --add-mask, options.dtype_opt,
# options.creation_options + cli.py:270-271 profile patching)

@pytest.fixture(scope="module")
def pages_path(spark, sf_small, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("r5") / "pages")
    synth_pages(spark, sf_small).write.parquet(p)
    return p


def _info_json(out):
    import contextlib
    import io
    import json as _json

    from rio_cogeo_spark.cli import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["--cpus", "8", "info", out, "--json"]) == 0
    return _json.loads(buf.getvalue().strip().splitlines()[-1])


def test_cli_dtype_cast_visible_in_info_and_on_disk(spark, pages_path, tmp_path):
    import json as _json

    from rio_cogeo_spark.cli import main

    out = str(tmp_path / "pyr")
    rc = main([
        "--cpus", "8", "create", pages_path, out,
        "--max-zoom", "6", "--overview-level", "2", "--dtype", "int32",
    ])
    assert rc == 0
    assert _json.load(open(f"{out}/_plan.json"))["dtype"] == "int32"
    d = _info_json(out)
    assert d["Profile"]["Dtype"] == "int32"
    # the written parquet really carries the casted type
    back = spark.read.parquet(f"{out}/zoom=6")
    assert dict(back.dtypes)["page_count"] == "int"


def test_cli_dtype_rejects_unknown(pages_path, tmp_path):
    from rio_cogeo_spark.cli import main

    with pytest.raises(SystemExit):
        main([
            "--cpus", "8", "create", pages_path, str(tmp_path / "p"),
            "--max-zoom", "6", "--dtype", "complex128",
        ])


def test_cli_add_mask_produces_mask_band(spark, pages_path, tmp_path):
    from rio_cogeo_spark.cli import main

    out = str(tmp_path / "pyr")
    rc = main([
        "--cpus", "8", "create", pages_path, out,
        "--max-zoom", "6", "--overview-level", "2", "--add-mask",
    ])
    assert rc == 0
    back = spark.read.parquet(f"{out}/zoom=6")
    assert "mask_count" in back.columns
    # every source point is valid here, so mask == page_count
    from pyspark.sql import functions as F

    bad = back.filter(F.col("mask_count") != F.col("page_count")).count()
    assert bad == 0
    d = _info_json(out)
    assert d["Profile"]["InternalMask"] is True
    # the mask is not a color band (reference: mask plane is not a band)
    assert "mask_count" not in list(d["Profile"]["ColorInterp"])


def test_cli_co_patches_profile_and_codec(spark, pages_path, tmp_path):
    import json as _json

    from rio_cogeo_spark.cli import main

    out = str(tmp_path / "pyr")
    rc = main([
        "--cpus", "8", "create", pages_path, out,
        "--max-zoom", "6", "--overview-level", "1",
        "--profile", "zstd",
        "--co", "COMPRESS=DEFLATE", "--co", "custom_opt=7",
    ])
    assert rc == 0
    pj = _json.load(open(f"{out}/_plan.json"))
    assert pj["profile_options"]["compression"] == "gzip"  # DEFLATE analog
    assert pj["profile_options"]["custom_opt"] == "7"
    # the parquet files are really gzip-compressed
    import glob
    import pyarrow.parquet as pq

    f = glob.glob(f"{out}/zoom=6/*.parquet")[0]
    codecs = {
        pq.ParquetFile(f).metadata.row_group(0).column(i).compression
        for i in range(pq.ParquetFile(f).metadata.num_columns)
    }
    assert codecs == {"GZIP"}
    # info surfaces the patched codec
    assert _info_json(out)["Compression"] == "gzip"


def test_cli_band_tags_checked_after_bidx(pages_path, tmp_path):
    """Tags naming a band dropped by --bidx must be rejected, not
    silently vanish (ADVICE r4)."""
    import json as _json

    from rio_cogeo_spark.cli import main

    tags_path = str(tmp_path / "tags.json")
    with open(tags_path, "w") as f:
        _json.dump({"sum_chars": {"k": "v"}}, f)
    rc = main([
        "--cpus", "8", "create", pages_path, str(tmp_path / "pyr"),
        "--max-zoom", "6", "--overview-level", "1",
        "--bidx", "1", "--band-tags", tags_path,
    ])
    assert rc == 2
    # and tags on the mask band added by --add-mask are accepted
    with open(tags_path, "w") as f:
        _json.dump({"mask_count": {"role": "mask"}}, f)
    out = str(tmp_path / "pyr2")
    rc = main([
        "--cpus", "8", "create", pages_path, out,
        "--max-zoom", "6", "--overview-level", "1",
        "--add-mask", "--band-tags", tags_path,
    ])
    assert rc == 0
    pj = _json.load(open(f"{out}/_plan.json"))
    assert pj["band_meta"]["mask_count"]["tags"] == {"role": "mask"}


# --- IVF quantizer decoupled from the label column (VERDICT r4 #4):
# explicit n_lists + deterministic k-means++ sample seeding

def test_ann_ivf_label_free_recall(spark, sf_mid):
    import numpy as np
    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_mid}/embeddings.parquet").cache()
    emb.count()
    n_lists = emb.select("label").distinct().count()
    queries = emb.filter(F.col("vec_id") < 15).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    truth = {
        (r["query_id"], r["vec_id"])
        for r in SIM.ann_bruteforce_topk(emb, queries, k=5).collect()
    }

    def recall(df):
        hits = {(r["query_id"], r["vec_id"]) for r in df.collect()}
        return len(hits & truth) / len(truth)

    labeled = recall(SIM.ann_ivf_topk(emb, queries, k=5, n_probe=3))
    # label-free corpus: same list count, same n_probe, NO label column.
    # The label-free build is k-means++ seed + Lloyd refinement (the
    # production config when no grouping column exists); it must match
    # or beat the label-seeded quantizer's recall.
    no_label = emb.drop("label")
    free = recall(
        SIM.ann_ivf_topk(
            no_label, queries, k=5, n_probe=3, n_lists=n_lists,
            lloyd_iters=2,
        )
    )
    assert free >= labeled, (free, labeled)
    # determinism: the sample seed is hash-ordered, not partition-ordered
    c1 = SIM.ivf_build_centroids(no_label, n_lists=n_lists)
    c2 = SIM.ivf_build_centroids(no_label.repartition(7), n_lists=n_lists)
    assert np.allclose(c1, c2)


def test_ivf_index_save_load_roundtrip(spark, sf_mid, tmp_path):
    """Persistable quantizer (FAISS-index-file analog): save/load is
    value-exact and the with-index query path equals the build-inline
    path."""
    import numpy as np
    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_mid}/embeddings.parquet").drop("label")
    cent = SIM.ivf_build_centroids(emb, n_lists=6)
    path = str(tmp_path / "ivf_index")
    SIM.ivf_save_index(spark, cent, path)
    loaded = SIM.ivf_load_index(spark, path)
    assert np.array_equal(cent, loaded)

    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    a = sorted(
        map(tuple, SIM.ann_ivf_topk_with_index(
            emb, queries, loaded, k=5, n_probe=2
        ).collect())
    )
    b = sorted(
        map(tuple, SIM.ann_ivf_topk(
            emb, queries, k=5, n_probe=2, n_lists=6
        ).collect())
    )
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="empty IVF index"):
        empty = str(tmp_path / "empty_index")
        spark.createDataFrame(
            [], "list_id int, centroid array<double>"
        ).write.parquet(empty)
        SIM.ivf_load_index(spark, empty)


def test_ivf_n_lists_exceeding_sample_rejected(spark, sf_mid):
    from rio_cogeo_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{sf_mid}/embeddings.parquet")
    with pytest.raises(ValueError, match="exceeds the seed sample"):
        SIM.ivf_build_centroids(emb, n_lists=50, sample_rows=10)


# --- streaming contamination (VERDICT r4 #8): stream-static broadcast
# join + watermarked windowed fold == batch twin, at 2 micro-batch sizes

def test_streaming_contamination_equals_batch(spark, tmp_path):
    import datetime

    from rio_cogeo_spark.streaming.contamination import (
        contamination_batch_windowed,
        contamination_stream,
    )

    base = datetime.datetime(2026, 1, 1)
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("pack my box with five dozen liquor jugs",)],
        "text string",
    )
    rows = []
    for i in range(60):
        if i % 3 == 0:
            txt = f"prefix {i} the quick brown fox jumps far"
        elif i % 3 == 1:
            txt = f"doc {i} pack my box with five dozen things"
        else:
            txt = f"clean document number {i} with no overlap at all"
        rows.append((i, txt, base + datetime.timedelta(minutes=i * 7)))
    docs = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    src = str(tmp_path / "docs_stream")
    docs.repartition(4).write.parquet(src)

    expected = {
        (r["window_sec"], r["doc_id"]): r["n_hits"]
        for r in contamination_batch_windowed(docs, bench).collect()
    }
    assert expected and any(v >= 1 for v in expected.values())

    from rio_cogeo_spark.streaming.events import run_stream_to_memory

    for name, opts in (
        ("contam_all", {}),
        ("contam_one", {"maxFilesPerTrigger": "1"}),
    ):
        reader = spark.readStream.schema(docs.schema)
        for k, v in opts.items():
            reader = reader.option(k, v)
        stream = reader.parquet(src)
        got_df = run_stream_to_memory(
            contamination_stream(stream, bench), name
        )
        got = {
            (r["window_sec"], r["doc_id"]): r["n_hits"]
            for r in got_df.collect()
        }
        assert got == expected, name


# --- streaming near-dup (simhash banding + applyInPandasWithState):
# distinct candidate pairs must equal the batch simhash_pairs set

def test_streaming_neardup_equals_batch(spark, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators import dedup as DD
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.neardup import neardup_pairs_stream

    base = datetime.datetime(2026, 2, 1)
    texts = []
    for i in range(60):
        family = i % 12
        if i < 36:
            # three near-identical copies per family (one token varies)
            txt = (f"shared boilerplate text for family {family} with "
                   f"many common tokens and variant {i // 12}")
        else:
            txt = f"totally unique document {i} nothing in common here {i*7}"
        texts.append((i, txt, base + datetime.timedelta(minutes=i)))
    docs = spark.createDataFrame(
        texts, "doc_id long, text string, ts timestamp"
    )
    src = str(tmp_path / "neardup_stream")
    docs.repartition(3).write.parquet(src)

    batch = {
        (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
        for r in DD.simhash_pairs(docs).collect()
    }
    assert batch  # the families must produce near-dup pairs

    for name, opts in (
        ("neardup_all", {}),
        ("neardup_one", {"maxFilesPerTrigger": "1"}),
    ):
        reader = spark.readStream.schema(docs.schema)
        for k, v in opts.items():
            reader = reader.option(k, v)
        stream = reader.parquet(src)
        got_df = run_stream_to_memory(
            neardup_pairs_stream(stream, horizon_sec=86400),
            name, output_mode="append",
        )
        got = {
            (min(r["doc_a"], r["doc_b"]), max(r["doc_a"], r["doc_b"]))
            for r in got_df.collect()
        }
        assert got == batch, (name, got ^ batch)
        # hamming values are verified (<= 3), not just band collisions
        assert got_df.filter(F.col("hamming") > 3).count() == 0


def test_streaming_neardup_horizon_bounds_state(spark, tmp_path):
    """Members older than the horizon are pruned: a duplicate arriving
    beyond the horizon is NOT paired with its ancient twin."""
    import datetime

    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.neardup import neardup_pairs_stream

    base = datetime.datetime(2026, 2, 1)
    rows = [
        (1, "the same exact duplicated text content here", base),
        (2, "the same exact duplicated text content here",
         base + datetime.timedelta(seconds=30)),       # inside horizon
        (3, "the same exact duplicated text content here",
         base + datetime.timedelta(hours=10)),         # far outside
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    src = str(tmp_path / "horizon_stream")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    got_df = run_stream_to_memory(
        neardup_pairs_stream(stream, horizon_sec=60),
        "neardup_horizon", output_mode="append",
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in got_df.collect()}
    assert pairs == {(1, 2)}, pairs


def test_fold_from_base_equals_level_chain(spark, sf_small, monkeypatch):
    """FOLD_CELLS now covers a global z10 base extent, so the whole
    overview tail folds into one stage directly from the base level —
    assert value-identity against the never-folding chain."""
    pages = synth_pages(spark, sf_small)
    folded, plan_f = T.cog_translate(pages, max_zoom=8, overview_level=5)
    assert plan_f.zooms == list(range(8, 2, -1))
    monkeypatch.setattr(T, "FOLD_CELLS", 0)
    chained, plan_c = T.cog_translate(pages, max_zoom=8, overview_level=5)
    assert plan_c.zooms == plan_f.zooms
    cols = ["zoom", "tile_x", "tile_y"]
    a = {tuple(r) for r in folded.collect()}
    b = {tuple(r) for r in chained.collect()}
    assert a == b


# --- incremental dedup against a persisted LSH index -------------------

def test_minhash_index_incremental_equals_batch(spark, sf_mid, tmp_path):
    """Index old half, query new half: the cross pairs must equal the
    old-new subset of the full-batch minhash_lsh_pairs output."""
    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet")
    dups = docs.filter(F.col("doc_id") < 50).withColumn(
        "doc_id", F.col("doc_id") + 100001
    )
    both = docs.unionByName(dups)
    old = both.filter(F.col("doc_id") % 2 == 0)
    new = both.filter(F.col("doc_id") % 2 == 1)

    full = DD.minhash_lsh_pairs(both, threshold=0.5, num_hashes=128, bands=64)
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        if r["doc_a"] % 2 == 0 else (r["doc_b"], r["doc_a"], r["jaccard"])
        for r in full.collect()
        if (r["doc_a"] % 2) != (r["doc_b"] % 2)
    }
    assert want  # +100001 flips parity, so the 50 exact-dup pairs cross

    path = str(tmp_path / "lsh_index")
    meta = DD.minhash_save_index(old, path, num_hashes=128, bands=64)
    assert meta["bands"] == 64
    got_df = DD.minhash_dedup_against_index(new, path, threshold=0.5)
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in got_df.collect()}
    assert got == want


def test_minhash_index_update_and_param_guard(spark, sf_mid, tmp_path):
    """update_index appends a snapshot (later queries see it); appending
    with mismatched LSH params fails loudly."""
    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{sf_mid}/documents.parquet")
    a = docs.filter(F.col("doc_id") < 30)
    b = docs.filter((F.col("doc_id") >= 30) & (F.col("doc_id") < 60))
    # the probe: exact copies of two docs from each snapshot half
    probe = docs.filter(F.col("doc_id").isin(10, 40)).withColumn(
        "doc_id", F.col("doc_id") + 500000
    )

    path = str(tmp_path / "incr_index")
    DD.minhash_save_index(a, path, num_hashes=64, bands=32)
    hits1 = {
        r["doc_a"]
        for r in DD.minhash_dedup_against_index(probe, path, 0.9).collect()
    }
    assert hits1 == {10}  # doc 40's twin not indexed yet

    DD.minhash_update_index(b, path)
    hits2 = {
        r["doc_a"]
        for r in DD.minhash_dedup_against_index(probe, path, 0.9).collect()
    }
    assert hits2 == {10, 40}

    with pytest.raises(ValueError, match="was built with"):
        DD.minhash_save_index(b, path, num_hashes=128, bands=64, mode="append")


# --- canonical-URL keep-latest dedup (re-crawl snapshot resolution) ----

def test_canonical_url_edges(spark):
    from pyspark.sql import functions as F

    from rio_cogeo_spark.functions.text import canonical_url

    cases = [
        ("https://www.a.com/x/", "a.com/x"),
        ("http://a.com#frag", "a.com"),
        ("a.com//", "a.com"),
        ("https://a.com/r?u=http://b.com", "a.com/r?u=http://b.com"),
        ("www.b.org/p", "b.org/p"),
        ("https://a.com/", "a.com"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_latest_keeps_newest(spark):
    from rio_cogeo_spark.operators.dedup import url_dedup_latest

    rows = [
        (1, "https://a.com/p", 100),
        (2, "http://www.a.com/p/", 300),   # newest snapshot of a.com/p
        (3, "a.com/p#frag", 200),
        (4, "https://b.com", 50),
        (5, "https://c.com", 70),
        (6, "https://c.com", 70),           # ts tie → highest doc_id wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts_sec long")
    got = {
        r["canon_url"]: (r["doc_id"], r["ts_sec"], r["n_snapshots"])
        for r in url_dedup_latest(df).collect()
    }
    assert got == {
        "a.com/p": (2, 300, 3),
        "b.com": (4, 50, 1),
        "c.com": (6, 70, 2),
    }


# --- BM25 ranking (exact-integer fixed-point) --------------------------

def test_bm25_topk_ranks_and_length_normalizes(spark):
    from rio_cogeo_spark.operators.search import bm25_topk

    rows = [
        # short doc with one hit must outrank a long doc with one hit
        (1, "spark " + "pad " * 4),
        (2, "spark " + "pad " * 400),
        # two distinct query terms beat one term at equal length
        (3, "spark hash " + "pad " * 4),
        (4, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bm25_topk(df, ["spark", "hash"], k=10).collect()}
    assert set(got) == {1, 2, 3}          # doc 4 never scored
    assert got[3]["n_terms_hit"] == 2
    assert got[3]["rank"] == 1
    assert got[1]["score"] > got[2]["score"]   # dl normalization
    assert all(isinstance(r["score"], int) for r in got.values())


def test_bm25_tf_saturates(spark):
    # BM25's tf saturation: 50 repeats must score < 50x a single hit
    from rio_cogeo_spark.operators.search import bm25_topk

    rows = [(1, "spark " + "pad " * 49), (2, "spark " * 50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["score"] for r in bm25_topk(df, ["spark"], k=10).collect()}
    assert got[2] < 50 * got[1]
    assert got[2] > got[1]


# --- snapshot change history ------------------------------------------

def test_snapshot_change_stats(spark):
    from rio_cogeo_spark.operators.dedup import snapshot_change_stats

    rows = [
        (1, "https://a.com/p", 100, "alpha beta"),
        (2, "http://www.a.com/p/", 200, "alpha beta"),   # same content
        (3, "a.com/p", 300, "alpha beta gamma"),          # changed
        (4, "a.com/p", 400, "Alpha   BETA gamma"),        # ws/case only: no change
        (5, "https://b.com", 50, "x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts_sec long, text string")
    got = {r["canon_url"]: r for r in snapshot_change_stats(df).collect()}
    a = got["a.com/p"]
    assert (a["n_snapshots"], a["n_changes"]) == (4, 2)
    assert (a["first_ts"], a["last_ts"], a["last_change_ts"]) == (100, 400, 300)
    b = got["b.com"]
    assert (b["n_snapshots"], b["n_changes"], b["last_change_ts"]) == (1, 1, 50)


def test_snapshot_change_stats_single_exchange(spark):
    # window + same-key rollup must reuse one hash partitioning
    from rio_cogeo_spark.operators.dedup import snapshot_change_stats

    df = spark.createDataFrame(
        [(1, "a.com", 1, "t")], "doc_id long, url string, ts_sec long, text string"
    )
    plan = plan_of(snapshot_change_stats(df))
    assert plan.count(") Exchange") == 1, plan


# --- streaming URL keep-latest ----------------------------------------

def _url_stream_rows():
    rows = []
    for i in range(120):
        # 40 canonical urls, 3 snapshots each, URL-form variants per crawl
        page = i % 40
        crawl = i // 40
        form = ["https://s%d.example/p", "http://www.s%d.example/p/",
                "s%d.example/p#f"][crawl]
        rows.append((i, form % page, 1000 + crawl * 100 + page))
    return rows


@pytest.mark.parametrize("files_per_trigger", [1, 4])
def test_url_latest_stream_equals_batch(spark, tmp_path, files_per_trigger):
    from rio_cogeo_spark.operators.dedup import url_dedup_latest
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.urls import url_latest_stream

    df = spark.createDataFrame(
        _url_stream_rows(), "doc_id long, url string, ts_sec long"
    )
    src = str(tmp_path / f"urls_{files_per_trigger}")
    # one file per crawl so micro-batches interleave crawls
    df.repartition(6).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    name = f"url_latest_stream_{files_per_trigger}"
    got = run_stream_to_memory(
        url_latest_stream(stream), name, output_mode="complete"
    )
    batch = {
        r["canon_url"]: (r["doc_id"], r["ts_sec"], r["n_snapshots"])
        for r in url_dedup_latest(df).collect()
    }
    streamed = {
        r["canon_url"]: (r["doc_id"], r["ts_sec"], r["n_snapshots"])
        for r in got.collect()
    }
    assert streamed == batch
    assert len(batch) == 40 and all(n == 3 for _, _, n in batch.values())


def test_url_latest_stream_update_mode_converges(spark, tmp_path):
    # production shape: update mode emits only re-crawled urls; the last
    # emission per key (max n_snapshots — monotone) is the final table
    from rio_cogeo_spark.operators.dedup import url_dedup_latest
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.urls import url_latest_stream

    df = spark.createDataFrame(
        _url_stream_rows(), "doc_id long, url string, ts_sec long"
    )
    src = str(tmp_path / "urls_upd")
    df.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream_to_memory(
        url_latest_stream(stream), "url_latest_stream_upd",
        output_mode="update",
    )
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    final = (
        got.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("canon_url").orderBy(F.desc("n_snapshots"))
            ),
        )
        .filter("rn = 1")
        .drop("rn")
    )
    batch = {
        r["canon_url"]: (r["doc_id"], r["ts_sec"], r["n_snapshots"])
        for r in url_dedup_latest(df).collect()
    }
    streamed = {
        r["canon_url"]: (r["doc_id"], r["ts_sec"], r["n_snapshots"])
        for r in final.collect()
    }
    assert streamed == batch


# --- C4-style paragraph dedup -----------------------------------------

def test_paragraph_dedup_boilerplate_and_copies(spark):
    from rio_cogeo_spark.operators.dedup import paragraph_dedup

    hdr, ftr = "site header", "site footer"
    rows = [
        (1, f"{hdr}\n\nunique one\n\n{ftr}"),
        (2, f"{hdr}\n\nunique two\n\n{ftr}"),
        (3, f"{hdr}\n\nunique one\n\n{ftr}"),   # body dups doc 1 too
        (4, f"{hdr}\n\n{ftr}"),                  # pure boilerplate → drops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["text"] == f"{hdr}\n\nunique one\n\n{ftr}"
    assert (got[1]["n_kept"], got[1]["n_total"]) == (3, 3)
    assert got[2]["text"] == "unique two"
    assert (got[2]["n_kept"], got[2]["n_total"]) == (1, 3)


def test_paragraph_dedup_literal_separator_and_empties(spark):
    from rio_cogeo_spark.operators.dedup import paragraph_dedup

    # '. ' has a regex metachar; empty paragraphs from separator runs
    # must not dedup across docs
    rows = [(1, "aa. bb. . cc"), (2, "dd. . ee")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in paragraph_dedup(df, sep=". ").collect()}
    assert got[1]["text"] == "aa. bb. cc"
    assert got[2]["text"] == "dd. ee"
    assert got[2]["n_total"] == 2


# --- domain blocklist filter ------------------------------------------

def test_blocklist_filter_suffix_semantics(spark):
    from rio_cogeo_spark.operators.urlfilter import blocklist_filter

    rows = [
        (1, "https://bad.example/x"),
        (2, "https://a.bad.example/x"),       # subdomain → blocked
        (3, "https://notbad.example/x"),      # suffix, not domain suffix
        (4, "https://www.bad.example/x"),     # www-stripped → blocked
        (5, "https://good.org/x"),
        (6, "bad.example/no-scheme"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = sorted(
        r["doc_id"] for r in blocklist_filter(df, ["bad.example"]).collect()
    )
    assert kept == [3, 5]


def test_blocklist_filter_df_path_equals_list_path(spark):
    from rio_cogeo_spark.operators.urlfilter import blocklist_filter

    rows = [(i, f"https://s{i % 7}.d{i % 3}.net/p") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    bl = ["s1.d1.net", "d2.net"]
    bl_df = spark.createDataFrame([(d,) for d in bl], "domain string")
    a = sorted(r["doc_id"] for r in blocklist_filter(df, bl).collect())
    b = sorted(r["doc_id"] for r in blocklist_filter(df, bl_df).collect())
    assert a == b
    assert all(i % 3 != 2 for i in a)          # every *.d2.net suffix gone
    assert blocklist_filter(df, []).count() == 200


# --- per-group diversity cap ------------------------------------------

def test_cap_per_group_equals_single_window_and_is_salt_invariant(spark):
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from rio_cogeo_spark.functions.text import md5_60
    from rio_cogeo_spark.operators.sampling import cap_per_group

    # skewed groups: group 0 has 500 rows, others 5
    rows = [(i, 0 if i < 500 else 1 + i % 7) for i in range(535)]
    df = spark.createDataFrame(rows, "doc_id long, g int")
    for k in (1, 3):
        single = (
            df.withColumn("_rk", md5_60(F.col("doc_id").cast("string")))
            .withColumn(
                "rn",
                F.row_number().over(W.partitionBy("g").orderBy("_rk", "doc_id")),
            )
            .filter(F.col("rn") <= k)
        )
        want = sorted(r["doc_id"] for r in single.collect())
        for n_salts in (1, 16):
            got = sorted(
                r["doc_id"]
                for r in cap_per_group(df, ["g"], k, n_salts=n_salts).collect()
            )
            assert got == want, (k, n_salts)
        counts = {
            r["g"]: r["n"]
            for r in cap_per_group(df, ["g"], k)
            .groupBy("g").agg(F.count("*").alias("n")).collect()
        }
        assert counts[0] == k and all(v <= k for v in counts.values())


def test_cap_per_host_adds_host_and_caps(spark):
    from rio_cogeo_spark.operators.sampling import cap_per_host

    rows = [(i, f"https://h{i % 4}.net/p/{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = cap_per_host(df, k=5).collect()
    assert len(out) == 20
    assert {r["host"] for r in out} == {f"h{j}.net" for j in range(4)}


# --- streaming snapshot change history --------------------------------

@pytest.mark.parametrize("files_per_trigger", [1, 3])
def test_snapshot_stats_stream_equals_batch(spark, tmp_path, files_per_trigger):
    import datetime

    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators.dedup import snapshot_change_stats
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.snapshots import snapshot_stats_stream

    base = datetime.datetime(2026, 1, 1)
    rows = []
    # 12 urls x 4 snapshots, versions 30s apart (total event-time span
    # ~101s, inside the 150s watermark delay, so ANY arrival scrambling
    # of the files is legal out-of-orderness, never lateness); text
    # changes at versions 0 and 2 only
    for u in range(12):
        for v in range(4):
            rows.append((
                u * 10 + v,
                f"https://h{u}.net/p",
                f"content {u} v{v // 2}",
                base + datetime.timedelta(seconds=v * 30 + u),
            ))
    df = spark.createDataFrame(
        rows, "doc_id long, url string, text string, ts timestamp"
    )
    src = str(tmp_path / f"snaps_{files_per_trigger}")
    # random file assignment scrambles arrival order across micro-batches
    df.repartition(6).write.parquet(src)
    # sentinel appended as a LATER file (file source drains oldest-first):
    # pushes the watermark past every wave snapshot so the pending tails
    # flush through the event-time timeout in the no-data final batch
    spark.createDataFrame(
        [(9999, "https://zz.net/", "z",
          base + datetime.timedelta(seconds=100000))],
        df.schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    got = run_stream_to_memory(
        snapshot_stats_stream(stream, delay_sec=150),
        f"snap_stream_{files_per_trigger}", output_mode="append",
    )
    from pyspark.sql import Window as W

    final = {
        r["canon_url"]: (r["n_snapshots"], r["n_changes"],
                         r["first_ts"], r["last_ts"], r["last_change_ts"])
        for r in got.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("canon_url").orderBy(F.desc("n_snapshots"))
            ),
        ).filter("rn = 1").collect()
    }
    batch_in = df.select(
        "doc_id", "url",
        F.unix_timestamp("ts").cast("long").alias("ts_sec"), "text",
    )
    batch = {
        r["canon_url"]: (r["n_snapshots"], r["n_changes"],
                         r["first_ts"], r["last_ts"], r["last_change_ts"])
        for r in snapshot_change_stats(batch_in).collect()
    }
    assert {k: v for k, v in final.items() if k != "zz.net"} == batch
    assert all(v[0] == 4 and v[1] == 2 for v in batch.values())


def test_snapshot_stats_stream_incremental_folds(spark, tmp_path):
    # two event-time waves written as successively-appended files (the
    # file source drains oldest-first): wave B's arrival seals wave A,
    # the sentinel seals wave B — the fold must advance per wave and
    # the final stats must still equal batch
    import datetime
    import time

    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators.dedup import snapshot_change_stats
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.snapshots import snapshot_stats_stream

    base = datetime.datetime(2026, 1, 1)
    schema = "doc_id long, url string, text string, ts timestamp"

    def wave(offset_sec, ver0):
        return [
            (u * 100 + ver0 + v, f"https://w{u}.org/p",
             f"w {u} v{(ver0 + v) // 2}",
             base + datetime.timedelta(seconds=offset_sec + v * 10 + u))
            for u in range(6) for v in range(2)
        ]

    src = str(tmp_path / "snap_waves")
    a = spark.createDataFrame(wave(0, 0), schema)
    b = spark.createDataFrame(wave(10000, 2), schema)
    sent = spark.createDataFrame(
        [(9999, "https://zz.net/", "z",
          base + datetime.timedelta(seconds=50000))], schema)
    a.coalesce(2).write.parquet(src)
    time.sleep(1.1)
    b.coalesce(2).write.mode("append").parquet(src)
    time.sleep(1.1)
    sent.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(a.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = run_stream_to_memory(
        snapshot_stats_stream(stream, delay_sec=60),
        "snap_stream_waves", output_mode="append",
    )
    rows = got.filter("canon_url != 'zz.net'").collect()
    # each url must have emitted an intermediate (wave-A) stats row AND
    # a final one — the fold advanced at least twice
    per_url = {}
    for r in rows:
        per_url.setdefault(r["canon_url"], []).append(r["n_snapshots"])
    assert all(len(v) >= 2 and max(v) == 4 for v in per_url.values()), per_url
    final = {
        u: max(zip(ns, [r for r in rows if r["canon_url"] == u]),
               key=lambda x: x[0])[1]
        for u, ns in per_url.items()
    }
    batch_in = a.unionByName(b).select(
        "doc_id", "url",
        F.unix_timestamp("ts").cast("long").alias("ts_sec"), "text")
    batch = {
        r["canon_url"]: (r["n_snapshots"], r["n_changes"])
        for r in snapshot_change_stats(batch_in).collect()
    }
    got_final = {
        u: (r["n_snapshots"], r["n_changes"]) for u, r in final.items()
    }
    assert got_final == batch


# --- crawl priority ----------------------------------------------------

def test_crawl_priority_ordering_and_prior(spark):
    from rio_cogeo_spark.operators.dedup import crawl_priority

    rows = [
        # (url, n_snapshots, n_changes, first, last, last_change)
        ("hot", 10, 10, 0, 900, 900),        # changes every ~100s
        ("cold", 10, 1, 0, 900, 0),          # never changed again
        ("new", 1, 1, 500, 500, 500),        # single snapshot → prior
        ("burst", 3, 3, 0, 1, 1),            # 2 changes in 1s → capped
    ]
    df = spark.createDataFrame(
        rows,
        "canon_url string, n_snapshots long, n_changes long, "
        "first_ts long, last_ts long, last_change_ts long",
    )
    got = {r["canon_url"]: r for r in crawl_priority(df, now_ts=1000).collect()}
    assert got["cold"]["change_rate_ppb"] == 0
    assert got["cold"]["priority"] == 0
    assert got["hot"]["change_rate_ppb"] == (9 * 10**9) // 900
    assert got["burst"]["change_rate_ppb"] == 10**9        # capped
    assert got["new"]["change_rate_ppb"] == 10**9 // (30 * 86400)
    assert got["hot"]["priority"] == 100 * got["hot"]["change_rate_ppb"]
    # hot outranks everything except the capped burst at equal age
    assert got["burst"]["priority"] > got["hot"]["priority"] > got["new"]["priority"]


# --- host-level boilerplate line removal ------------------------------

def test_boilerplate_lines_host_scoped(spark):
    from rio_cogeo_spark.operators.boilerplate import boilerplate_lines

    rows = []
    for h in ("a", "b"):
        for i in range(4):
            did = (0 if h == "a" else 100) + i
            rows.append((
                did, f"https://{h}.net/p/{i}",
                f"NAV {h}\nbody {h} {i}\nFOOTER {h}",
            ))
    # host c has ONE doc — its NAV never reaches min_docs=2
    rows.append((200, "https://c.net/p", "NAV c\nbody c"))
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["doc_id"]: r for r in boilerplate_lines(df).collect()}
    assert got[0]["text"] == "body a 0"
    assert (got[0]["n_kept"], got[0]["n_total"]) == (1, 3)
    assert got[101]["text"] == "body b 1"
    # the single-doc host keeps everything
    assert got[200]["text"] == "NAV c\nbody c"
    assert got[200]["n_kept"] == 2


def test_boilerplate_lines_threshold_is_exact_integer(spark):
    from rio_cogeo_spark.operators.boilerplate import boilerplate_lines

    # PROMO in exactly 2 of 4 docs: 2*1e6 >= 500000*4 → cut at boundary;
    # RARE in 1 of 4 → kept by frequency AND min_docs
    rows = [
        (i, "https://x.org/p",
         ("PROMO\n" if i < 2 else "") + ("RARE\n" if i == 0 else "")
         + f"body {i}")
        for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    got = {r["doc_id"]: r["text"] for r in boilerplate_lines(df).collect()}
    assert got[0] == "RARE\nbody 0"
    assert got[1] == "body 1"
    assert got[3] == "body 3"


def test_phrase_topk_adjacency_and_order(spark):
    from rio_cogeo_spark.operators.search import phrase_topk

    df = spark.createDataFrame(
        [
            (1, "quick brown fox"),           # exact phrase once
            (2, "quick red brown fox"),       # terms present, not adjacent
            (3, "brown quick fox"),           # adjacent, wrong order
            (4, "quick brown fox quick brown fox"),  # twice
            (5, "quick brown"),               # prefix only
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in
           phrase_topk(df, ["quick", "brown", "fox"], k=10).collect()}
    assert set(got) == {1, 4}
    assert got[4]["tf"] == 2 and got[4]["rank"] == 1
    assert got[1]["tf"] == 1 and got[1]["rank"] == 2


def test_phrase_topk_repeated_term_and_overlap(spark):
    from rio_cogeo_spark.operators.search import phrase_topk

    # "the the the" contains TWO overlapping "the the" occurrences —
    # anchor decomposition must count both, and the shared term must
    # fill both slots via its per-term slot list
    df = spark.createDataFrame(
        [(1, "the the the"), (2, "the x the"), (3, "the the")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["tf"] for r in
           phrase_topk(df, ["the", "the"], k=10).collect()}
    assert got == {1: 2, 3: 1}


def test_phrase_topk_single_term_equals_tf(spark):
    from rio_cogeo_spark.operators.search import phrase_topk

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b b"), (3, "a")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["tf"] for r in phrase_topk(df, ["a"], k=10).collect()}
    assert got == {1: 2, 3: 1}


def test_token_rarity_scores_common_vs_rare(spark):
    from rio_cogeo_spark.operators.rarity import token_rarity

    # corpus: "the" ×6, "zyx" ×1, "q" ×1 → total 8 occurrences
    df = spark.createDataFrame(
        [(1, "the the the"), (2, "the the the"), (3, "zyx q")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in token_rarity(df).collect()}
    ppb = 1_000_000_000
    # doc 1/2: every token has corpus cnt 6 → freq_ppb = 6e9 div 8
    assert got[1]["mean_tok_freq_ppb"] == (6 * ppb) // 8
    assert got[1]["rare_frac_ppm"] == 0
    # doc 3: both tokens have cnt 1 (≤ rare_cnt) → all-rare, freq 1e9 div 8
    assert got[3]["mean_tok_freq_ppb"] == ppb // 8
    assert got[3]["rare_frac_ppm"] == 1_000_000
    assert got[3]["n_tokens"] == 2


def test_snapshot_paragraph_diff_add_remove_common(spark):
    from rio_cogeo_spark.operators.dedup import snapshot_paragraph_diff

    rows = [
        # url A: v1 {h, x, f} → v2 {h, x, ad} → v3 == v2
        (1, "https://a.com/p", 100, "h\n\nx\n\nf"),
        (2, "https://a.com/p", 200, "h\n\nx\n\nad"),
        (3, "https://a.com/p", 300, "h\n\nx\n\nad"),
        # url B: single snapshot → no diff row
        (4, "https://b.com/p", 100, "only"),
        # url C: v2 empties out entirely
        (5, "https://c.com/p", 100, "p1\n\np2"),
        (6, "https://c.com/p", 200, "\n\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts_sec long, text string")
    got = {(r["canon_url"], r["snap_idx"]): r
           for r in snapshot_paragraph_diff(df, sep="\n\n").collect()}
    a2 = got[("a.com/p", 2)]
    assert (a2["n_paras"], a2["n_added"], a2["n_removed"], a2["n_common"]) == (3, 1, 1, 2)
    a3 = got[("a.com/p", 3)]
    assert (a3["n_added"], a3["n_removed"], a3["n_common"]) == (0, 0, 3)
    assert not any(u == "b.com/p" for u, _ in got)
    c2 = got[("c.com/p", 2)]
    assert (c2["n_paras"], c2["n_added"], c2["n_removed"], c2["n_common"]) == (0, 0, 2, 0)


def test_snapshot_paragraph_diff_set_semantics_and_reappear(spark):
    from rio_cogeo_spark.operators.dedup import snapshot_paragraph_diff

    rows = [
        # repeated paragraph counts once (set semantics); a paragraph
        # absent in v2 but back in v3 is ADDED at v3, not common
        (1, "https://d.com", 100, "p\n\np\n\nq"),
        (2, "https://d.com", 200, "q"),
        (3, "https://d.com", 300, "p\n\nq"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, ts_sec long, text string")
    got = {r["snap_idx"]: r for r in snapshot_paragraph_diff(df, sep="\n\n").collect()}
    assert (got[2]["n_paras"], got[2]["n_added"], got[2]["n_removed"], got[2]["n_common"]) == (1, 0, 1, 1)
    assert (got[3]["n_paras"], got[3]["n_added"], got[3]["n_removed"], got[3]["n_common"]) == (2, 1, 0, 1)


def test_dedup_keep_best_longest_wins_and_ties_to_min_id(spark):
    from rio_cogeo_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            (1, "a b c"),          # comp {1,2,3}: doc 2 longest
            (2, "a b c d e"),
            (3, "a b"),
            (10, "x y"),           # comp {10,11}: equal length → min id
            (11, "x y"),
            (99, "lonely"),        # not in any pair → absent
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r for r in dedup_keep_best(docs, pairs).collect()}
    assert set(got) == {1, 2, 3, 10, 11}
    assert [d for d in (1, 2, 3) if got[d]["is_keeper"]] == [2]
    assert got[2]["score"] == 5 and got[2]["component"] == 1
    assert got[10]["is_keeper"] and not got[11]["is_keeper"]


def test_dedup_keep_best_custom_score(spark):
    from pyspark.sql import functions as F
    from rio_cogeo_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "long long long text", 1), (2, "short", 9)],
        "doc_id long, text string, trust long",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["is_keeper"]
           for r in dedup_keep_best(docs, pairs, score=F.col("trust")).collect()}
    assert got == {1: False, 2: True}


def test_path_pattern_filter_literal_and_case(spark):
    from rio_cogeo_spark.operators.urlfilter import path_pattern_filter

    df = spark.createDataFrame(
        [
            (1, "https://a.com/page"),
            (2, "https://a.com/Login"),
            (3, "https://a.com/p?SessionID=9"),
            (4, "https://a.com/blogin"),        # substring matches: dropped
            (5, "https://a.com/log"),           # prefix only: kept
        ],
        "doc_id long, url string",
    )
    got = {r["doc_id"] for r in
           path_pattern_filter(df, ["login", "sessionid="]).collect()}
    assert got == {1, 5}
    # case-sensitive mode keeps the mixed-case variants
    got_cs = {r["doc_id"] for r in
              path_pattern_filter(df, ["login", "sessionid="],
                                  case_insensitive=False).collect()}
    assert got_cs == {1, 2, 3, 5}
    # empty pattern list is the identity
    assert path_pattern_filter(df, []).count() == 5


def test_normalize_text_nfc_and_whitespace(spark):
    from rio_cogeo_spark.functions.text import normalize_text
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "café"),              # combining acute → é
            (2, "  a \t\n b  "),            # ws collapse + trim
            (3, "Å"),            # A + ring → Å
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n"] for r in
           df.select("doc_id", normalize_text(F.col("text")).alias("n")).collect()}
    assert got[1] == "café"
    assert got[2] == "a b"
    assert got[3] == "Å"
    assert got[4] is None


def test_bpe_merge_topk_counts_and_ties(spark):
    from rio_cogeo_spark.operators.bpe import bpe_merge_topk

    # "abab" occurs in 2 docs ×1; pairs per occurrence: ab, ba, ab
    # "ab" occurs 3 times: pair ab ×3. "x" (1 char) contributes nothing.
    df = spark.createDataFrame(
        [(1, "abab ab x"), (2, "abab ab ab")],
        "doc_id long, text string",
    )
    got = {r["pair"]: (r["n"], r["rank"]) for r in
           bpe_merge_topk(df, k=10).collect()}
    assert got["ab"] == (2 * 2 + 3 * 1, 1)   # 2 per "abab" ×2, 1 per "ab" ×3
    assert got["ba"] == (2, 2)
    assert set(got) == {"ab", "ba"}


def test_bpe_merge_topk_weighted_by_word_frequency(spark):
    from rio_cogeo_spark.operators.bpe import bpe_merge_topk

    # same word repeated must multiply its pair counts (BPE counts
    # occurrences, not vocabulary membership)
    df = spark.createDataFrame(
        [(1, "zz zz zz qy")], "doc_id long, text string"
    )
    got = {r["pair"]: r["n"] for r in bpe_merge_topk(df, k=10).collect()}
    assert got == {"zz": 3, "qy": 1}


def test_semantic_dedup_cluster_local_tradeoff(spark):
    import numpy as np
    from rio_cogeo_spark.operators.similarity import semantic_dedup_pairs

    # axis-aligned quantizer; (3,4) straddle the boundary with cosine
    # ~0.998 but land in DIFFERENT clusters → missed BY DESIGN, while
    # the in-cluster exact copy (1,2) must pair at 1.0
    cent = np.array([[1.0, 0.0], [0.0, 1.0]])
    df = spark.createDataFrame(
        [
            (1, [0.9, 0.1]),
            (2, [0.9, 0.1]),          # exact copy of 1, cluster 0
            (3, [0.72, 0.69]),        # cluster 0 (x wins)
            (4, [0.69, 0.72]),        # cluster 1
        ],
        "vec_id long, embedding array<float>",
    )
    got = {(r["vec_a"], r["vec_b"]): r["cosine"]
           for r in semantic_dedup_pairs(df, cent, threshold=0.9).collect()}
    assert got[(1, 2)] == 1.0
    assert (3, 4) not in got
    # and (1,3)/(2,3) are same-cluster but below threshold: absent
    assert (1, 3) not in got


def test_semantic_dedup_matches_allpairs_within_cluster(spark):
    import numpy as np
    from rio_cogeo_spark.operators.dedup import embedding_neardup_pairs
    from rio_cogeo_spark.operators.similarity import (
        ivf_assign_lists, semantic_dedup_pairs,
    )

    rng = np.random.RandomState(7)
    rows = [(i, (rng.randn(8)).tolist()) for i in range(60)]
    # copies guarantee same-cluster qualifying pairs exist
    rows += [(100 + i, rows[i][1]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = rng.randn(4, 8)
    sem = {(r["vec_a"], r["vec_b"]) for r in
           semantic_dedup_pairs(df, cent, threshold=0.5).collect()}
    # oracle: all-pairs ∩ same-assigned-cluster
    asg = {r["vec_id"]: r["ivf_list"] for r in
           ivf_assign_lists(df, cent).collect()}
    allp = {(r["vec_a"], r["vec_b"]) for r in
            embedding_neardup_pairs(df, threshold=0.5).collect()}
    expect = {p for p in allp if asg[p[0]] == asg[p[1]]}
    assert sem == expect and len(sem) >= 10


def test_mirror_docs_cross_host_only(spark):
    from rio_cogeo_spark.operators.dedup import mirror_docs

    df = spark.createDataFrame(
        [
            (1, "https://a.com/x", "same content here"),
            (2, "https://b.com/y", "same content here"),   # cross-host mirror
            (3, "https://a.com/z", "same content here"),   # extra copy, host a
            (4, "https://a.com/w", "unique page a"),
            # same-host duplicate only → NOT a mirror
            (5, "https://c.com/1", "dup on one host"),
            (6, "https://c.com/2", "dup on one host"),
        ],
        "doc_id long, url string, text string",
    )
    got = {r["doc_id"]: r for r in mirror_docs(df).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["n_hosts"] == 2 and got[1]["n_copies"] == 3
    assert got[2]["host"] == "b.com"


def test_mirror_docs_whitespace_insensitive_fp(spark):
    from rio_cogeo_spark.operators.dedup import mirror_docs

    # fingerprint is the whitespace-normalized lowercase md5, so a
    # re-hosted copy with different spacing/casing still counts
    df = spark.createDataFrame(
        [
            (1, "https://a.com/x", "Hello   World"),
            (2, "https://b.com/y", "hello world"),
        ],
        "doc_id long, url string, text string",
    )
    assert mirror_docs(df).count() == 2


@pytest.mark.parametrize("files_per_trigger", [1, 3])
def test_mirror_stream_equals_batch(spark, tmp_path, files_per_trigger):
    from rio_cogeo_spark.operators.dedup import mirror_docs
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.mirrors import mirror_stream

    rows = []
    # 20 contents; content i mirrored on (i % 4) + 1 hosts, one extra
    # same-host copy for i % 3 == 0 (must count in n_copies, not n_hosts)
    did = 0
    for i in range(20):
        for h in range((i % 4) + 1):
            rows.append((did, f"https://h{h}.example/p{i}", f"content {i}"))
            did += 1
        if i % 3 == 0:
            rows.append((did, f"https://h0.example/dup{i}", f"content {i}"))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    src = str(tmp_path / f"mirrors_{files_per_trigger}")
    df.repartition(6).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    got = run_stream_to_memory(
        mirror_stream(stream), f"mirror_stream_{files_per_trigger}",
        output_mode="complete",
    )
    streamed = {r["fp"]: (r["n_hosts"], r["n_copies"]) for r in got.collect()}
    batch = {
        r["fp"]: (r["n_hosts"], r["n_copies"])
        for r in mirror_docs(df)
        .select("fp", "n_hosts", "n_copies").distinct().collect()
    }
    assert streamed == batch
    # contents with i % 4 == 0 are single-host → absent even with the
    # extra same-host copy
    assert len(batch) == 15


def test_containment_directed_excerpt(spark):
    from rio_cogeo_spark.operators.dedup import containment_pairs

    long = "w%d " * 40
    long_text = " ".join(f"w{i}" for i in range(40))
    excerpt = " ".join(f"w{i}" for i in range(10))       # prefix excerpt
    other = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, long_text), (2, excerpt), (3, other)],
        "doc_id long, text string",
    )
    got = {(r["doc_src"], r["doc_dst"]): r["containment"]
           for r in containment_pairs(df, threshold=0.8, df_cap=None).collect()}
    # excerpt fully inside long: directed 2→1 at 1.0; reverse is 8/38
    assert got == {(2, 1): 1.0}


def test_containment_exact_dup_is_bidirectional(spark):
    from rio_cogeo_spark.operators.dedup import containment_pairs

    t = " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id long, text string")
    got = {(r["doc_src"], r["doc_dst"]) for r in
           containment_pairs(df, threshold=0.99, df_cap=None).collect()}
    assert got == {(1, 2), (2, 1)}


def test_lang_mix_majority_and_ties(spark):
    from rio_cogeo_spark.operators.rarity import lang_mix

    df = spark.createDataFrame(
        [
            # 2 en paras, 1 de → majority en at 666666 ppm
            (1, "the cat and dog\n\nthe end of it\n\nder die und"),
            # 1 en, 1 de → tie breaks to 'de' (lexicographically smaller)
            (2, "the and of\n\nder die und"),
            # all blank → absent
            (3, "\n\n"),
            # no markers anywhere → single 'und' paragraph language
            (4, "zzz qqq"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in lang_mix(df).collect()}
    assert got[1]["major_lang"] == "en"
    assert got[1]["major_frac_ppm"] == (2 * 1_000_000) // 3
    assert got[1]["n_langs"] == 2 and got[1]["n_paras"] == 3
    assert got[2]["major_lang"] == "de"
    assert got[2]["major_frac_ppm"] == 500_000
    assert 3 not in got
    assert got[4]["major_lang"] == "und" and got[4]["major_frac_ppm"] == 1_000_000


def test_trending_terms_windows_and_ties(spark):
    from rio_cogeo_spark.operators.search import trending_terms

    df = spark.createDataFrame(
        [
            (1, 10, "x x y"),
            (2, 50, "y z"),        # same 100s window as doc 1
            (3, 150, "a a b b"),   # next window: a/b tie → term asc
        ],
        "doc_id long, ts_sec long, text string",
    )
    got = {(r["window_start"], r["rank"]): (r["term"], r["n"]) for r in
           trending_terms(df, window_sec=100, k=2).collect()}
    assert got[(0, 1)] == ("x", 2)      # x:2 / y:2 tie → term ascending
    assert got[(0, 2)] == ("y", 2)
    assert got[(100, 1)] == ("a", 2)
    assert got[(100, 2)] == ("b", 2)


def test_split_leakage_safe_clusters_never_straddle(spark):
    from rio_cogeo_spark.operators.sampling import (
        split_assign, split_assign_leakage_safe,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    # clusters: {0..4}, {10,11}, rest singletons
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    w = [("train", 0.5), ("val", 0.25), ("test", 0.25)]
    got = {r["doc_id"]: r["split"] for r in
           split_assign_leakage_safe(docs, pairs, weights=w).collect()}
    assert len(got) == 200
    assert len({got[i] for i in range(5)}) == 1       # whole cluster together
    assert got[10] == got[11]
    # unpaired docs match the plain per-id split exactly
    plain = {r["doc_id"]: r["split"] for r in
             split_assign(docs, weights=w).collect()}
    clustered = {0, 1, 2, 3, 4, 10, 11}
    assert all(got[i] == plain[i] for i in range(200) if i not in clustered)


def test_filter_by_group_quantile_exact_and_approx(spark):
    from rio_cogeo_spark.operators.sampling import filter_by_group_quantile

    rows = [(i, "a", i) for i in range(1, 9)] + [(100 + i, "b", 10 * i) for i in range(1, 5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    # group a: values 1..8, p50 = 4.5 → keep 5..8; group b: 10..40, p50=25 → keep 30,40
    got = {r["doc_id"] for r in
           filter_by_group_quantile(df, q=0.5).collect()}
    assert got == {5, 6, 7, 8, 103, 104}
    # approx path keeps a superset/subset near the cut but must keep the
    # extremes and drop the minima
    ap = {r["doc_id"] for r in
          filter_by_group_quantile(df, q=0.5, exact=False).collect()}
    assert {8, 104} <= ap and 1 not in ap and 101 not in ap


@pytest.mark.parametrize("files_per_trigger", [1, 3])
def test_trending_stream_counts_equal_batch(spark, tmp_path, files_per_trigger):
    from rio_cogeo_spark.operators.search import trending_terms
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.trending import trending_counts_stream

    rows = [
        (i, 100 * (i % 5) + (i % 7), f"w{i % 3} shared w{i % 4}")
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts_sec long, text string")
    src = str(tmp_path / f"trend_{files_per_trigger}")
    df.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    got = run_stream_to_memory(
        trending_counts_stream(stream, window_sec=100, watermark_sec=10),
        f"trend_stream_{files_per_trigger}", output_mode="complete",
    )
    streamed = {(r["window_start"], r["term"]): r["n"] for r in got.collect()}
    # batch twin: the count table under the SAME integer bucketing —
    # take the full count table (k large enough to keep everything)
    batch = {(r["window_start"], r["term"]): r["n"] for r in
             trending_terms(df, window_sec=100, k=10**6).collect()}
    assert streamed == batch


# ---------------------------------------------------------------------------
# host link-graph: degrees + fixed-point PageRank (operators/graph.py)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def test_host_degrees_full_outer(spark):
    from rio_cogeo_spark.operators.graph import host_degrees

    deg = host_degrees(_edges(spark, [(1, 2), (1, 3), (2, 3)]))
    got = {r.host: (r.out_deg, r.in_deg) for r in deg.collect()}
    # 3 is a dangling host (in-links only), 1 is a source-only host
    assert got == {1: (2, 0), 2: (1, 1), 3: (0, 2)}


def test_pagerank_cycle_is_uniform(spark):
    from rio_cogeo_spark.operators.graph import SCALE, host_pagerank

    # a 3-cycle: every host keeps exactly the base+damped-full share,
    # which at outdeg=1 is the fixed point SCALE at every iteration
    pr = host_pagerank(
        _edges(spark, [(1, 2), (2, 3), (3, 1)]), iterations=4
    )
    ranks = {r.host: r.rank_ppb for r in pr.collect()}
    assert set(ranks.values()) == {SCALE}


def test_pagerank_hub_outranks_leaf_and_dangling_keeps_base(spark):
    from rio_cogeo_spark.operators.graph import SCALE, host_pagerank

    # 1→3, 2→3, 3→(nothing): 3 is a dangling sink that everyone cites
    pr = host_pagerank(_edges(spark, [(1, 3), (2, 3)]), iterations=2)
    ranks = {r.host: r.rank_ppb for r in pr.collect()}
    base = 15 * SCALE // 100
    assert ranks[1] == base and ranks[2] == base  # no in-links
    assert ranks[3] > ranks[1]  # cited by both
    # exact fixed-point value: base + 85% of two base-rank contributions
    assert ranks[3] == base + (85 * 2 * base) // 100


def test_pagerank_matches_duckdb_unroll(spark):
    import duckdb

    from rio_cogeo_spark.operators.graph import host_pagerank, host_pagerank_sql

    edges = [(i % 11, (i * 7 + 3) % 11) for i in range(40) if i % 11 != (i * 7 + 3) % 11]
    edges = sorted(set(edges))
    got = {
        r.host: r.rank_ppb
        for r in host_pagerank(_edges(spark, edges), iterations=3).collect()
    }
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = host_pagerank_sql(
        f"SELECT src, dst FROM (VALUES {vals}) AS v(src, dst)"
    )
    want = {int(h): int(r) for h, r in duckdb.sql(sql).fetchall()}
    assert got == want


def test_pagerank_validates_args(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.graph import host_pagerank

    e = _edges(spark, [(1, 2)])
    with _pytest.raises(ValueError):
        host_pagerank(e, iterations=0)
    with _pytest.raises(ValueError):
        host_pagerank(e, damping_pct=101)


# ---------------------------------------------------------------------------
# per-doc tf-idf keyword extraction (operators/search.py)


def test_tfidf_keywords_prefers_distinctive_terms(spark):
    from rio_cogeo_spark.operators.search import tfidf_keywords

    docs = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common yak yak"),
            (3, "common emu"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_keywords(docs, k=1).collect()
    top = {r.doc_id: r.term for r in out}
    # 'common' has df=3 (idf floor 1e6); the doc-unique terms df=1 win
    assert top == {1: "zebra", 2: "yak", 3: "emu"}
    ranks = {r.doc_id: r.rank for r in out}
    assert set(ranks.values()) == {1}


def test_tfidf_keywords_tie_breaks_on_term(spark):
    from rio_cogeo_spark.operators.search import tfidf_keywords

    docs = spark.createDataFrame(
        [(1, "beta alpha"), (2, "filler")], "doc_id long, text string"
    )
    out = tfidf_keywords(docs, k=2).filter("doc_id = 1").collect()
    assert [r.term for r in sorted(out, key=lambda r: r.rank)] == [
        "alpha", "beta",
    ]


# ---------------------------------------------------------------------------
# URL canonicalization (operators/urlfilter.py)


def test_canonical_url_collapses_variants(spark):
    from rio_cogeo_spark.operators.urlfilter import canonical_url

    base = "https://site7.example/page/42"
    variants = [
        base,
        base + "#frag",
        base + "?utm_source=feed",
        base + "?utm_source=feed&fbclid=zz",
        "https://www.site7.example/page/42",
        "HTTPS://SITE7.EXAMPLE/page/42",
        "https://site7.example:443/page/42",
        base + "/",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "url string")
    got = {r.c for r in df.select(canonical_url("url").alias("c")).collect()}
    assert got == {base}


def test_canonical_url_keeps_real_params_and_path_case(spark):
    from rio_cogeo_spark.operators.urlfilter import canonical_url

    cases = {
        # tracking param FIRST: the surviving real param regains the '?'
        "https://h.example/p?utm_campaign=x&q=1": "https://h.example/p?q=1",
        # tracking param in the middle
        "https://h.example/p?a=1&utm_medium=rss&b=2":
            "https://h.example/p?a=1&b=2",
        # path case is preserved (RFC 3986: only scheme/host fold)
        "https://H.example/Page/One": "https://h.example/Page/One",
        # a value merely CONTAINING 'utm_' is not a tracking param
        "https://h.example/p?q=xutm_a": "https://h.example/p?q=xutm_a",
        # non-default port survives
        "https://h.example:8443/p": "https://h.example:8443/p",
    }
    df = spark.createDataFrame(
        [(u,) for u in cases], "url string"
    ).select("url", canonical_url("url").alias("c"))
    for r in df.collect():
        assert r.c == cases[r.url], (r.url, r.c)


def test_canonical_url_matches_duckdb_twin(spark):
    import duckdb

    from rio_cogeo_spark.operators.urlfilter import (
        canonical_url, canonical_url_sql,
    )

    urls = [
        "https://site1.example/page/1?utm_source=a&q=2#f",
        "HTTP://WWW.SITE2.EXAMPLE:80/Page/2/",
        "https://h.example/p?a=1&utm_campaign=x&b=2&gclid=g",
        "https://h.example/p?utm_medium=rss",
        "ftp://Mixed.Case.Host/File.TXT",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = sorted(
        r.c for r in df.select(canonical_url("url").alias("c")).collect()
    )
    vals = ", ".join("('" + u + "')" for u in urls)
    want = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT {canonical_url_sql()} FROM (VALUES {vals}) t(url)"
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------------------
# readability (functions/text.py)


def test_readability_counts_and_score(spark):
    from rio_cogeo_spark.functions.text import readability_stats

    df = spark.createDataFrame(
        [(1, "The cat sat. The cat ran! Did it?"), (2, ""), (3, "xyz")],
        "doc_id long, text string",
    )
    rs = readability_stats()
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            rs["n_words"].alias("n_words"),
            rs["n_sentences"].alias("n_sentences"),
            rs["n_syllables"].alias("n_syllables"),
            rs["flesch_milli"].alias("flesch_milli"),
        ).collect()
    }
    r1 = out[1]
    assert r1.n_words == 8 and r1.n_sentences == 3
    # vowel groups: e,a,a,e,a,a,i,i (y in 'Did'? no — d-i-d one group; 8)
    assert r1.n_syllables == 8
    assert r1.flesch_milli == 206835 - (1015 * 8) // 3 - (84600 * 8) // 8
    # empty text: split(trim('')) -> [''] = 1 word, 0 sentences, 0 syll
    assert out[2].n_sentences == 0 and out[2].n_syllables == 0
    # no sentence-enders and no vowels: guards keep the score defined
    assert out[3].flesch_milli is not None


def test_readability_matches_duckdb_twin(spark):
    import duckdb

    from rio_cogeo_spark.functions.text import (
        READABILITY_SQL, readability_stats,
    )

    texts = [
        "Simple words read well. Short too!",
        "Antidisestablishmentarianism notwithstanding, polysyllabic "
        "verbiage diminishes readability considerably.",
        "no enders here",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rs = readability_stats()
    got = sorted(
        tuple(r)
        for r in df.select(
            "doc_id", *(rs[k].alias(k) for k in READABILITY_SQL)
        ).collect()
    )
    vals = ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
    cols = ",\n".join(f"{sql} AS {k}" for k, sql in READABILITY_SQL.items())
    want = sorted(
        tuple(r)
        for r in duckdb.sql(
            f"SELECT doc_id, {cols} FROM (VALUES {vals}) t(doc_id, text)"
        ).fetchall()
    )
    assert got == want


def test_bigram_lm_conditional_scores(spark):
    from rio_cogeo_spark.operators.rarity import bigram_lm

    # bigram counts: "a b"×3, "b a"×1, "b c"×1; prefixes: a·=3, b·=2
    # → pred_ppm: "a b"=1_000_000, "b a"="b c"=500_000
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in bigram_lm(df).collect()}
    assert 3 not in got  # <2 tokens → no bigram → absent
    assert got[1]["n_bigrams"] == 3
    assert got[1]["mean_pred_ppm"] == (2 * 1_000_000 + 500_000) // 3
    assert got[1]["novel_frac_ppm"] == 1_000_000 // 3
    assert got[2]["n_bigrams"] == 2
    assert got[2]["mean_pred_ppm"] == 750_000
    assert got[2]["novel_frac_ppm"] == 500_000


@pytest.mark.parametrize("fn, switch, args", [
    (rarity.token_rarity, "broadcast_vocab", ()),
    (rarity.bigram_lm, "broadcast_model", ()),
    (sampling.importance_weights, "broadcast_model", ("lang = 'en'",)),
], ids=["token_rarity", "bigram_lm", "importance_weights"])
def test_broadcast_off_identical(spark, fn, switch, args):
    # the shuffle-join plan a caller picks for a model too large to
    # broadcast gives the broadcast plan's rows. The input is built from
    # pandas (an Arrow local relation), so no action re-runs a Python
    # worker to scan it.
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            [(i, f"w{i % 3} common common w{i % 5}", ("en", "de")[i % 2])
             for i in range(12)],
            columns=["doc_id", "text", "lang"],
        ),
        "doc_id long, text string, lang string",
    )
    a = sorted(map(tuple, fn(df, *args, **{switch: True}).collect()))
    b = sorted(map(tuple, fn(df, *args, **{switch: False}).collect()))
    assert a and a == b


def test_lexical_diversity_ttr_and_hapax(spark):
    from rio_cogeo_spark.operators.rarity import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "x y z")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in lexical_diversity(df).collect()}
    assert (got[1]["n_tokens"], got[1]["n_types"]) == (3, 2)
    assert got[1]["ttr_ppm"] == (2 * 1_000_000) // 3
    assert got[1]["hapax_frac_ppm"] == 500_000  # only "b" is doc-hapax
    assert (got[2]["ttr_ppm"], got[2]["hapax_frac_ppm"]) == (
        1_000_000, 1_000_000,
    )


def test_vocab_stats_per_lang(spark):
    from rio_cogeo_spark.operators.rarity import vocab_stats

    df = spark.createDataFrame(
        [("en", "a a b"), ("en", "b c"), ("fr", "d d")],
        "lang string, text string",
    )
    got = {r["lang"]: r for r in vocab_stats(df).collect()}
    en = got["en"]  # a×2 b×2 c×1
    assert (en["n_tokens"], en["n_types"], en["hapax_types"]) == (5, 3, 1)
    assert en["ttr_ppm"] == (3 * 1_000_000) // 5
    assert en["hapax_frac_ppm"] == 1_000_000 // 3
    fr = got["fr"]
    assert (fr["n_tokens"], fr["n_types"], fr["hapax_types"]) == (2, 1, 0)
    assert (fr["ttr_ppm"], fr["hapax_frac_ppm"]) == (500_000, 0)


def test_collocations_lift_hand_computed(spark):
    from rio_cogeo_spark.operators.rarity import collocations

    # overlapping bigrams: "a b a b a b" -> ab,ba,ab,ba,ab; "b a b a" ->
    # ba,ab,ba; "b c" -> bc.  So "a b"x4, "b a"x4, "b c"x1, total=9;
    # marginals c1(a)=4 c1(b)=5, c2(b)=4 c2(a)=4 c2(c)=1.
    # lift("a b") = ((4e6 div 4) * 9) div 4 = 2_250_000
    # lift("b a") = ((4e6 div 5) * 9) div 4 = 1_800_000
    df = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "b a b a"), (3, "b c")],
        "doc_id long, text string",
    )
    rows = collocations(df, min_cnt=2, topk=10).collect()
    assert [(r["bigram"], r["cnt2"], r["lift_ppm"]) for r in rows] == [
        ("a b", 4, 2_250_000),
        ("b a", 4, 1_800_000),
    ]


def test_collocations_min_cnt_and_topk(spark):
    from rio_cogeo_spark.operators.rarity import collocations

    df = spark.createDataFrame(
        [(1, "x y x y"), (2, "p q")], "doc_id long, text string"
    )
    # "p q" occurs once -> dropped by min_cnt=2
    rows = collocations(df, min_cnt=2, topk=1).collect()
    assert len(rows) == 1 and rows[0]["bigram"] == "x y"


def test_ccnet_buckets_deterministic_tertiles(spark):
    from rio_cogeo_spark.operators.rarity import ccnet_buckets

    # 6 docs in one lang; doc text repetitiveness controls the LM score.
    rows = [
        (i, "en", ("hot pair " * (6 - i) + f"u{i} v{i}").strip())
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r for r in ccnet_buckets(df).collect()}
    assert len(got) == 6
    buckets = [got[i]["bucket"] for i in sorted(got)]
    assert sorted(buckets) == [1, 1, 2, 2, 3, 3]
    # score must be non-increasing along bucket order
    by_bucket = sorted(got.values(), key=lambda r: (r["bucket"], -r["mean_pred_ppm"]))
    scores = [r["mean_pred_ppm"] for r in by_bucket]
    assert scores == sorted(scores, reverse=True)
    names = {r["bucket"]: r["bucket_name"] for r in got.values()}
    assert names == {1: "head", 2: "middle", 3: "tail"}


def test_ccnet_buckets_partitioned_by_lang(spark):
    from rio_cogeo_spark.operators.rarity import ccnet_buckets

    df = spark.createDataFrame(
        [(1, "en", "a b c d"), (2, "en", "a b a b"), (3, "fr", "x y z w"),
         (4, "fr", "x y x y"), (5, "en", "c d c d"), (6, "fr", "z w z w")],
        "doc_id long, lang string, text string",
    )
    got = ccnet_buckets(df).collect()
    # each lang gets its own full 1..3 tiling
    for lang in ("en", "fr"):
        assert sorted(r["bucket"] for r in got if r["lang"] == lang) == [1, 2, 3]


def test_pair_verify_identical_and_disjoint(spark):
    from rio_cogeo_spark.operators.dedup import pair_verify

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"),
         (3, "zzz yyy xxx www")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "doc_a long, doc_b long"
    )
    got = {(r["doc_a"], r["doc_b"]): r for r in
           pair_verify(docs, pairs).collect()}
    assert got[(1, 2)]["edit_dist"] == 0
    assert got[(1, 2)]["sim_ppm"] == 1_000_000
    assert got[(1, 3)]["edit_dist"] > 0
    assert got[(1, 3)]["sim_ppm"] < 1_000_000


def test_pair_verify_prefix_truncation(spark):
    from rio_cogeo_spark.operators.dedup import pair_verify

    # identical prefixes, divergent tails -> dist 0 under prefix_len=5
    docs = spark.createDataFrame(
        [(1, "abcdeXXXXX"), (2, "abcdeYYYYY")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    r = pair_verify(docs, pairs, prefix_len=5).collect()[0]
    assert (r["edit_dist"], r["sim_ppm"]) == (0, 1_000_000)


def test_pair_verify_hand_computed_ratio(spark):
    from rio_cogeo_spark.operators.dedup import pair_verify

    # "kitten" -> "sitting": classic distance 3; maxlen 7
    docs = spark.createDataFrame(
        [(1, "kitten"), (2, "sitting")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    r = pair_verify(docs, pairs).collect()[0]
    assert r["edit_dist"] == 3
    assert r["sim_ppm"] == ((7 - 3) * 1_000_000) // 7


def test_importance_weights_target_pages_score_higher(spark):
    from rio_cogeo_spark.operators.sampling import importance_weights

    # target docs share the bigram "t t"; raw-only docs use "r r"
    rows = [(i, "en", "t t t t") for i in range(4)] + [
        (i + 10, "fr", "r r r r") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"]: r["dsir_ppm"] for r in
           importance_weights(df, "lang = 'en'").collect()}
    assert len(got) == 8
    en_scores = {got[i] for i in range(4)}
    fr_scores = {got[i + 10] for i in range(4)}
    assert len(en_scores) == 1 and len(fr_scores) == 1
    assert en_scores.pop() > 1_000_000 > fr_scores.pop()


def test_importance_weights_smoothing_no_div_zero(spark):
    from rio_cogeo_spark.operators.sampling import importance_weights

    # empty target set: every weight is the same smoothed constant -> all
    # docs score identically, nothing errors
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    got = [r["dsir_ppm"] for r in
           importance_weights(df, "1 = 0").collect()]
    assert len(got) == 2 and len(set(got)) == 1


def test_pool_embeddings_hand_computed(spark):
    from rio_cogeo_spark.operators.similarity import pool_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 7), (2, [3.0, 6.0], 7), (3, [10.0, 20.0], 8)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r["label"], r["dim"]): (r["n_vecs"], r["mean_val"])
           for r in pool_embeddings(df).collect()}
    assert got[(7, 1)] == (2, 2.0)
    assert got[(7, 2)] == (2, 4.0)
    assert got[(8, 1)] == (1, 10.0)
    assert got[(8, 2)] == (1, 20.0)


def test_pool_embeddings_fold_order_invariant_to_partitioning(spark):
    from rio_cogeo_spark.operators.similarity import pool_embeddings

    import random
    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)], i % 3)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    a = sorted(map(tuple, pool_embeddings(df).collect()))
    b = sorted(map(tuple, pool_embeddings(df.repartition(13)).collect()))
    assert a == b  # bit-identical, not approximately equal


def test_corpus_info_hand_computed(spark):
    from rio_cogeo_spark.operators.report import corpus_info

    df = spark.createDataFrame(
        [(1, "a b", "en"), (2, "a b", "en"), (3, "c", "fr")],
        "doc_id long, text string, lang string",
    )
    r = corpus_info(df).collect()[0]
    assert (r["n_docs"], r["n_langs"]) == (3, 2)
    assert (r["n_tokens"], r["n_types"]) == (5, 3)
    assert r["sum_chars"] == 3 + 3 + 1
    assert r["avg_chars"] == 7 // 3
    assert r["dup_docs"] == 2  # the two "a b" docs
    assert r["dup_frac_ppm"] == (2 * 1_000_000) // 3


def test_group_median_even_and_odd(spark):
    from rio_cogeo_spark.operators.report import group_median

    df = spark.createDataFrame(
        [("en", 1), ("en", 5), ("en", 9),          # odd: median 5
         ("fr", 2), ("fr", 4), ("fr", 6), ("fr", 8)],  # even: lower median 4
        "lang string, n_chars long",
    )
    got = {r["lang"]: (r["n"], r["median"])
           for r in group_median(df).collect()}
    assert got == {"en": (3, 5), "fr": (4, 4)}


def test_group_median_with_ties(spark):
    from rio_cogeo_spark.operators.report import group_median

    df = spark.createDataFrame(
        [("en", 3)] * 5 + [("en", 7)] * 2, "lang string, n_chars long"
    )
    got = group_median(df).collect()[0]
    assert (got["n"], got["median"]) == (7, 3)


def test_host_distance_bfs_levels(spark):
    from rio_cogeo_spark.operators.graph import host_distance

    # chain 0->1->2->3->4->5 plus a shortcut 0->3
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (0, 3)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "host long")
    got = {r["host"]: r["hops"]
           for r in host_distance(edges, seeds, max_hops=3).collect()}
    # shortcut wins: 3 is 1 hop, 4 is 2, 5 is 3; plain chain gives 1,2
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 2, 5: 3}


def test_host_distance_horizon_and_unreachable(spark):
    from rio_cogeo_spark.operators.graph import host_distance

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (8, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "host long")
    got = {r["host"]: r["hops"]
           for r in host_distance(edges, seeds, max_hops=1).collect()}
    assert got == {0: 0, 1: 1}  # 2 beyond horizon, 8/9 unreachable


def test_reciprocal_links_hand_computed(spark):
    from rio_cogeo_spark.operators.graph import reciprocal_links

    # 1<->2 reciprocal; 1->3 one-way; 3->3 self-loop dropped
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 3)], "src long, dst long"
    )
    got = {r["host"]: (r["out_edges"], r["recip_edges"], r["recip_ppm"])
           for r in reciprocal_links(edges).collect()}
    assert got[1] == (2, 1, 500_000)
    assert got[2] == (1, 1, 1_000_000)
    assert 3 not in got  # only out-link was a self-loop


def test_reciprocal_links_dedupes_parallel_edges(spark):
    from rio_cogeo_spark.operators.graph import reciprocal_links

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1)], "src long, dst long"
    )
    got = {r["host"]: (r["out_edges"], r["recip_edges"])
           for r in reciprocal_links(edges).collect()}
    assert got[1] == (1, 1)


def test_training_shards_roundtrip_and_manifest(spark, tmp_path):
    from rio_cogeo_spark.sources.shards import (
        read_training_shards, verify_training_shards, write_training_shards,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}", 10 + i) for i in range(100)],
        "doc_id long, text string, n_tokens long",
    )
    root = str(tmp_path / "shards")
    man = write_training_shards(df, root, n_shards=8)
    assert man["rows"] == 100
    assert man["tokens"] == sum(10 + i for i in range(100))
    assert len(man["shards"]) == 8
    back = read_training_shards(spark, root)
    assert back.count() == 100
    assert set(back.columns) >= {"doc_id", "text", "n_tokens", "shard"}
    assert verify_training_shards(spark, root) == []


def test_training_shards_membership_stable_under_partitioning(spark, tmp_path):
    from rio_cogeo_spark.sources.shards import write_training_shards

    df = spark.createDataFrame(
        [(i, i) for i in range(60)], "doc_id long, n_tokens long"
    )
    r1, r2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df, r1, n_shards=4)
    write_training_shards(df.repartition(17), r2, n_shards=4)
    a = sorted(map(tuple, spark.read.parquet(r1).select("doc_id", "shard").collect()))
    b = sorted(map(tuple, spark.read.parquet(r2).select("doc_id", "shard").collect()))
    assert a == b


def test_training_shards_manifest_is_commit_marker(spark, tmp_path):
    import os

    from rio_cogeo_spark.sources.shards import (
        read_training_shards, verify_training_shards, write_training_shards,
    )

    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    root = str(tmp_path / "c")
    write_training_shards(df, root, n_shards=2)
    os.remove(os.path.join(root, "_manifest.json"))
    try:
        read_training_shards(spark, root)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass
    assert verify_training_shards(spark, root) == ["missing _manifest.json"]


def test_blockword_stats_token_exact_and_case(spark):
    import pyspark.sql.functions as SF

    from rio_cogeo_spark.functions.text import blockword_stats

    df = spark.createDataFrame(
        [(1, "Ass assess ASS klass")], "doc_id long, text string"
    )
    bs = blockword_stats(SF.col("text"), ["ass"])
    r = df.select(
        bs["block_hits"].alias("h"), bs["block_ppm"].alias("p")
    ).collect()[0]
    # "assess"/"klass" must NOT match (token-exact); case folds
    assert (r["h"], r["p"]) == (2, 500_000)

    cs = blockword_stats(SF.col("text"), ["ass"], case_insensitive=False)
    r2 = df.select(cs["block_hits"].alias("h")).collect()[0]
    assert r2["h"] == 0  # only lowercase "ass" would match; none present


def test_blockword_stats_empty_text_no_div_zero(spark):
    import pyspark.sql.functions as SF

    from rio_cogeo_spark.functions.text import blockword_stats

    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    bs = blockword_stats(SF.col("text"), ["x"])
    r = df.select(bs["block_ppm"].alias("p")).collect()[0]
    assert r["p"] == 0


def test_novelty_by_day_stale_accounting(spark):
    from rio_cogeo_spark.operators.dedup import novelty_by_day

    day = 86_400
    rows = [
        (0 * day + 10, "aaa"), (0 * day + 20, "bbb"),  # day 0: all novel
        (0 * day + 30, "aaa"),          # same-day dup: still novel
        (2 * day + 5, "aaa"),           # day 2: stale (seen day 0)
        (2 * day + 6, "ccc"),           # day 2: novel
    ]
    df = spark.createDataFrame(rows, "ts_sec long, text string")
    got = {r["day"]: (r["n_docs"], r["stale_docs"], r["stale_ppm"])
           for r in novelty_by_day(df).collect()}
    assert got[0] == (3, 0, 0)
    assert got[2] == (2, 1, 500_000)


def test_gopher_gate_rules(spark):
    import pyspark.sql.functions as SF

    from rio_cogeo_spark.functions.text import gopher_gate

    good = " ".join(
        ["the quick brown fox jumped over a lazy dog and ran off with"]
        + [f"word{i} thing{i} other{i} item{i}" for i in range(15)]
    )
    rows = [
        (1, good),                 # passes every rule
        (2, "#### " * 60),         # symbol + alpha + stopword + dup fails
        (3, "x " * 60),            # 1-char words: meanlen fails
        (4, "word " * 10),         # too short: token-count bit
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gg = gopher_gate(SF.col("text"))
    got = {r["doc_id"]: r["gopher_mask"] for r in
           df.select("doc_id", gg["gopher_mask"].alias("gopher_mask"))
           .collect()}
    assert got[1] == 0
    assert got[2] & (1 << 2) and got[2] & (1 << 3)  # symbol + alpha bits
    assert got[3] & (1 << 1)                        # meanlen bit
    assert got[4] & (1 << 0)                        # token-count bit


def test_group_quantiles_hand_computed(spark):
    from rio_cogeo_spark.operators.report import group_quantiles

    # en: values 1..8 -> ceil(8/4)=2nd=2, ceil(8/2)=4th=4, ceil(24/4)=6th=6
    df = spark.createDataFrame(
        [("en", v) for v in range(1, 9)], "lang string, n_chars long"
    )
    r = group_quantiles(df).collect()[0]
    assert (r["n"], r["p25"], r["p50"], r["p75"]) == (8, 2, 4, 6)


def test_group_quantiles_median_consistent(spark):
    from rio_cogeo_spark.operators.report import group_median, group_quantiles

    df = spark.createDataFrame(
        [("en", (i * 37) % 101) for i in range(57)]
        + [("fr", (i * 13) % 53) for i in range(30)],
        "lang string, n_chars long",
    )
    med = {r["lang"]: r["median"] for r in group_median(df).collect()}
    q = {r["lang"]: r["p50"] for r in group_quantiles(df).collect()}
    assert med == q


def test_streaming_gate_rates_equals_batch_two_batch_sizes(
    spark, tmp_path
):
    import pyspark.sql.functions as SF

    from rio_cogeo_spark.streaming import quality as Q
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.synth import synth_pages

    pages = synth_pages(spark, "/root/testdata/sf0.001").select(
        "doc_id", "url", "text", "lang", "n_chars", "ts_sec"
    ).withColumn(  # spread pages across three 6h windows
        "ts_sec", SF.col("ts_sec") + (SF.col("doc_id") % 3) * 21_600
    )
    d = str(tmp_path / "pages_stream")
    pages.repartition(4).write.parquet(d)

    batch = spark.read.parquet(d)
    expected = {
        r["win_sec"]: tuple(r)[1:]
        for r in Q.gate_rates_batch(batch).collect()
    }
    assert len(expected) >= 2
    assert any(v[2] > 0 for v in expected.values())  # some pass_ppm > 0

    for mfpt in ("1", "2"):
        stream = (
            spark.readStream.schema(Q.PAGES_SCHEMA)
            .option("maxFilesPerTrigger", mfpt)
            .parquet(d)
        )
        got_df = run_stream_to_memory(
            Q.gate_rates(stream), f"gate_rates_{mfpt}"
        )
        got = {r["win_sec"]: tuple(r)[1:] for r in got_df.collect()}
        assert got == expected


def test_crawl_frontier_semantics(spark):
    from rio_cogeo_spark.operators.graph import crawl_frontier

    # seed 0 -> 1 -> 2; mutual pair 1<->9 makes host 1 fully reciprocal
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (1, 9), (9, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "host long")
    got = {r["host"]: r for r in
           crawl_frontier(edges, seeds, max_hops=3, iterations=2).collect()}
    # all reachable hosts present, none beyond horizon
    assert set(got) == {0, 1, 2, 9}
    # host 1: both out-links... one reciprocated -> recip_ppm 500k
    assert got[1]["recip_ppm"] == 500_000
    # priority formula holds exactly for a spot host
    r1 = got[1]
    assert r1["priority_ppb"] == (
        (r1["rank_ppb"] * (1_000_000 - r1["recip_ppm"] // 2)) // 1_000_000
    ) // (r1["hops"] + 1)
    # deeper hosts are discounted: same-rank host at greater depth loses
    assert got[0]["hops"] == 0 and got[2]["hops"] == 2


# ---------------------------------------------------------------------------
# TrustRank (seeded anti-spam trust propagation)


def _hosts(spark, ids):
    return spark.createDataFrame([(int(h),) for h in ids], "host long")


def test_trustrank_decays_from_seed_and_farm_stays_zero(spark):
    from rio_cogeo_spark.operators.graph import SCALE, host_trustrank

    # 1→2→3 chain seeded at 1; {8,9} is a link farm unreachable from it
    tr = host_trustrank(
        _edges(spark, [(1, 2), (2, 3), (8, 9), (9, 8)]),
        _hosts(spark, [1]),
        iterations=3,
    )
    trust = {r.host: r.trust_ppb for r in tr.collect()}
    base = 15 * SCALE // 100
    assert trust[1] == base  # seed keeps teleport mass only (no in-links)
    assert trust[1] > trust[2] > trust[3] > 0  # decay with hop distance
    assert trust[8] == 0 and trust[9] == 0  # farm never earns trust
    # exact: 2's trust is 85% of the seed's full prior-round trust
    assert trust[2] == (85 * base) // 100


def test_trustrank_seed_outside_graph_is_anchored(spark):
    from rio_cogeo_spark.operators.graph import SCALE, host_trustrank

    tr = host_trustrank(
        _edges(spark, [(1, 2)]), _hosts(spark, [1, 99]), iterations=2
    )
    trust = {r.host: r.trust_ppb for r in tr.collect()}
    assert trust[99] == 15 * SCALE // 100  # absent seed still anchored
    assert set(trust) == {1, 2, 99}


def test_trustrank_matches_duckdb_unroll(spark):
    import duckdb

    from rio_cogeo_spark.operators.graph import (
        host_trustrank,
        host_trustrank_sql,
    )

    edges = sorted(
        {
            (i % 11, (i * 7 + 3) % 11)
            for i in range(40)
            if i % 11 != (i * 7 + 3) % 11
        }
    )
    got = {
        r.host: r.trust_ppb
        for r in host_trustrank(
            _edges(spark, edges), _hosts(spark, [0, 1, 2]), iterations=3
        ).collect()
    }
    vals = ", ".join(f"({s}, {d})" for s, d in edges)
    sql = host_trustrank_sql(
        f"SELECT src, dst FROM (VALUES {vals}) AS v(src, dst)",
        "SELECT host FROM (VALUES (0), (1), (2)) AS s(host)",
    )
    want = {int(h): int(t) for h, t in duckdb.sql(sql).fetchall()}
    assert got == want


def test_trustrank_validates_args(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.graph import host_trustrank

    e = _edges(spark, [(1, 2)])
    s = _hosts(spark, [1])
    with _pytest.raises(ValueError):
        host_trustrank(e, s, iterations=0)
    with _pytest.raises(ValueError):
        host_trustrank(e, s, damping_pct=-1)


# ---------------------------------------------------------------------------
# KMV corpus-overlap sketch


def _texts(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_corpus_overlap_small_union_is_exact(spark):
    from rio_cogeo_spark.operators.dedup import corpus_overlap

    a = _texts(spark, ["x", "y", "z", "y"])  # dups collapse
    b = _texts(spark, ["y", "z", "w"])
    row = corpus_overlap(a, b, k=256).collect()[0]
    # union {x,y,z,w} < k, so the sketch IS the exact answer
    assert row.kmv_size == 4 and row.shared == 2
    assert row.jaccard_est_ppm == (2 * 1_000_000) // 4


def test_corpus_overlap_estimates_true_jaccard(spark):
    from rio_cogeo_spark.operators.dedup import corpus_overlap

    # 600 shared + 200 only-A + 200 only-B: true J = 600/1000
    a = _texts(spark, [f"s{i}" for i in range(600)] + [f"a{i}" for i in range(200)])
    b = _texts(spark, [f"s{i}" for i in range(600)] + [f"b{i}" for i in range(200)])
    row = corpus_overlap(a, b, k=128).collect()[0]
    assert row.k == 128 and row.kmv_size == 128
    # KMV std err ~ sqrt(J(1-J)/k) ≈ 0.043; allow 4 sigma
    assert abs(row.jaccard_est_ppm / 1e6 - 0.6) < 0.18


def test_corpus_overlap_matches_duckdb(spark):
    import duckdb

    from rio_cogeo_spark.operators.dedup import corpus_overlap, corpus_overlap_sql

    a = _texts(spark, [f"doc {i}" for i in range(50)])
    b = _texts(spark, [f"doc {i}" for i in range(25, 70)])
    got = corpus_overlap(a, b, k=16).collect()[0].asDict()
    a_sql = " UNION ALL ".join(f"SELECT 'doc {i}' AS text" for i in range(50))
    b_sql = " UNION ALL ".join(f"SELECT 'doc {i}' AS text" for i in range(25, 70))
    want = duckdb.sql(corpus_overlap_sql(a_sql, b_sql, k=16)).fetchall()[0]
    assert (got["k"], got["kmv_size"], got["shared"], got["jaccard_est_ppm"]) == want


def test_corpus_overlap_validates_k(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.dedup import corpus_overlap

    a = _texts(spark, ["x"])
    with _pytest.raises(ValueError):
        corpus_overlap(a, a, k=0)


# ---------------------------------------------------------------------------
# Margin-based bitext mining


def _vecs(spark, id_name, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        f"{id_name} long, embedding array<float>",
    )


def _numpy_bitext(srcs, tgts, k, thr=1_000_000):
    """Independent reimplementation of the exact-int margin pipeline."""
    import numpy as np

    def cos_u(a, b):
        a = np.asarray(a, dtype=np.float32).astype(np.float64)
        b = np.asarray(b, dtype=np.float32).astype(np.float64)
        c = float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))
        return int(np.round(np.round(c, 6) * 1_000_000))

    C = {(si, ti): cos_u(sv, tv) for si, sv in srcs for ti, tv in tgts}

    def nn_mean(ids, other, key):
        out = {}
        for i in ids:
            top = sorted(
                ((C[key(i, o)], o) for o in other), key=lambda p: (-p[0], p[1])
            )[:k]
            s = sum(c + 1_000_000 for c, _ in top)
            out[i] = s // len(top) - 1_000_000
        return out

    a_s = nn_mean([i for i, _ in srcs], [o for o, _ in tgts], lambda i, o: (i, o))
    a_t = nn_mean([i for i, _ in tgts], [o for o, _ in srcs], lambda i, o: (o, i))
    best = {}
    for (si, ti), c in C.items():
        den = a_s[si] + a_t[ti]
        if den <= 0:
            continue
        # Spark's div truncates toward zero; replicate exactly
        m = -((2 * -c * 1_000_000) // den) if c < 0 else (2 * c * 1_000_000) // den
        cur = best.get(si)
        if cur is None or (m, -ti) > (cur[2], -cur[1]):
            best[si] = (si, ti, m, c)
    return {
        si: (ti, c, m)
        for si, (si_, ti, m, c) in best.items()
        if m >= thr
    }


def test_bitext_identity_pairs_and_margin(spark):
    from rio_cogeo_spark.operators.similarity import bitext_mine

    basis = [[1, 0, 0], [0, 1, 0], [0, 0, 1]]
    src = _vecs(spark, "src_id", list(enumerate(basis)))
    tgt = _vecs(spark, "tgt_id", [(i + 10, v) for i, v in enumerate(basis)])
    got = {r.src_id: (r.tgt_id, r.cos_u) for r in bitext_mine(src, tgt, k=2).collect()}
    # every source mines its identical (orthogonal) target at cos 1.0
    assert got == {0: (10, 1_000_000), 1: (11, 1_000_000), 2: (12, 1_000_000)}


def test_bitext_matches_numpy_reference(spark):
    import numpy as np

    from rio_cogeo_spark.operators.similarity import bitext_mine

    rng = np.random.RandomState(7)
    sv = [(i, rng.randn(8)) for i in range(12)]
    # plant a hub: the normalized source mean attracts every source
    hub = sum(v for _, v in sv) / 12
    tv = [(100 + i, rng.randn(8)) for i in range(10)] + [(110, hub)]
    got = {
        r.src_id: (r.tgt_id, r.cos_u, r.margin_ppm)
        for r in bitext_mine(
            _vecs(spark, "src_id", sv), _vecs(spark, "tgt_id", tv), k=3
        ).collect()
    }
    want = _numpy_bitext(
        [(i, v) for i, v in sv], [(i, v) for i, v in tv], k=3
    )
    assert got == want
    # the hub demotion is doing work: some source's raw-cosine argmax
    # is NOT its mined (margin) target
    def raw_best(v):
        def c(a, b):
            a = np.asarray(a, np.float32).astype(np.float64)
            b = np.asarray(b, np.float32).astype(np.float64)
            return a @ b / np.sqrt((a @ a) * (b @ b))
        return max(tv, key=lambda p: (c(v, p[1]), -p[0]))[0]
    raw = {i: raw_best(v) for i, v in sv}
    assert any(
        i in want and raw[i] != want[i][0] for i, _ in sv
    ), "expected at least one margin-vs-raw reordering"


def test_bitext_matches_duckdb(spark):
    import duckdb
    import numpy as np

    from rio_cogeo_spark.operators.similarity import bitext_mine, bitext_mine_sql

    rng = np.random.RandomState(11)
    sv = [(i, rng.randn(6)) for i in range(8)]
    tv = [(50 + i, rng.randn(6)) for i in range(9)]
    got = sorted(
        tuple(r) for r in bitext_mine(
            _vecs(spark, "src_id", sv), _vecs(spark, "tgt_id", tv), k=2
        ).collect()
    )

    def rel(rows, idc):
        return " UNION ALL ".join(
            f"SELECT {i} AS {idc}, [{', '.join(f'CAST({float(np.float32(x))} AS FLOAT)' for x in v)}] AS embedding"
            for i, v in rows
        )

    want = sorted(
        tuple(int(x) for x in row)
        for row in duckdb.sql(
            bitext_mine_sql(rel(sv, "src_id"), rel(tv, "tgt_id"), k=2)
        ).fetchall()
    )
    assert got == want


def test_bitext_validates_args(spark):
    import pytest as _pytest

    from rio_cogeo_spark.operators.similarity import bitext_mine

    s = _vecs(spark, "src_id", [(0, [1.0, 0.0])])
    t = _vecs(spark, "tgt_id", [(1, [1.0, 0.0])])
    with _pytest.raises(ValueError):
        bitext_mine(s, t, k=0)
    with _pytest.raises(ValueError):
        bitext_mine(s, t, margin_threshold_ppm=0)


# --- HITS hubs & authorities (ROUND5.md §75) -------------------------------

def test_hits_extremes_and_duckdb_unroll(spark):
    import pytest as _pytest
    duckdb = _pytest.importorskip("duckdb")
    import pandas as pd
    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators.graph import host_hits, host_hits_sql

    edges = sorted(
        {(f"s{i % 7}", f"s{(i * 3 + 1) % 7}") for i in range(20)}
        | {("hub", f"s{i}") for i in range(7)}
        | {(f"s{i}", "auth") for i in range(5)}
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    for it in (1, 3):
        got = sorted(tuple(r) for r in host_hits(df, iterations=it).collect())
        con = duckdb.connect()
        con.register("esrc", pd.DataFrame(edges, columns=["src", "dst"]))
        want = sorted(
            tuple(r)
            for r in con.execute(
                host_hits_sql("SELECT src, dst FROM esrc", it)
            ).fetchall()
        )
        assert got == want, it
    d = {h: (a, b) for h, a, b in got}
    assert d["hub"][0] == 0      # no in-links -> authority EXACTLY zero
    assert d["auth"][1] == 0     # no out-links -> hub EXACTLY zero
    assert d["auth"][0] > max(v[0] for k, v in d.items() if k != "auth")
    # L1 mass conservation: each score column sums to ~N*SCALE
    # (floor-division loses < 1 unit per host)
    n = len(d)
    for idx in (0, 1):
        tot = sum(v[idx] for v in d.values())
        assert n * 1_000_000_000 - n <= tot <= n * 1_000_000_000


def test_hits_arg_validation(spark):
    from rio_cogeo_spark.operators.graph import host_hits

    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="iterations"):
        host_hits(df, iterations=0)


# --- redirect-chain resolution (ROUND5.md §76) -----------------------------

def test_resolve_redirects_chains_loops_and_twin(spark):
    import pytest as _pytest
    duckdb = _pytest.importorskip("duckdb")
    import pandas as pd

    from rio_cogeo_spark.operators.urlfilter import (
        resolve_redirects,
        resolve_redirects_sql,
    )

    rows = (
        [(f"a{i}", f"a{i + 1}") for i in range(1, 9)] + [("a9", "FINAL")]
        + [("l1", "l2"), ("l2", "l1"), ("s", "t")]
    )
    df = spark.createDataFrame(rows, "src string, dst string")
    got = sorted(
        tuple(r) for r in resolve_redirects(df, max_hops=16).collect()
    )
    con = duckdb.connect()
    con.register("rsrc", pd.DataFrame(rows, columns=["src", "dst"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            resolve_redirects_sql("SELECT src, dst FROM rsrc")
        ).fetchall()
    )
    assert got == want
    d = {s: (f, h, ok) for s, f, h, ok in got}
    assert d["a1"] == ("FINAL", 9, True)   # exact hop count through doubling
    assert d["a5"] == ("FINAL", 5, True)
    assert d["s"] == ("t", 1, True)
    assert not d["l1"][2] and not d["l2"][2]  # loops surface, don't spin
    # a chain longer than max_hops stays unresolved (bounded doubling)
    caps = {
        r.src: r.resolved
        for r in resolve_redirects(df, max_hops=4).collect()
    }
    assert caps["a1"] is False and caps["a9"] is True
    with _pytest.raises(ValueError, match="max_hops"):
        resolve_redirects(df, max_hops=0)


# --- sparse lexical tf-idf cosine pairs (ROUND5.md §77) --------------------

def test_lexical_cosine_pairs_twin_and_semantics(spark):
    import pytest as _pytest
    duckdb = _pytest.importorskip("duckdb")
    import pandas as pd
    import random

    from rio_cogeo_spark.operators.search import (
        lexical_cosine_pairs,
        lexical_cosine_pairs_sql,
    )

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 25))))
        for d in range(50)
    ]
    rows.append((100, rows[0][1]))  # exact copy -> cosine exactly 1.0
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in lexical_cosine_pairs(df, threshold=0.3, df_cap=None).collect()
    )
    con = duckdb.connect()
    con.register("dsrc", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            lexical_cosine_pairs_sql("SELECT doc_id, text FROM dsrc", 0.3)
        ).fetchall()
    )
    assert got == want
    d = {(a, b): c for a, b, c in got}
    assert d[(0, 100)] == 1.0
    assert all(0 < c <= 1.0 for c in d.values())


def test_lexical_cosine_df_cap_drops_stopword_pairs(spark):
    from rio_cogeo_spark.operators.search import lexical_cosine_pairs

    # 20 docs share ONLY the stopword 'the'; 2 docs share a rare phrase
    rows = [(d, f"the u{d} v{d} x{d}") for d in range(20)]
    rows += [(200, "rare alpha beta gamma"), (201, "rare alpha beta delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = lexical_cosine_pairs(df, threshold=0.1, df_cap=10).collect()
    pairs = {(r.doc_a, r.doc_b) for r in capped}
    assert (200, 201) in pairs
    assert all(a >= 200 for a, _ in pairs)  # stopword-only pairs gone


# --- host-keyed streaming quality monitor (ROUND5.md §79) ------------------

def test_streaming_host_gate_rates_equals_batch_two_batch_sizes(
    spark, tmp_path
):
    import pyspark.sql.functions as SF

    from rio_cogeo_spark.streaming import quality as Q
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.synth import synth_pages

    pages = synth_pages(spark, "/root/testdata/sf0.001").select(
        "doc_id", "url", "text", "lang", "n_chars", "ts_sec"
    ).withColumn(
        "ts_sec", SF.col("ts_sec") + (SF.col("doc_id") % 3) * 21_600
    )
    d = str(tmp_path / "pages_stream_h")
    pages.repartition(4).write.parquet(d)

    batch = spark.read.parquet(d)
    expected = {
        (r["win_sec"], r["host"]): tuple(r)[2:]
        for r in Q.host_gate_rates_batch(batch).collect()
    }
    assert len({h for _, h in expected}) >= 10  # truly host-keyed

    for mfpt in ("1", "2"):
        stream = (
            spark.readStream.schema(Q.PAGES_SCHEMA)
            .option("maxFilesPerTrigger", mfpt)
            .parquet(d)
        )
        got_df = run_stream_to_memory(
            Q.host_gate_rates(stream), f"host_gate_rates_{mfpt}"
        )
        got = {
            (r["win_sec"], r["host"]): tuple(r)[2:] for r in got_df.collect()
        }
        assert got == expected


# --- crawl-scheduling flagship composite (ROUND5.md §80) -------------------

def test_crawl_plan_composite_invariants(spark):
    import __spark_entry__ as E

    rows = E.q_crawl_plan(spark, "/root/testdata/sf0.001").collect()
    assert sum(r.alloc for r in rows) == 1_000_003      # Hamilton exact sum
    assert len(rows) == len({r.host for r in rows})     # one row per host
    # quality gates the budget: weights are rank x latest pass rate,
    # so every allocation is proportional within the quota rule
    tw = sum(r.weight for r in rows)
    import math
    for r in rows:
        q = 1_000_003 * r.weight / tw
        assert math.floor(q) <= r.alloc <= math.ceil(q)


# --- robots.txt parsing + filtering (ROUND5.md §81) ------------------------

ROBOTS_BODIES = [
    ("a.example",
     "User-agent: googlebot\nDisallow: /google-only\n\n"
     "User-agent: bingbot\nUser-agent: *\nDisallow: /private\n"
     "Disallow: /tmp:x\nAllow: /private/ok\n\n"
     "User-agent: otherbot\nDisallow: /other"),
    ("b.example", "User-agent: *\nDisallow:\nDisallow: /secret"),
    ("c.example", "User-agent: specific\nDisallow: /all"),
]


def test_robots_rules_grammar_and_twin(spark):
    import pytest as _pytest
    duckdb = _pytest.importorskip("duckdb")
    import pandas as pd

    from rio_cogeo_spark.operators.urlfilter import (
        robots_rules,
        robots_rules_sql,
    )

    robots = spark.createDataFrame(ROBOTS_BODIES, "host string, body string")
    got = sorted(tuple(r) for r in robots_rules(robots).collect())
    # multi-agent run naming * shares its block; colon paths survive
    # (first-colon split); empty Disallow ignored; non-* sections ignored
    assert got == [
        ("a.example", "/private"),
        ("a.example", "/tmp:x"),
        ("b.example", "/secret"),
    ]
    con = duckdb.connect()
    con.register("rb", pd.DataFrame(ROBOTS_BODIES, columns=["host", "body"]))
    want = sorted(
        tuple(r)
        for r in con.execute(
            robots_rules_sql("SELECT host, body FROM rb")
        ).fetchall()
    )
    assert got == want


def test_robots_filter_semantics_and_twin(spark):
    import pytest as _pytest
    duckdb = _pytest.importorskip("duckdb")
    import pandas as pd

    from rio_cogeo_spark.operators.urlfilter import (
        robots_filter,
        robots_filter_sql,
    )

    robots = spark.createDataFrame(ROBOTS_BODIES, "host string, body string")
    urls = [
        "https://a.example/private/page1",   # blocked (prefix match)
        "https://a.example/public",          # kept
        "https://a.example/google-only/x",   # kept (other agent's rule)
        "https://b.example/secret",          # blocked
        "https://b.example/",                # kept
        "https://c.example/all",             # kept (no * section)
        "https://d.example/anything",        # kept (no robots at all)
    ]
    pages = spark.createDataFrame([(u,) for u in urls], "url string")
    kept = sorted(r.url for r in robots_filter(pages, robots).collect())
    assert kept == sorted([
        "https://a.example/public",
        "https://a.example/google-only/x",
        "https://b.example/",
        "https://c.example/all",
        "https://d.example/anything",
    ])
    con = duckdb.connect()
    con.register("rb", pd.DataFrame(ROBOTS_BODIES, columns=["host", "body"]))
    pcte = " UNION ALL ".join(f"SELECT '{u}' AS url" for u in urls)
    want = sorted(
        r[0]
        for r in con.execute(
            robots_filter_sql(pcte, "SELECT host, body FROM rb")
        ).fetchall()
    )
    assert kept == want


def test_mann_kendall_monotone_no_ties(spark):
    import math

    from rio_cogeo_spark.operators.report import mann_kendall_days

    # 5 days with volumes 1,2,3,4,5 — all C(5,2)=10 pairs concordant
    rows = [(d * 86400 + i,) for d in range(5) for i in range(d + 1)]
    got = mann_kendall_days(
        spark.createDataFrame(rows, "ts_sec long")
    ).collect()[0]
    assert (got["n_days"], got["s_stat"], got["tie_term"]) == (5, 10, 0)
    assert got["var18"] == 5 * 4 * 15  # n(n-1)(2n+5), no ties
    assert got["z_mil"] == math.floor(9e6 / math.sqrt(300 / 18.0))
    assert got["z_mil"] > 1_960_000  # significant at 5%


def test_mann_kendall_decreasing_is_antisymmetric(spark):
    from rio_cogeo_spark.operators.report import mann_kendall_days

    up = [(d * 86400 + i,) for d in range(5) for i in range(d + 1)]
    down = [(d * 86400 + i,) for d in range(5) for i in range(5 - d)]
    g_up = mann_kendall_days(
        spark.createDataFrame(up, "ts_sec long")
    ).collect()[0]
    g_dn = mann_kendall_days(
        spark.createDataFrame(down, "ts_sec long")
    ).collect()[0]
    assert g_dn["s_stat"] == -g_up["s_stat"]
    assert g_dn["var18"] == g_up["var18"]
    # continuity correction is sign-symmetric -> exact negation
    assert g_dn["z_mil"] == -g_up["z_mil"] or (
        g_dn["z_mil"] + g_up["z_mil"] in (-1, 0)
    )  # floor() of x vs -x may differ by 1 off-integer


def test_mann_kendall_all_tied_and_single_day_null(spark):
    from rio_cogeo_spark.operators.report import mann_kendall_days

    # 4 days, 2 events each: one tie group t=4 -> var18 = 0 -> NULL z
    tied = [(d * 86400 + i,) for d in range(4) for i in range(2)]
    got = mann_kendall_days(
        spark.createDataFrame(tied, "ts_sec long")
    ).collect()[0]
    assert got["s_stat"] == 0 and got["var18"] == 0
    assert got["z_mil"] is None
    one = mann_kendall_days(
        spark.createDataFrame([(10,), (20,)], "ts_sec long")
    ).collect()[0]
    assert (got := one)["n_days"] == 1 and got["z_mil"] is None


def test_event_transitions_hand_computed(spark):
    from rio_cogeo_spark.streaming.events import event_transitions

    rows = [
        # user A: x -> y -> x
        ("A", "x", 100, 1), ("A", "y", 200, 2), ("A", "x", 300, 3),
        # user B: x -> x
        ("B", "x", 100, 4), ("B", "x", 200, 5),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts long, event_id long"
    )
    got = {
        (r["prev_type"], r["curr_type"]): (r["cnt"], r["p_ppm"])
        for r in event_transitions(df).collect()
    }
    assert got == {
        ("x", "y"): (1, 500_000),
        ("x", "x"): (1, 500_000),
        ("y", "x"): (1, 1_000_000),
    }


def test_event_transitions_tie_break_deterministic(spark):
    from rio_cogeo_spark.streaming.events import event_transitions

    # equal timestamps: order fixed by event_id -> a,b,c exactly
    rows = [("U", "b", 100, 2), ("U", "c", 100, 3), ("U", "a", 100, 1)]
    df = spark.createDataFrame(
        rows, "user_id string, event_type string, ts long, event_id long"
    )
    got = {
        (r["prev_type"], r["curr_type"]) for r in event_transitions(df).collect()
    }
    assert got == {("a", "b"), ("b", "c")}


def test_degree_assortativity_hand_computed(spark):
    from rio_cogeo_spark.operators.graph import degree_assortativity

    # edges: a->b, a->c, d->b
    # (x,y) per edge: (2,2), (2,1), (1,2) -> r = -0.5 exactly
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("d", "b")], "src string, dst string"
    )
    got = degree_assortativity(edges).collect()[0]
    assert (got["m_edges"], got["sx"], got["sy"]) == (3, 5, 5)
    assert (got["sxy"], got["sx2"], got["sy2"]) == (8, 9, 9)
    assert got["r_mil"] == -500_000


def test_degree_assortativity_degenerate_null(spark):
    from rio_cogeo_spark.operators.graph import degree_assortativity

    # star: x constant (out_deg 3 on every edge) -> zero variance -> NULL
    edges = spark.createDataFrame(
        [("h", "a"), ("h", "b"), ("h", "c")], "src string, dst string"
    )
    got = degree_assortativity(edges).collect()[0]
    assert got["r_mil"] is None and got["m_edges"] == 3


# --- streaming spatial frontier ---------------------------------------

@pytest.mark.parametrize("files_per_trigger", [1, 4])
def test_frontier_stream_equals_batch(spark, tmp_path, files_per_trigger):
    """Streaming first-seen-per-cell == batch min(ts) fold at two
    micro-batch sizes; min is commutative so arrival order is
    irrelevant, and bucketed novelty derived from the final state
    matches cell_novelty."""
    from pyspark.sql import functions as F

    from rio_cogeo_spark.operators.report import cell_novelty
    from rio_cogeo_spark.streaming.events import run_stream_to_memory
    from rio_cogeo_spark.streaming.frontier import (
        frontier_batch,
        frontier_stream,
    )

    h = 3600
    rows = []
    for i in range(90):
        # 30 lat/lon sites, 3 epochs each, LATER epochs in EARLIER
        # rows so processing order fights event order on purpose
        site = i % 30
        epoch = 2 - i // 30
        rows.append(
            (i, float(site % 10), float(site), epoch * h + site)
        )
    df = spark.createDataFrame(
        rows, "doc_id long, lat double, lon double, ts_sec long"
    )
    src = str(tmp_path / f"frontier_{files_per_trigger}")
    df.repartition(6).write.parquet(src)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    name = f"frontier_{files_per_trigger}"
    got = run_stream_to_memory(
        frontier_stream(stream, 8), name, output_mode="update"
    )
    # final state = min emission per cell
    final = (
        got.groupBy("tile_x", "tile_y")
        .agg(F.min("first_ts").alias("first_ts"))
    )
    streamed = {
        (r.tile_x, r.tile_y): r.first_ts for r in final.collect()
    }
    batch = {
        (r.tile_x, r.tile_y): r.first_ts
        for r in frontier_batch(df, 8).collect()
    }
    assert streamed == batch and len(batch) > 0
    # bucketed novelty from the streamed state == cell_novelty
    nov_stream = {
        (r.day, r.new_cells)
        for r in final.selectExpr(
            "tile_x", "tile_y", "first_ts AS ts_sec"
        ).groupBy(F.expr(f"CAST(ts_sec AS BIGINT) div {h}").alias("day"))
        .agg(F.count(F.lit(1)).alias("new_cells")).collect()
    }
    from rio_cogeo_spark.operators.translate import assign_tiles

    pts = assign_tiles(df, 8).select("tile_x", "tile_y", "ts_sec")
    nov_batch = {
        (r.day, r.new_cells) for r in cell_novelty(pts).collect()
    }
    assert nov_stream == nov_batch
