"""Seeded benchmark inputs, cached under ``.perfbench/cache``.

* pages: ``synth.pages_select`` over the documents, each document
  replicated to reach ``rows`` pages with re-keyed ``doc_id``s
  (``doc_id * replicate + i + offset``). The seed picks the offset, so
  each seed gives another point set with the same megacity skew (80% of
  pages within 0.45 degrees of 20 cities).
* documents: the documents table with its rows in a seed-dependent
  order, for the dedup workload, whose results must not depend on it.

A cache entry is keyed on (documents content, rows, seed) and is only
reused once its ``_COMPLETE`` marker exists, so a killed generation or
another dataset never passes for a finished one.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from sparkenv import CACHE_DIR, now

BENCH_DIR = Path(__file__).resolve().parent
DEFAULT_SF_DIR = BENCH_DIR / "data" / "sf0.1"
MARKER = "_COMPLETE"
# seeds map to disjoint doc_id ranges; the modulus keeps every
# doc_id * constant in synth's derivation far inside int64
SEED_RANGES = 100_003
KEEP_ENTRIES = 12  # cached inputs kept; least recently used go first
FILES = 16  # parquet files per pages input


def _docs_digest(sf_dir: Path) -> str:
    h = hashlib.sha256()
    with open(sf_dir / "documents.parquet", "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()[:16]


def _entry(kind: str, sf_dir: Path, rows: int, seed: int) -> Path:
    key = f"{_docs_digest(sf_dir)}|{rows}|{seed}"
    return CACHE_DIR / f"{kind}_{hashlib.sha256(key.encode()).hexdigest()[:16]}"


def _complete(path: Path) -> bool:
    return (path / MARKER).exists()


def _finish(path: Path, meta: dict) -> None:
    (path / MARKER).write_text(json.dumps(meta))


def _evict() -> None:
    entries = sorted(
        (p for p in CACHE_DIR.iterdir() if p.is_dir()),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in entries[KEEP_ENTRIES:]:
        shutil.rmtree(p, ignore_errors=True)


def _touch(path: Path) -> None:
    os.utime(path)


def _sql_str(path: Path) -> str:
    return str(path).replace("'", "''")


def entry_rows(path: Path) -> int:
    """Row count recorded in a finished cache entry's marker."""
    return int(json.loads((path / MARKER).read_text())["rows"])


def pages_path(sf_dir: Path, rows: int, seed: int) -> tuple[Path, float]:
    """Path of the seeded pages parquet and the seconds spent generating
    it (0.0 on a cache hit).

    ``synth.pages_select`` is shared SQL that DuckDB evaluates
    bit-identically to Spark (the oracle relies on it), so the input is
    made by DuckDB in this process: no second JVM, and the benchmark's
    JVM (its memory, its JIT state) is the same whether or not the input
    was cached. It is written as ``FILES`` files, each sorted by
    ``doc_id``."""
    import duckdb

    from rio_cogeo_spark.synth import pages_select

    out = _entry("pages", sf_dir, rows, seed)
    if _complete(out):
        _touch(out)
        return out, 0.0
    t0 = now()
    shutil.rmtree(out, ignore_errors=True)
    (out / "data").mkdir(parents=True)
    con = duckdb.connect()
    try:
        docs = _sql_str(sf_dir / "documents.parquet")
        n_docs = con.execute(f"SELECT count(*) FROM read_parquet('{docs}')").fetchone()[0]
        replicate = max(1, rows // n_docs)
        offset = (seed % SEED_RANGES) * n_docs * replicate
        for i in range(FILES):
            con.execute(f"""
                CREATE OR REPLACE TEMP VIEW documents AS
                SELECT d.doc_id * {replicate} + r.range + {offset} AS doc_id,
                       d.text, d.lang, d.n_chars
                FROM read_parquet('{docs}') d, range({replicate}) r
                WHERE r.range % {FILES} = {i}""")
            con.execute(f"""
                COPY (SELECT doc_id, url, lang, n_chars, lat, lon
                      FROM ({pages_select("VARCHAR")}) ORDER BY doc_id)
                TO '{_sql_str(out / "data" / f"part-{i:02d}.parquet")}' (FORMAT PARQUET)""")
    finally:
        con.close()
    _finish(out, {"sf_dir": str(sf_dir), "rows": n_docs * replicate, "seed": seed})
    _evict()
    return out, now() - t0


def documents_dir(sf_dir: Path, seed: int) -> tuple[Path, float]:
    """A directory holding ``documents.parquet`` with the rows of
    ``sf_dir``'s documents in a seed-dependent order."""
    out = _entry("docs", sf_dir, 0, seed)
    if _complete(out):
        _touch(out)
        return out, 0.0
    t0 = now()
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    table = pq.read_table(sf_dir / "documents.parquet")
    order = np.random.default_rng(seed).permutation(table.num_rows)
    pq.write_table(table.take(order), out / "documents.parquet")
    _finish(out, {"sf_dir": str(sf_dir), "rows": table.num_rows, "seed": seed})
    _evict()
    return out, now() - t0

