"""The traced run's layer sweep: one probe per layer of the program,
each inside a span, read back from the event log as ``<module>.<metric>``.

The sweep is the same for every workload, so a traced run of any
workload reports every layer. Its outputs are checked like the ops'.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import statistics

from pyspark.sql import functions as F

from eventlog import EventLog
from sparkenv import RUN_DIR
from spans import Span, covered
from workloads import (
    KNN_K, KNN_QUERIES, MAX_ZOOM, OVERVIEW_LEVEL, Ctx, knn_op, minhash_op, pip_op,
    pyramid_op,
)

COMMIT_ZOOM, COMMIT_LEVELS = 13, 8


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Sweep:
    """Runs the probes and keeps the spans (and plain values) the
    metrics are computed from."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.probe: dict[str, Span] = {}
        self.values: dict[str, float] = {}
        self.ok: dict[str, bool] = {}

    def _timed(self, key: str, fn, repeat: int = 1):
        """Run ``fn`` ``repeat`` times, each in its own span; the last
        (warmest) span is the one the metrics read."""
        for _ in range(repeat):
            with self.ctx.tracer.span(f"layer.{key}") as s:
                out = fn()
        self.probe[key] = s
        return out

    def run(self, pages_data: str, docs) -> None:
        from rio_cogeo_spark.functions.text import lang_id, quality_score, repetition_stats
        from rio_cogeo_spark.operators.dedup import minhash_signatures
        from rio_cogeo_spark.operators.translate import (
            assign_tiles, base_tiles, default_bands, fold_levels,
        )
        from rio_cogeo_spark.sources.pages import read_pages

        ctx, spark = self.ctx, self.ctx.spark
        pages = read_pages(spark, pages_data)
        self._timed("scan", lambda: _noop(read_pages(spark, pages_data)), repeat=2)
        self._timed("assign", lambda: _noop(assign_tiles(pages, MAX_ZOOM)), repeat=2)

        bands = default_bands()
        base = base_tiles(pages, MAX_ZOOM, bands).persist()
        self._timed("base", base.count)
        rel = [(z, 2 ** (MAX_ZOOM - z)) for z in range(MAX_ZOOM - 1, MAX_ZOOM - OVERVIEW_LEVEL - 1, -1)]
        self._timed("overview", lambda: fold_levels(base, rel, bands).count())
        spark.catalog.clearCache()
        pyr = self._timed("pyramid", lambda: pyramid_op(ctx))
        spark.catalog.clearCache()
        self.values["tiles_out"] = sum(t for t, _ in pyr.values())
        self.ok["pyramid"] = all(m == ctx.rows for _, m in pyr.values())

        pip = self._timed("pip", lambda: pip_op(ctx))
        self.values["pip_matched"] = pip[0]
        self.ok["pip"] = pip == ctx.refs.get("pip", pip) and pip[0] > 0
        knn = self._timed("knn", lambda: knn_op(ctx))
        self.ok["knn"] = knn == ctx.refs.get("knn", knn) and len(knn) == KNN_K * KNN_QUERIES

        self._commit(pages_data, pages)

        self._timed("signature", lambda: _noop(minhash_signatures(docs, 128)))
        pairs = self._timed("minhash", lambda: minhash_op(ctx, docs))
        self.values["verified_pairs"] = len(pairs)
        self.ok["minhash"] = pairs == ctx.refs.get("minhash", pairs) and len(pairs) > 0
        t = F.col("text")
        rep = repetition_stats(t)
        self._timed("text", lambda: _noop(docs.select(
            "doc_id", lang_id(t).alias("lang"), quality_score(t).alias("quality"),
            rep["dup_bigram_frac"].alias("dup_frac"),
        )), repeat=2)

    def _commit(self, pages_data: str, pages) -> None:
        """The CLI's production path: create, validate, info, then a
        resume after the three smallest levels' manifests are deleted."""
        from rio_cogeo_spark import cli
        from rio_cogeo_spark.sources.pages import verify_written_tiles

        out = RUN_DIR / "out" / "pyramid"
        shutil.rmtree(out, ignore_errors=True)
        create = ["create", pages_data, str(out), "--max-zoom", str(COMMIT_ZOOM),
                  "--overview-level", str(COMMIT_LEVELS)]
        quiet = io.StringIO()
        with contextlib.redirect_stderr(quiet):
            rc = self._timed("create", lambda: cli.main(create))
        manifests = sorted(out.glob("_manifest_z*.json"), key=lambda p: json.loads(p.read_text())["n_tiles"])
        self.values["levels_committed"] = sum(json.loads(p.read_text())["complete"] for p in manifests)
        self.ok["create"] = rc == 0 and verify_written_tiles(pages, str(out))["n_mismatch"] == 0

        err = io.StringIO()
        with contextlib.redirect_stderr(err), contextlib.redirect_stdout(io.StringIO()):
            rc = self._timed("validate", lambda: cli.main(["validate", str(out)]))
        self.values["checks_failed"] = err.getvalue().count("ERROR:")
        self.ok["validate"] = rc == 0
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self._timed("info", lambda: cli.main(["info", "--json", str(out)]))
        self.ok["info"] = json.loads(buf.getvalue())["COG"] is True

        for p in manifests[:3]:
            p.unlink()
        self.values["levels_skipped"] = len(list(out.glob("_manifest_z*.json")))
        with contextlib.redirect_stderr(quiet):
            rc = self._timed("resume", lambda: cli.main(create))
        self.ok["resume"] = rc == 0 and len(list(out.glob("_manifest_z*.json"))) == len(manifests)

    # -- metrics ------------------------------------------------------
    def metrics(self, log: EventLog) -> dict[str, float]:
        p, v = self.probe, self.values
        tag = {k: s.tag for k, s in p.items()}
        scan = log.node_sum(tag["scan"], "Scan parquet", "number of output rows")
        cands = log.node_sum(tag["pip"], "BroadcastHashJoin", "number of output rows")
        mh_joins = [log.value(n, "number of output rows")
                    for prefix in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
                    for n in log.nodes(tag["minhash"], prefix)]
        band_rows = sum(log.value(n, "number of output rows")
                        for n in log.nodes(tag["minhash"], "Generate") if "band" in n.desc)
        cand_pairs = max(mh_joins, default=0.0)
        write = [n for k in ("create", "resume") for n in log.nodes(tag[k], "Execute InsertIntoHadoopFsRelation")]
        return {
            "sources.pages.scan_s": p["scan"].duration,
            "sources.pages.scan_rows": scan,
            "sources.pages.write_s": log.write_wall_s(tag["create"]),
            "sources.pages.bytes_written": sum(log.value(n, "written output") for n in write),
            "sources.pages.files_written": sum(log.value(n, "number of written files") for n in write),
            "sources.pages.levels_committed": v["levels_committed"],
            "sources.pages.levels_skipped": v["levels_skipped"],
            "functions.tile.assign_s": p["assign"].duration - p["scan"].duration,
            "functions.tile.rows": log.node_sum(tag["assign"], "Scan parquet", "number of output rows"),
            "operators.translate.base_s": p["base"].duration,
            "operators.translate.overview_s": p["overview"].duration,
            "operators.translate.tiles_out": v["tiles_out"],
            "operators.translate.exchanges": len(log.nodes(tag["pyramid"], "Exchange")),
            "operators.translate.shuffle_bytes": log.spark_metrics(tag["pyramid"])["shuffle_write_bytes"],
            "operators.join.pip_candidates": cands,
            "operators.join.pip_matched": v["pip_matched"],
            "operators.join.pip_match_ratio": v["pip_matched"] / cands if cands else 0.0,
            "operators.join.broadcast_build_s": sum(
                log.node_sum(tag["pip"], "BroadcastExchange", m) for m in ("time to collect", "time to build")),
            "operators.join.refine_s": log.node_sum(tag["pip"], "ArrowEvalPython", "time to run Python workers"),
            "operators.join.knn_candidates": log.node_sum(tag["knn"], "BroadcastHashJoin", "number of output rows"),
            # the top-k is sort + WindowGroupLimit on both sides of the
            # exchange; the sorts carry its time
            "operators.join.knn_topk_s": log.node_sum(tag["knn"], "Sort", "sort time"),
            "operators.validate.validate_s": p["validate"].duration,
            "operators.validate.checks_failed": v["checks_failed"],
            "operators.validate.jobs": len(log.jobs_with(tag["validate"])),
            "operators.info.info_s": p["info"].duration,
            "operators.dedup.signature_s": p["signature"].duration,
            "operators.dedup.band_rows": band_rows,
            "operators.dedup.candidate_pairs": cand_pairs,
            "operators.dedup.verified_pairs": v["verified_pairs"],
            "operators.dedup.verify_ratio": v["verified_pairs"] / cand_pairs if cand_pairs else 0.0,
            "functions.text.filter_s": p["text"].duration,
        }


PYTHON_METRICS = {
    "boot_s": "time to start Python workers",
    "init_s": "time to initialize Python workers",
    "exec_s": "time to run Python workers",
    "bytes_sent": "data sent to Python workers",
    "bytes_returned": "data returned from Python workers",
}


def python_boundary(log: EventLog, ops: list[Span]) -> dict[str, float]:
    """ArrowEvalPython metrics per span that crosses the Python boundary,
    averaged over those spans (``ops`` are the run's top-level spans:
    set-up, timed ops and sweep probes)."""
    per_op = []
    for op in ops:
        nodes = log.nodes(op.tag, "ArrowEvalPython")
        if nodes:
            per_op.append({k: sum(log.value(n, m) for n in nodes) for k, m in PYTHON_METRICS.items()})
    return {f"spark.python.{k}": statistics.fmean(d[k] for d in per_op) if per_op else 0.0
            for k in PYTHON_METRICS}


def spark_per_op(log: EventLog, ops: list[Span]) -> dict[str, float]:
    """Event-log job metrics averaged over the workload's timed ops;
    skew is the median over ops, failed tasks the total."""
    rows = [log.spark_metrics(op.tag) for op in ops]
    out = {f"spark.{k}": statistics.fmean(r[k] for r in rows) for k in rows[0]}
    out["spark.task_skew"] = statistics.median(r["task_skew"] for r in rows)
    out["spark.tasks_failed"] = sum(r["tasks_failed"] for r in rows)
    return out


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s") or last == "p50":
        return "s"
    if "bytes" in last:
        return "B"
    if last.endswith(("ratio", "coverage", "skew")):
        return "ratio"
    return "count"


def job_coverage(log: EventLog, op: Span, epoch_offset: float) -> float:
    """Share of ``op``'s wall time during which a Spark job it started
    was running."""
    jobs = [(s - epoch_offset, e - epoch_offset) for s, e in log.job_intervals(op.tag)]
    return covered(op, jobs) / op.duration if op.duration > 0 else 0.0
