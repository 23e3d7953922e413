"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pyramid --seed 1 --seconds 12 --trace 0

One client, closed loop, one Spark job in flight at a time, on
``local[nproc]``. The last line of standard output is a JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives
the end-to-end metrics, ``--trace 1`` the per-layer ones. The lines
before it report every op type's median with its sample count, the
set-up times and the output-check verdict. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before the heavy imports below

import argparse  # noqa: E402
import json  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import sparkenv  # noqa: E402
from sparkenv import WORK_DIR, now  # noqa: E402

# Set-ups per untraced run; setup_s is their median. The first starts
# the process and the JVM, computes the references and runs one op of
# each type; the others restart the SparkContext in the same JVM,
# register the input again and run the first op type once.
SETUPS = 3
SETTLE_S = 8
N_PAGES = 2_000_000


def percentiles(samples: list[float]) -> dict[str, float]:
    """p50, plus the highest of p90/p99 with at least ten samples
    beyond it."""
    out = {"p50": statistics.median(samples)}
    for p in (99, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return out


def say(msg: str) -> None:
    print(msg, flush=True)


class Runner:
    def __init__(self, args):
        import workloads

        self.args = args
        self.wl = workloads.WORKLOADS[args.workload]
        self.trace = bool(args.trace)
        self.attempted = self.failed = 0
        self.checks_ok = True
        self.samples: dict[str, list[float]] = {op: [] for op in self.wl.ops}
        self.cycles: list[float] = []
        self.op_spans: list = []
        self._old_jsc: list = []

    # -- session ------------------------------------------------------
    def start(self) -> None:
        import inputs
        import workloads
        from spans import Tracer

        spark = sparkenv.build_session(event_log=self.trace)
        self.ctx = workloads.Ctx(
            spark=spark, tracer=Tracer(self.trace, spark.sparkContext if self.trace else None),
            sf_dir=inputs.DEFAULT_SF_DIR, seed=self.args.seed, n_pages=N_PAGES,
        )

    def restart(self) -> None:
        """A new SparkContext in the same JVM. The stopped context's Java
        handle stays referenced so that no cache keyed on ``id()`` of it
        can meet a recycled id."""
        self._old_jsc.append(self.ctx.spark.sparkContext._jsc)
        self.ctx.spark.stop()
        self.ctx.spark = sparkenv.build_session(event_log=self.trace)

    # -- ops ----------------------------------------------------------
    def check(self, op: str, out) -> bool:
        try:
            return bool(self.wl.checks[op](self.ctx, out))
        except Exception:  # noqa: BLE001 - a broken check is a failed op
            traceback.print_exc()
            return False

    def warm_pass(self, ops) -> None:
        """Untimed ops; a failed check here still makes the run
        incorrect."""
        for op in ops:
            fn = self.wl.ops[op]
            self.wl.reset(self.ctx)
            with self.ctx.tracer.span(f"setup.warm.{op}"):
                out = fn(self.ctx)
            if not self.check(op, out):
                say(f"check failed: warm-up {op}")
                self.checks_ok = False

    def timed_op(self, op: str) -> float:
        self.wl.reset(self.ctx)
        self.attempted += 1
        with self.ctx.tracer.span(f"op.{op}") as span:
            t0 = now()
            try:
                out = self.wl.ops[op](self.ctx)
            except Exception:  # noqa: BLE001 - the loop must go on and count it
                traceback.print_exc()
                out = None
            dt = now() - t0
        if span is not None:
            self.op_spans.append(span)
        if out is None or not self.check(op, out):
            self.failed += 1
            say(f"check failed: {op} #{self.attempted}")
        self.samples[op].append(dt)
        return dt

    def loop(self, seconds: float) -> None:
        """Whole cycles (one op of each type, in order) until ``seconds``
        have passed."""
        t0 = now()
        while not self.cycles or now() - t0 < seconds:
            self.cycles.append(sum(self.timed_op(op) for op in self.wl.ops))

    # -- runs ---------------------------------------------------------
    def setup(self) -> tuple[list[float], float]:
        import workloads

        ctx = self.ctx
        t_session = now() - T_PROCESS
        gen_s = workloads.prepare_input(ctx, self.wl)
        workloads.register(ctx, self.wl)
        t0 = now()
        with ctx.tracer.span("setup.references"):
            self.wl.references(ctx)
        t_refs = now() - t0
        self.warm_pass(self.wl.ops)
        setups = [now() - T_PROCESS - gen_s]
        say(f"first set-up: session {t_session:.3f} s, references {t_refs:.3f} s, "
            f"warm-up {setups[0] - t_session - t_refs:.3f} s")
        if not self.trace:
            for _ in range(SETUPS - 1):
                t0 = now()
                self.restart()
                workloads.register(ctx, self.wl)
                self.warm_pass(list(self.wl.ops)[:1])
                setups.append(now() - t0)
        return setups, gen_s

    def settle(self) -> None:
        """Untimed whole cycles for ``SETTLE_S`` seconds. Op times keep
        falling for about ten ops after a JVM starts (the pyramid op from
        ~2.5 s to ~1.2 s on 4 vCPUs); timing that slope would make a
        run's median depend on how far along it the run got."""
        t0 = now()
        while now() - t0 < SETTLE_S:
            self.warm_pass(self.wl.ops)

    def end_to_end(self) -> dict:
        self.start()
        try:
            setups, gen_s = self.setup()
            self.settle()
            with sparkenv.RssSampler(sparkenv.jvm_pid(self.ctx.spark)) as rss:
                self.loop(self.args.seconds)
        finally:
            sparkenv.stop_session(self.ctx.spark)
        n_ops = sum(len(s) for s in self.samples.values())
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "rows_per_s": (self.ctx.rows * n_ops / sum(map(sum, self.samples.values())), "rows/s"),
            "cycle_s.p50": (statistics.median(self.cycles), "s"),
            "peak_rss_mb": (rss.peak / (1 << 20), "MB"),
        }
        say(f"setup_s runs: {', '.join(f'{s:.3f}' for s in setups)}  input generation: {gen_s:.3f} s")
        self.report_ops()
        self.save_last(metrics)
        return metrics

    def traced(self) -> dict:
        import inputs
        import layers
        import workloads
        from eventlog import EventLog
        from spans import child_coverage, self_time_by_name

        self.start()
        ctx = self.ctx
        try:
            _, gen_s = self.setup()
            self.settle()
            self.loop(self.args.seconds)
            # the sweep needs both inputs whatever the workload
            pages_dir, g1 = inputs.pages_path(ctx.sf_dir, ctx.n_pages, ctx.seed)
            docs_dir, g2 = inputs.documents_dir(ctx.sf_dir, ctx.seed)
            ctx.pages_path, ctx.docs_dir = pages_dir, docs_dir
            ctx.rows = inputs.entry_rows(pages_dir)
            workloads.register(ctx, workloads.WORKLOADS["spatial_join"])
            docs = ctx.spark.read.parquet(str(docs_dir / "documents.parquet"))
            sweep = layers.Sweep(ctx)
            sweep.run(str(pages_dir / "data"), docs)
        finally:
            sparkenv.stop_session(ctx.spark)
        for name, ok in sweep.ok.items():
            if not ok:
                say(f"check failed: layer sweep {name}")
                self.checks_ok = False

        log = EventLog(sparkenv.RUN_DIR / "eventlog")
        tracer = ctx.tracer
        metrics = sweep.metrics(log)
        metrics.update(layers.spark_per_op(log, self.op_spans))
        metrics.update(layers.python_boundary(
            log, [s for s in tracer.spans if s.parent is None]))
        cycle = statistics.median(self.cycles)
        metrics["trace.cycle_s.p50"] = cycle
        metrics["trace.span_coverage"] = statistics.median(
            child_coverage(s, tracer.spans) for s in self.op_spans)
        metrics["trace.job_coverage"] = statistics.median(
            layers.job_coverage(log, s, tracer.epoch_offset) for s in self.op_spans)

        self.report_ops()
        self_times = self_time_by_name(tracer.spans)
        for name, t in sorted(self_times.items(), key=lambda kv: -kv[1]):
            say(f"self time {name}: {t:.3f} s")
        last = self.last_path()
        overhead = None
        if last.exists():
            untraced = json.loads(last.read_text())["cycle_s.p50"]
            overhead = cycle - untraced
            say(f"tracing overhead: cycle_s.p50 {cycle:.4f} s traced vs {untraced:.4f} s "
                f"untraced ({overhead:+.4f} s, {overhead / untraced:+.1%})")
        tracer.dump(WORK_DIR / "traces" / f"{self.wl.name}-seed{ctx.seed}.json", {
            "workload": self.wl.name, "seed": ctx.seed, "self_time_s": self_times,
            "metrics": metrics, "tracing_overhead_s": overhead,
            "input_generation_s": gen_s + g1 + g2,
        })
        return {k: (v, layers.unit_of(k)) for k, v in metrics.items()}

    def report_ops(self) -> None:
        for op, s in self.samples.items():
            pct = ", ".join(f"{k} {v:.4f} s" for k, v in percentiles(s).items())
            say(f"{op}_s: {pct} (n={len(s)}) samples: {' '.join(f'{x:.3f}' for x in s)}")
        say(f"cycle_s: p50 {statistics.median(self.cycles):.4f} s (n={len(self.cycles)})")
        frac = self.failed / self.attempted if self.attempted else 1.0
        say(f"failed_frac: {frac:.4f} ({self.failed}/{self.attempted})")
        say(f"output checks: {'PASS' if self.checks_ok and not self.failed else 'FAIL'}")

    def last_path(self) -> Path:
        """Where an untraced run leaves its metrics for the traced run of
        the same workload and seed to compare against."""
        return WORK_DIR / "last" / f"{self.wl.name}-seed{self.args.seed}.json"

    def save_last(self, metrics: dict) -> None:
        path = self.last_path()
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({k: v for k, (v, _) in metrics.items()}))


def parse_args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(1, str(sparkenv.REPO_ROOT))
    try:
        import __spark_entry__  # noqa: F401
        import rio_cogeo_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable: {exc}", file=sys.stderr)
        return 2
    args = parse_args(argv)
    sparkenv.fresh_run_dir()
    runner = Runner(args)
    metrics = runner.traced() if args.trace else runner.end_to_end()
    for name, (v, unit) in metrics.items():
        say(f"{name}: {v:.6g} {unit}")
    print(json.dumps({
        "correct": runner.checks_ok and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
