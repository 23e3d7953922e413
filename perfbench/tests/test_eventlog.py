"""The event-log reader on a tiny log this test writes itself (sf0.001
documents, 2,000 pages): jobs, tasks and plan-node metrics must land on
the span whose job tag they carry."""

import pytest

import inputs
import sparkenv
from eventlog import EventLog
from spans import Tracer

SF = inputs.BENCH_DIR / "data" / "sf0.001"
ROWS = 2000


@pytest.fixture(scope="module")
def traced():
    from workloads import Ctx, pip_op, register, WORKLOADS

    sparkenv.fresh_run_dir()
    spark = sparkenv.build_session(event_log=True)
    try:
        tracer = Tracer(True, spark.sparkContext)
        ctx = Ctx(spark=spark, tracer=tracer, sf_dir=SF, seed=7, n_pages=ROWS)
        ctx.pages_path, _ = inputs.pages_path(SF, ROWS, 7)
        register(ctx, WORKLOADS["spatial_join"])
        pages = ctx.df["pages"]
        with tracer.span("scan") as scan:
            pages.write.format("noop").mode("overwrite").save()
        with tracer.span("write") as write:
            pages.write.parquet(str(sparkenv.RUN_DIR / "out" / "copy"))
        with tracer.span("pip") as pip:
            matched, _ = pip_op(ctx)
    finally:
        sparkenv.stop_session(spark)
    return EventLog(sparkenv.RUN_DIR / "eventlog"), tracer, scan, write, pip, matched


def test_jobs_and_tasks_are_attributed_by_tag(traced):
    log, _, scan, _, pip, _ = traced
    for s in (scan, pip):
        m = log.spark_metrics(s.tag)
        assert m["jobs"] >= 1 and m["tasks"] >= 1 and m["tasks_failed"] == 0
        assert m["task_run_s"] > 0 and m["task_skew"] >= 1.0
    assert not set(log.jobs_with(scan.tag)) & set(log.jobs_with(pip.tag))


def test_plan_node_metrics(traced):
    log, _, scan, write, pip, matched = traced
    assert log.node_sum(scan.tag, "Scan parquet", "number of output rows") == ROWS
    assert log.nodes(scan.tag, "ArrowEvalPython") == []
    assert log.node_sum(pip.tag, "ArrowEvalPython", "data sent to Python workers") > 0
    assert log.node_sum(pip.tag, "ArrowEvalPython", "time to run Python workers") > 0
    assert log.node_sum(pip.tag, "BroadcastHashJoin", "number of output rows") >= matched
    assert log.node_sum(write.tag, "Execute InsertIntoHadoopFsRelation", "number of output rows") == ROWS
    assert log.write_wall_s(write.tag) > 0
    assert log.write_wall_s(scan.tag) == 0


def test_job_coverage_is_a_share(traced):
    import layers

    log, tracer, scan, _, _, _ = traced
    share = layers.job_coverage(log, scan, tracer.epoch_offset)
    assert 0 < share <= 1
