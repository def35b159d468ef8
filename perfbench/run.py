"""Benchmark entry point.

    python3 perfbench/run.py --workload month_load --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. The program under
test is the checkout's own ``rfb_data_pipeline_spark`` package, driven
on ``local[<cores>]``. The run generates the workload's inputs from
the seed while the JVM starts, sets the program up five times on fresh
SparkContexts in that JVM (``setup_s`` is the median), then repeats
whole rounds of operations
until ``--seconds`` have passed; a round longer than that still runs
once. There is no warm-up: the first round is the program's first
full-size work in the JVM, as a batch run pays it. Every output is
checked outside the timed region.

With ``--trace 0`` the last line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics from spans recorded
around the program's layers (see ``spans.py``); ``trace.overhead_s``
is the time the recorder itself spent per operation. Spans are written to
``perfbench-spans-<workload>.jsonl`` in the checkout root.

All files go under ``.perfbench_work/`` in the checkout and are
removed at the end; the JVM is stopped before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 5

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "pipeline.run.extract_s": "s",
    "pipeline.run.self_s": "s",
    "pipeline.discovery.busy_s": "s",
    "pipeline.download.busy_s": "s",
    "pipeline.download.retries": "count",
    "pipeline.manifest.busy_s": "s",
    "pipeline.manifest.spark_jobs": "count",
    "pipeline.ingest.busy_s": "s",
    "pipeline.ingest.rows_per_s": "1/s",
    "pipeline.ingest.spark_jobs": "count",
    "pipeline.ingest.bytes_written_per_raw_byte": "ratio",
    "pipeline.validate.checks_failed": "count",
    "sources.rfb_csv.corrupt_ratio": "ratio",
    "sources.encoding.busy_s": "s",
    "operators.relational.plan_s": "s",
    "operators.relational.exec_s": "s",
    "operators.relational.spark_jobs": "count",
    "operators.events.plan_s": "s",
    "catalog.load_tables.busy_s": "s",
    "memo.lookups": "count",
    "memo.hit_ratio": "ratio",
    "memo.build_s": "s",
    "plans.stage.calls": "count",
    "plans.stage.busy_s": "s",
    "operators.dedup.busy_s": "s",
    "operators.dedup.spark_jobs": "count",
    "operators.similarity.busy_s": "s",
    "operators.similarity.spark_jobs": "count",
    "operators.text.busy_s": "s",
    "operators.text.spark_jobs": "count",
}


def _program_root() -> str:
    """The checkout root holding the program; exit if it is missing."""
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "rfb_data_pipeline_spark", "__init__.py"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        sys.exit(
            "perfbench: run from the repository root; "
            "rfb_data_pipeline_spark/ and __spark_entry__.py are missing here"
        )
    return root


def _setup(workload, session) -> tuple[list[float], list[float]]:
    """Set the program up SETUP_REPEATS times, each on a fresh
    SparkContext. Returns (set-up seconds, context start seconds)."""
    setups, starts = [], []
    for _ in range(SETUP_REPEATS):
        session.stop()  # tearing the last context down is not set-up
        t0 = time.perf_counter()
        starts.append(session.start())
        workload.setup(session.spark)
        setups.append(time.perf_counter() - t0)
    return setups, starts


def _measure(workload, session, tracer, seconds: float, rng: random.Random, traced: bool):
    """Whole rounds until ``seconds`` have passed. Returns (ops,
    problems, spark stats): ops holds one dict per timed op."""
    spark = session.spark
    problems: list[str] = []
    ops: list[dict] = []
    start_stage = session.last_stage_id() if traced else -1
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or not ops:
        for op in workload.round(spark, rng, tracer):
            op_id = len(ops)
            tracer.enabled = traced
            tracer.start_op(op_id)
            t0 = time.perf_counter()
            try:
                out = op.run()
            except Exception:  # noqa: BLE001 — a failed op is counted
                traceback.print_exc()
                out = None
            dt = time.perf_counter() - t0
            tracer.enabled = False
            rec = {"label": op.label, "s": dt, "parts": dict(op.parts),
                   "ok": out is not None}
            if out is not None:
                if traced:
                    workload.after_traced_op(tracer, out)
                found = workload.check(op, out)
                rec["ok"] = not found
                problems += found
            if traced:
                rec["jobs"] = tracer.op_jobs(op_id)
            ops.append(rec)
    if traced:
        rec_bytes, tasks = session.shuffle_write_bytes(start_stage)
        return ops, problems, {"shuffle_bytes": rec_bytes, "tasks": tasks}
    return ops, problems, {}


def run(workload_name: str, seed: int, seconds: float, traced: bool) -> dict:
    root = _program_root()
    sys.path.insert(0, HERE)
    sys.path.insert(1, root)
    import rfb_data_pipeline_spark

    pkg_dir = os.path.dirname(os.path.abspath(rfb_data_pipeline_spark.__file__))
    if os.path.dirname(pkg_dir) != root:
        sys.exit(f"perfbench: imported the program from {pkg_dir}, not from {root}")

    import harness
    from spans import Tracer
    from workloads import WORKLOADS

    work = os.path.join(root, ".perfbench_work", f"{workload_name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    session = harness.Session(work, traced)
    try:
        workload = WORKLOADS[workload_name](work, seed)
        # launch the JVM while the inputs are generated; neither is timed
        launch = threading.Thread(target=session.start)
        launch.start()
        t0 = time.perf_counter()
        try:
            workload.generate()
        finally:
            launch.join()
        gen_s = time.perf_counter() - t0

        tracer = Tracer()
        if traced:
            tracer.install(workload.hooks())
        harness.reset_peak_rss()  # input generation is not the program's
        setups, starts = _setup(workload, session)
        tracer.sc = session.spark.sparkContext if traced else None

        t0 = time.perf_counter()
        ops, problems, spark_stats = _measure(
            workload, session, tracer, seconds, random.Random(seed), traced
        )
        wall = time.perf_counter() - t0
        peak = session.peak_rss_mb()
        if traced:
            tracer.dump(os.path.join(root, f"perfbench-spans-{workload_name}.jsonl"))
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    end_to_end = {
        "setup_s": statistics.median(setups),
        "op_p50_s": statistics.median(o["s"] for o in ops),
    }
    info = {
        "peak_rss_mb": peak,
        "ops": len(ops),
        "op_s": [o["s"] for o in ops],
        "generate_s": gen_s,
        "measure_wall_s": wall,
        "setup_samples_s": setups,
        "fail_ratio": sum(not o["ok"] for o in ops) / len(ops),
    }
    for part in sorted({p for o in ops for p in o["parts"]}):
        info[part] = statistics.median(o["parts"][part] for o in ops)
    result = {
        "correct": not problems,
        "attempted": len(ops),
        "failed": sum(not o["ok"] for o in ops),
        "problems": problems[:20],
        "info": info,
    }
    if not traced:
        result["metrics"] = end_to_end
        return result

    n_ops = len(ops)
    layer = {name: 0.0 for name in PER_LAYER}
    layer.update(workload.layer_metrics(tracer, n_ops))
    layer.update({
        "session.start_s": statistics.median(starts),
        "trace.overhead_s": tracer.overhead_s / n_ops,
        "spark.jobs": sum(len(o["jobs"]) for o in ops) / n_ops,
        "spark.tasks": spark_stats["tasks"] / n_ops,
        "spark.shuffle_write_bytes": spark_stats["shuffle_bytes"] / n_ops,
    })
    result["metrics"] = layer
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("month_load", "star_queries", "corpus_curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    units = END_TO_END if not args.trace else PER_LAYER
    for k, v in sorted(result["info"].items()):
        print(f"# {k}: {json.dumps(v)}")
    for p in result["problems"]:
        print(f"# MISMATCH {p}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
