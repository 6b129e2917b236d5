"""Repo benchmark: the ingest pipeline, and a snapshot warehouse with
the analytic query mix it serves; one workload per invocation.

    python3 perfbench/run.py --workload ipl_ingest --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. One process, one client, closed loop,
``local[<cores>]``. The run

1. sets up five times (a fresh Spark session, then the seeded inputs);
   ``setup_s`` is the median round. Round 0 launches the JVM and the
   later rounds restart the session on it, so ``setup_s`` leaves the
   JVM launch out;
2. repeats the workload's iteration for ``--seconds`` (at least once),
   checking every output. The first iteration is the first time the
   JVM runs the workload's operations, so their code paths are cold;
   at ``--seconds 1`` it is the only one;
3. prints one JSON line: the end-to-end metrics (``--trace 0``), or
   the per-layer metrics (``--trace 1``), which come from an extra,
   traced iteration (Spark event log, one job group per operation,
   timing wrappers around the pipeline's layer calls).

All files go to ``.perfbench_work/`` in the checkout and are removed at
exit. Exit code 0 only when a result was printed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.harness import median  # noqa: E402

SETUP_ROUNDS = 5


def measure(w, spark, rec, seconds: float):
    """Run iterations for ``seconds`` (at least one); returns, per
    iteration, the wall and process-tree CPU seconds of its ops and the
    Spark jobs they started (output checks and input building excluded),
    and the CPU seconds the hypervisor stole from the machine meanwhile.
    A failed op or check is counted and the iteration abandoned; the loop
    goes on."""
    walls, cpus, jobs, steals = [], [], [], []
    deadline = time.perf_counter() + seconds
    i = 0
    while True:
        rec.op_wall = rec.op_cpu = 0.0
        rec.op_jobs = 0
        s0 = harness.host_steal_s()
        try:
            w.iteration(spark, rec, i)
        except Exception as e:
            if e is not rec.op_error:  # raised by a check, outside any op
                rec.fail()
            print(f"perfbench: iteration {i} failed: {e!r}", file=sys.stderr, flush=True)
        walls.append(rec.op_wall)
        cpus.append(rec.op_cpu)
        jobs.append(rec.op_jobs)
        steals.append(harness.host_steal_s() - s0)
        print(f"perfbench: iteration {i}: {walls[-1]:.3f} s wall, {cpus[-1]:.2f} s cpu, "
              f"{jobs[-1]} jobs, {steals[-1]:.2f} s host steal", file=sys.stderr, flush=True)
        i += 1
        if time.perf_counter() >= deadline:
            return walls, cpus, jobs, steals


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    # the library under test must be importable from the checkout
    import etl_ipl_data_analysis_pipeline_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    harness.rmtree(work)
    os.makedirs(work)
    harness.prepare_env(ROOT, work)
    try:
        metrics, attempted, failed = run(args, work)
    finally:
        harness.stop_jvm()
        harness.rmtree(work)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def run(args, work: str):
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload](args.seed, work)
    rounds, session_start = [], []
    spark = None
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = harness.new_session(work)
        session_start.append(time.perf_counter() - t0)
        inputs = os.path.join(work, f"inputs-{r}")
        os.makedirs(inputs)
        w.prepare(spark, inputs)
        rounds.append(time.perf_counter() - t0)
    w.expect()  # untimed: the outputs the checks compare against

    rec = harness.Recorder(spark, label_jobs=False)
    walls, cpus, jobs, steals = measure(w, spark, rec, args.seconds)
    if not args.trace:
        e2e = {
            "setup_s": (median(rounds), "s"),
            "cpu_s": (median(cpus), "s"),
            "spark_jobs": (median(jobs), "count"),
        }
        return _fmt(e2e), rec.attempted, rec.failed
    spark.stop()
    layer = traced(w, work, rec, session_start)
    layer["op.wall_s"] = (median(walls), "s")
    layer["host.steal_s"] = (median(steals), "s")
    return _fmt(layer), rec.attempted, rec.failed


def traced(w, work, rec_plain, session_start) -> dict:
    """The per-layer metrics. The timed window above ran the operations
    for the first time in this JVM; for a like-for-like overhead figure the run then does one warm
    iteration untraced and one traced (event log on, a job group per op,
    the layer wrappers installed), each in a fresh session."""
    from perfbench import tracing

    headline = w.headline(rec_plain)
    spark = harness.new_session(work)
    warm = harness.Recorder(spark, label_jobs=False)
    walls_warm = measure(w, spark, warm, 0)[0]
    spark.stop()

    log_dir = os.path.join(work, "eventlog")
    spark = harness.new_session(work, event_log_dir=log_dir)
    lt = tracing.LayerTrace(spark).install()
    w.start_trace()
    rec = harness.Recorder(spark, label_jobs=True)
    try:
        walls = measure(w, spark, rec, 0)[0]
    finally:
        lt.mark(None)
        lt.restore()
        spark.stop()
    for r in (warm, rec):
        rec_plain.attempted += r.attempted
        rec_plain.failed += r.failed
    log = tracing.parse_event_log(tracing.find_event_log(log_dir))
    tracing.assign_groups(log, rec.windows)
    n_it = len(walls)
    t = tracing.totals(log)

    out = {name: (0.0, unit) for name, unit in LAYER_UNITS.items()}
    for name, v in headline.items():
        out[f"op.{name}"] = (v, "s")
    out["op.ops_failed_frac"] = (rec_plain.failed / max(1, rec_plain.attempted), "ratio")
    out["trace.overhead_s"] = (median(walls) - median(walls_warm), "s")
    out["session.start_s"] = (median(session_start), "s")
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "scan_bytes",
              "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{k}"] = (t[k] / n_it, LAYER_UNITS[f"spark.{k}"])
    for name, v in w.per_layer(rec, log, lt, n_it).items():
        out[name] = (v, LAYER_UNITS[name])
    return out


def _fmt(m: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def _layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


LAYER_UNITS = _layer_units()


if __name__ == "__main__":
    sys.exit(main())
