"""One command for the engine's three uses:

    python3 perfbench/run.py --workload {queries,nightly,lambda_serving}
                             --seed N --seconds S --trace {0,1}

Run it from the repository root. Each run is a closed loop with one
client thread on ``local[<cpus>]``: set-up (session start, input
staging, a warm pass), then whole rounds of the workload's operations
until ``--seconds`` have passed, then untimed correctness checks
against answers computed apart from the program. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Human-readable detail goes to stderr.

All state, inputs, checkpoints and Spark local dirs live under one run
directory inside ``.perfbench_run/``, removed at exit. A traced run
also writes its spans to ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

WORKLOADS = ("queries", "nightly", "lambda_serving")
DRIVER_MEM = "2g"


class SetupFailed(Exception):
    pass


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pin_env(rundir: str) -> None:
    """Pin cores, heap and every scratch location to this run."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={rundir}/warehouse"),
        "pyspark-shell",
    ])
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it every Python
    worker it forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        try:
            spark.sparkContext._gateway.shutdown()
        except Exception:  # noqa: BLE001 - already closing
            pass
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not leave is killed
            proc.kill()
            proc.wait(timeout=30)


class Run:
    """What one run shares between the harness and its workload."""

    def __init__(self, args, rundir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.rundir = rundir
        self.spark = None
        self.ops: list[dict] = []
        self.round_no = 0

    def record(self, kind: str, wall: float, ok: bool, traced: bool, **extra) -> None:
        self.ops.append({
            "kind": kind, "wall": wall, "ok": ok, "traced": traced,
            **extra,
        })


def make_workload(name: str, run: Run):
    if name == "queries":
        from wl_queries import Queries

        return Queries(run)
    if name == "nightly":
        from wl_nightly import Nightly

        return Nightly(run)
    from wl_serving import LambdaServing

    return LambdaServing(run)


def setup(wl, run: Run, tracer) -> float:
    """Session start + staging + warm pass."""
    stage = "import"
    try:
        from lambda_sample_spark import session

        if run.traced:
            tracer.wrap(session, "get_spark", "session.get_spark")
            tracer.enabled = True
        stage = "session"
        t0 = time.perf_counter()
        run.spark = session.get_spark(
            app_name=f"perfbench-{wl.name}", shuffle_partitions=wl.shuffle_partitions
        )
        run.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer.unwrap_all()
        tracer.enabled = False
        stage = "staging"
        t0 = time.perf_counter()
        wl.stage()
        staging_s = time.perf_counter() - t0
        stage = "warm pass"
        if run.traced:
            wl.wrap_setup(tracer)
            tracer.enabled = True
        t0 = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t0
        tracer.unwrap_all()
        tracer.enabled = False
    except Exception as exc:  # noqa: BLE001 - reported with its stage
        traceback.print_exc()
        raise SetupFailed(f"set-up failed at stage {stage}: {type(exc).__name__}: {exc}") from exc
    log(
        f"setup: session {session_s:.3f}s, staging {staging_s:.3f}s, "
        f"warm {warm_s:.3f}s"
    )
    return session_s + staging_s + warm_s


def measure(wl, run: Run, tracer) -> dict:
    """Whole rounds until ``seconds`` have passed. A traced run is three
    rounds: untraced, traced, untraced. The first measured round of a
    run still runs 10-20% slower than the next while the JIT settles, so
    the traced round is priced against the untraced round after it."""
    plan = [False, True, False] if run.traced else None
    t_start = time.perf_counter()
    walls: list[float] = []
    while True:
        traced = bool(plan) and plan[len(walls)]
        if traced:
            wl.wrap(tracer)
            tracer.enabled = True
        t0 = time.perf_counter()
        wl.run_round(traced, tracer)
        walls.append(time.perf_counter() - t0)
        if traced:
            tracer.enabled = False
            tracer.unwrap_all()
        run.round_no += 1
        if len(walls) == len(plan or ()) or (
            not plan and time.perf_counter() - t_start >= run.seconds
        ):
            break
    return {"walls": walls, "elapsed": time.perf_counter() - t_start}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def tracing_overhead_pct(walls: list[float]) -> float:
    """The traced round against the untraced round after it."""
    return 100.0 * (walls[1] / walls[2] - 1.0)


def _terminate(signum, _frame) -> None:
    """SIGTERM unwinds like an exception, so the session, the JVM and
    the run directory are still cleaned up."""
    raise SystemExit(128 + signum)


def run_workload(args, run: Run, wl, tracer) -> dict:
    """Set-up, measure, check; returns the result object."""
    from sparkstats import jvm_pid, peak_rss_mb

    setup_s = setup(wl, run, tracer)
    steal0, total0 = cpu_ticks()
    timing = measure(wl, run, tracer)
    steal1, total1 = cpu_ticks()
    log(
        f"measured {timing['elapsed']:.1f}s; CPU time stolen by the host: "
        f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f}%"
    )
    rss_mb = peak_rss_mb(jvm_pid(run.spark))
    problems = wl.check()
    for p in problems:
        log(f"CHECK FAILED: {p}")
    if run.traced:
        metrics = wl.layer_metrics(tracer)
        metrics["trace.overhead_pct"] = (tracing_overhead_pct(timing["walls"]), "%")
        tdir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(tdir, exist_ok=True)
        tpath = os.path.join(tdir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        tracer.dump(tpath, {"workload": args.workload, "seed": args.seed,
                            "rounds": timing["walls"]})
        log(f"spans written to {os.path.relpath(tpath, ROOT)}")
    else:
        metrics = wl.end_to_end(setup_s)
    for line in wl.report():
        log(line)
    log(f"peak RSS of the Spark JVM: {rss_mb:.1f} MB")
    failed = sum(1 for o in run.ops if not o["ok"])
    log(f"{len(run.ops)} operations attempted, {failed} failed")
    return {
        "correct": not problems,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_root = os.path.join(ROOT, ".perfbench_run")
    rundir = os.path.join(run_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    run = Run(args, rundir)
    wl = None
    try:
        try:
            pin_env(rundir)
            from spans import NullTracer, Tracer

            tracer = Tracer() if run.traced else NullTracer()
            tracer.enabled = False
            wl = make_workload(args.workload, run)
        except Exception as exc:  # noqa: BLE001 - reported with its stage
            traceback.print_exc()
            raise SetupFailed(
                f"set-up failed at stage import: {type(exc).__name__}: {exc}"
            ) from exc
        result = run_workload(args, run, wl, tracer)
    except SetupFailed as exc:
        log(str(exc))
        return 2
    finally:
        if wl is not None:
            wl.close()
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(rundir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
