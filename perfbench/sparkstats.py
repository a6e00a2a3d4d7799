"""Engine-side counters read from outside the program: Spark job,
stage and task counts per job group (``statusTracker``), Catalyst phase
times (``queryExecution().tracker()``), streaming progress through a
``StreamingQueryListener``, and the JVM's peak resident set."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) started under job group ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), len(stages), tasks


def phase_seconds(df) -> dict[str, float]:
    """Catalyst phase durations of ``df``'s query execution."""
    tracker = df._jdf.queryExecution().tracker()
    out = {}
    for p in PHASES:
        opt = tracker.phases().get(p)
        out[p] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def drain_listener_bus(spark, timeout_ms: int = 10_000) -> None:
    """Block until every posted listener event has been delivered."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(timeout_ms)


class ProgressLog(StreamingQueryListener):
    """Keeps every progress event per query name (no ring cap)."""

    def __init__(self) -> None:
        self.events: dict[str, list[dict]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.setdefault(p.name or "", []).append({
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``, in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
