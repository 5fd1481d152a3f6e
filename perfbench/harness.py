"""Shared run machinery: the op recorder, Spark job counts, disk and memory
probes, and the per-layer summary of a traced run."""

from __future__ import annotations

import os
import statistics
import time

from perfbench.stats import median, summarize
from perfbench.trace import Tracer

OP_CLASSES = ("ping", "point_read", "scan_read", "write", "maint")


class CheckFailed(AssertionError):
    """A result did not match the shadow model or the oracle."""


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Recorder:
    """Closed-loop op bookkeeping: latency samples per op class, attempts,
    failures (errors and wrong results alike)."""

    def __init__(self, tracer: Tracer | None = None, jobs: "SparkJobs | None" = None):
        self.samples: dict[str, list[float]] = {k: [] for k in OP_CLASSES}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = tracer
        self.jobs = jobs
        self.stmt_kind: dict[int, str] = {}
        self.by_label: dict[str, list[float]] = {}
        self.label_class: dict[str, str] = {}
        self.sequence: list[str] = []  # labels in the order they ran
        self.write_bytes: list[tuple[int, int]] = []  # (disk bytes added, sql bytes)

    def run(self, kind: str, fn, check=None, label: str = ""):
        """Run ``fn()`` as one timed op of class ``kind``; ``check(result)``
        raises :class:`CheckFailed` on a wrong result."""
        label = label or kind
        stmt = self.attempted
        self.attempted += 1
        self.stmt_kind[stmt] = kind
        self.label_class[label] = kind
        self.sequence.append(label)
        if self.jobs is not None:
            self.jobs.start(stmt)
        if self.tracer is not None:
            self.tracer.stmt = stmt
            self.tracer.mark("client.send")
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 — an op failure is data
            self._fail(f"{label}: {type(exc).__name__}: {exc}")
            return None
        finally:
            if self.tracer is not None:
                self.tracer.stmt = None
            if self.jobs is not None:
                self.jobs.end(stmt)
        ms = (time.perf_counter() - t0) * 1000.0
        self.samples[kind].append(ms)
        self.by_label.setdefault(label, []).append(ms)
        if check is not None:
            try:
                check(result)
            except CheckFailed as exc:
                self._fail(f"{label}: wrong result: {exc}")
            except Exception as exc:  # noqa: BLE001 — e.g. a malformed result
                self._fail(f"{label}: unreadable result: {type(exc).__name__}: {exc}")
        return result

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg[:400])

    def summary(self) -> dict:
        return {k: summarize(v) for k, v in self.samples.items() if v}

    def class_ms(self, kind: str) -> float | None:
        """Latency of an op class: each statement kind's median, averaged
        over the kinds of the class. Unlike the median of all samples, it
        does not depend on where the timed window cuts the op cycle."""
        meds = [median(v) for lb, v in self.by_label.items() if self.label_class[lb] == kind]
        return statistics.fmean(meds) if meds else None


def cycle_ops_per_s(timed: Recorder, cycle: list[str], fallback: Recorder) -> float | None:
    """Statements per second of the workload's fixed op cycle: the cycle's
    length over the sum of its statements' median latencies (the timed
    window's medians; a kind the window did not reach takes its warm-up
    median)."""
    total_ms = 0.0
    for label in cycle:
        vals = timed.by_label.get(label) or fallback.by_label.get(label)
        if not vals:
            return None
        total_ms += median(vals)
    return len(cycle) / (total_ms / 1000.0) if total_ms else None


def closed_loop(rec: Recorder, ops, seconds: float) -> None:
    """Issue ``ops`` (callables taking the recorder) one after another until
    ``seconds`` have passed; the next op starts when the previous returns."""
    deadline = time.perf_counter() + seconds
    for op in ops:
        if time.perf_counter() >= deadline:
            break
        op(rec)


class SparkJobs:
    """Jobs, stages and tasks per statement from the driver-local status
    tracker, attributed through the job group the statements run under."""

    def __init__(self, sc):
        self.sc = sc
        self.group: str | None = None
        self.before: dict[int, set[int]] = {}
        self.after: dict[int, set[int]] = {}

    def _ids(self) -> set[int]:
        if self.group is None:
            return set()
        return set(self.sc.statusTracker().getJobIdsForGroup(self.group))

    def start(self, stmt: int) -> None:
        self.before[stmt] = self._ids()

    def end(self, stmt: int) -> None:
        self.after[stmt] = self._ids()

    def per_stmt(self) -> dict[int, tuple[int, int, int]]:
        """``{stmt: (jobs, stages, tasks)}``: the group's jobs that appeared
        while the statement ran, and their stages and tasks that ran."""
        tracker = self.sc.statusTracker()
        out = {}
        for stmt, before in self.before.items():
            jobs = self.after.get(stmt, before) - before
            stages = tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
            out[stmt] = (len(jobs), stages, tasks)
        return out


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def batch_entries(table_dir: str) -> int:
    """Published log entries of one table (hidden staging dirs excluded)."""
    ev = os.path.join(table_dir, "events")
    if not os.path.isdir(ev):
        return 0
    return sum(1 for e in os.listdir(ev) if not e.startswith(("_", ".")))


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [pid]
    while stack:
        for k in kids.get(stack.pop(), []):
            out.append(k)
            stack.append(k)
    return out


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the Spark JVM (the
    launcher's java descendant)."""
    kb = _hwm_kb(os.getpid())
    if jvm_pid is not None:
        procs = [jvm_pid] + _descendants(jvm_pid)
        java = []
        for p in procs:
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        java.append(p)
            except OSError:
                pass
        kb += sum(_hwm_kb(p) for p in java or [jvm_pid])
    return kb / 1024.0


def layer_metrics(rec: Recorder, tracer: Tracer, jobs: SparkJobs | None) -> dict:
    """Per-layer medians of a traced run, pooled over the statements whose
    path crossed the layer, plus a per-op-class breakdown."""
    by_stmt = tracer.by_stmt()
    per: dict[str, dict[int, float]] = {}

    def put(name: str, stmt: int, value: float) -> None:
        per.setdefault(name, {})[stmt] = value

    for stmt, idxs in by_stmt.items():
        spans = [tracer.spans[i] for i in idxs]
        send = next((s.t0 for s in spans if s.name == "client.send"), None)
        top = [
            i
            for i in idxs
            if tracer.spans[i].name == "sql_frontend.sql"
            and not _under(tracer, i, "sql_frontend.sql")
        ]
        totals: dict[str, float] = {}
        counts: dict[str, int] = {}
        for i in idxs:
            s = tracer.spans[i]
            if s.name.startswith(("events.", "temporal.")) and not _under(tracer, i, s.name):
                totals[s.name] = totals.get(s.name, 0.0) + s.ms
                counts[s.name] = counts.get(s.name, 0) + 1
        for name, ms in totals.items():
            put(f"{name}_ms", stmt, ms)
        if "events.state_at" in counts:
            put("events.state_at_calls_per_stmt", stmt, counts["events.state_at"])
        if top:
            first, last = tracer.spans[top[0]], tracer.spans[top[-1]]
            put("sql_frontend.dispatch_self_ms", stmt, sum(tracer.self_ms(i) for i in top))
            if send is not None:
                put("server.recv_ms", stmt, (first.t0 - send) * 1000.0)
            ready = [s.t0 for s in spans if s.name == "server.ready" and s.t0 >= (last.t1 or last.t0)]
            if ready:
                put("server.exec_stream_ms", stmt, (ready[0] - (last.t1 or last.t0)) * 1000.0)
    if jobs is not None:
        for stmt, (j, st, t) in jobs.per_stmt().items():
            put("spark.jobs_per_stmt", stmt, j)
            put("spark.stages_per_stmt", stmt, st)
            put("spark.tasks_per_stmt", stmt, t)
    pooled = {}
    classes: dict[str, dict] = {}
    for name, vals in per.items():
        if name == "events.state_at_calls_per_stmt":
            pooled[name] = statistics.fmean(vals.values())
        else:
            pooled[name] = median(list(vals.values()))
        for kind in OP_CLASSES:
            kv = [v for s, v in vals.items() if rec.stmt_kind.get(s) == kind]
            if kv:
                classes.setdefault(kind, {})[name] = median(kv)
    return {"pooled": pooled, "by_class": classes}


def _under(tracer: Tracer, idx: int, name: str) -> bool:
    """True when span ``idx`` has an ancestor called ``name``."""
    p = tracer.spans[idx].parent
    while p is not None:
        if tracer.spans[p].name == name:
            return True
        p = tracer.spans[p].parent
    return False
