"""Measurement helpers: spans, percentiles, process counters, REST deltas.

Everything here observes the engine from outside: wall clocks around the
benchmark's calls into the engine, ``/proc`` for the JVM and its Python
workers, and Spark's own monitoring REST API and listener bus. The pure
functions (percentile rule, span self time, stage attribution) carry the
benchmark's arithmetic and are unit-tested in ``perfbench/tests``.
"""

from __future__ import annotations

import inspect
import json
import math
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# Pure arithmetic


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``beyond`` samples
    strictly above its rank, as ``(percentile, value, n_samples)``.

    With n sorted samples, the sample at 0-based rank ``n - beyond - 1``
    has exactly ``beyond`` samples after it; its percentile is the share
    of samples at or below it. Fewer than ``beyond + 1`` samples give the
    median, labelled percentile 50.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= beyond:
        return 50.0, median(s), n
    rank = n - beyond - 1
    return 100.0 * (rank + 1) / n, s[rank], n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(iv: tuple[float, float], lo: float, hi: float) -> tuple[float, float]:
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, max(a, b))


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (children clipped to the parent's interval)."""
    kids = [clip((c.t0, c.t1), span.t0, span.t1) for c in spans if c.parent == span.sid]
    return span.dur - union_length(kids)


def child_coverage(span: Span, spans: list[Span]) -> float:
    """Share of a span's wall time covered by its direct children."""
    if span.dur <= 0:
        return 1.0
    return 1.0 - self_time(span, spans) / span.dur


def attribute(events: list[dict], spans: list[Span], key: str = "t_end") -> dict[int, list[dict]]:
    """Assign each event (a Spark stage or job with an end time in
    ``key``, epoch seconds) to the innermost span whose interval holds
    that time. Spans nest, so the innermost is the containing span with
    the latest start. Events outside every span map to ``-1``."""
    out: dict[int, list[dict]] = {}
    ordered = sorted(spans, key=lambda s: s.t0)
    for ev in events:
        t = ev[key]
        owner = -1
        for s in ordered:
            if s.t0 <= t <= s.t1:
                owner = s.sid
        out.setdefault(owner, []).append(ev)
    return out


# ---------------------------------------------------------------------------
# Spans


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    bare ``yield`` so the untraced run pays no bookkeeping."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None,
                 name, layer, time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]


# ---------------------------------------------------------------------------
# /proc: CPU and resident memory of the JVM and its Python workers

_CLK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds incl. reaped children, comm)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _CLK
        out[int(d)] = (int(f[1]), cpu, comm)
    return out


def host_steal(since: tuple[int, int] | None = None):
    """(steal ticks, all ticks) from /proc/stat; with ``since``, the
    share of CPU time the hypervisor stole in between."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    now = (f[7] if len(f) > 7 else 0, sum(f))
    if since is None:
        return now
    total = now[1] - since[1]
    return (now[0] - since[0]) / total if total else 0.0


def process_tree(root: int, table=None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
            todo.extend(kids.get(p, []))
    return out


def tree_cpu(root: int) -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its descendants
    only — the Python workers and their daemon)."""
    table = _proc_table()
    pids = process_tree(root, table)
    total = sum(table[p][1] for p in pids)
    workers = sum(table[p][1] for p in pids if p != root)
    return total, workers


def tree_rss_mb(root: int) -> float:
    """Resident memory of ``root`` plus its Python descendants (workers and
    their daemon). Other children, such as the short-lived processes the
    JVM spawns for file-permission calls, are skipped: right after the
    spawn they report the parent's whole resident set."""
    table = _proc_table()
    total = 0
    for p in process_tree(root, table):
        if p != root and not table[p][2].startswith("python"):
            continue
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler:
    """Background sampler of the tree's summed resident memory."""

    def __init__(self, root: int, period_s: float = 0.05):
        self.root, self.period_s = root, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))


# ---------------------------------------------------------------------------
# Spark REST and listener counters

_HTTP_TIMEOUT_S = 30


def rest(spark, path: str):
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"{base}/api/v1/applications/{app}/{path}", timeout=_HTTP_TIMEOUT_S
    ) as r:
        return json.load(r)


def drain_listeners(spark) -> None:
    """Block until the listener bus has delivered every posted event, so
    the REST status store and streaming listeners are up to date."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def rest_time(s: str | None) -> float | None:
    """REST timestamps look like ``2026-10-17T00:30:00.123GMT``."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


#: (REST stage field, summed key, scale to seconds/bytes)
STAGE_FIELDS = (
    ("executorRunTime", "run_s", 1e-3),
    ("executorCpuTime", "cpu_s", 1e-9),
    ("jvmGcTime", "gc_s", 1e-3),
    ("numCompleteTasks", "tasks", 1),
    ("numFailedTasks", "failed_tasks", 1),
    ("inputRecords", "scan_rows", 1),
    ("inputBytes", "scan_bytes", 1),
    ("outputBytes", "output_bytes", 1),
    ("shuffleWriteBytes", "shuffle_write_bytes", 1),
    ("shuffleReadBytes", "shuffle_read_bytes", 1),
    ("shuffleFetchWaitTime", "fetch_wait_s", 1e-3),
    ("memoryBytesSpilled", "spill_bytes", 1),
    ("diskBytesSpilled", "spill_bytes", 1),
)


def sum_stages(stages: list[dict]) -> dict[str, float]:
    out = {key: 0.0 for _, key, _ in STAGE_FIELDS}
    for st in stages:
        for field_, key, scale in STAGE_FIELDS:
            out[key] += (st.get(field_) or 0) * scale
    out["stages"] = float(len(stages))
    return out


def new_by_id(rows: list[dict], seen: set, id_key: str) -> list[dict]:
    """Rows whose id was not seen before; records the new ids."""
    fresh = [r for r in rows if r[id_key] not in seen]
    seen.update(r[id_key] for r in fresh)
    return fresh


class SparkCounters:
    """Snapshots of Spark's own counters, fetched at op boundaries and
    attributed to spans by completion time."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self._stages: set = set()
        self._jobs: set = set()
        self._codegen_vals: list[int] = []
        self._codegen_count = 0
        self.skip_history()

    def skip_history(self) -> None:
        """Forget everything Spark has already completed."""
        drain_listeners(self.spark)
        self.new_stages()
        self.new_jobs()
        self.codegen_delta()

    def new_stages(self) -> list[dict]:
        rows = rest(self.spark, "stages?status=complete") + rest(
            self.spark, "stages?status=failed"
        )
        for r in rows:
            r["key"] = (r["stageId"], r["attemptId"])
            r["t_end"] = rest_time(r.get("completionTime")) or time.time()
        return new_by_id(rows, self._stages, "key")

    def new_jobs(self) -> list[dict]:
        rows = [j for j in rest(self.spark, "jobs") if j.get("completionTime")]
        for r in rows:
            r["t_end"] = rest_time(r["completionTime"])
            r["dur"] = r["t_end"] - rest_time(r["submissionTime"])
        return new_by_id(rows, self._jobs, "jobId")

    def codegen_delta(self) -> tuple[int, float]:
        """(compiles, compile seconds) since the last call, from the
        CodegenMetrics compilation-time histogram (values in ms). The
        histogram's reservoir keeps every sample until it fills; past
        that the seconds are estimated from the mean."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        snap = h.getSnapshot()
        vals = sorted(int(v) for v in snap.getValues())
        count = int(h.getCount())
        n = count - self._codegen_count
        if len(vals) == count:  # reservoir still holds every sample
            secs = sum(_multiset_minus(vals, self._codegen_vals)) / 1e3
        else:
            secs = n * float(snap.getMean()) / 1e3
        self._codegen_vals, self._codegen_count = vals, count
        return n, secs

    def catalyst_phases(self, df) -> dict[str, float]:
        """Catalyst phase times of ``df``'s own QueryExecution. The action
        ran through a QueryExecution of its own, so forcing this one's
        executed plan optimizes and plans the same logical plan a second
        time; call it outside the op's span and timing."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            out[name] = p.get().durationMs() / 1e3 if p.isDefined() else 0.0
        return out

    def cache_state(self) -> tuple[int, int]:
        """(persistent RDDs, bytes they hold in memory and on disk)."""
        n = int(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        size = sum(
            (r.get("memoryUsed") or 0) + (r.get("diskUsed") or 0)
            for r in rest(self.spark, "storage/rdd")
        )
        return n, int(size)


@contextmanager
def record_calls(module, name: str, calls: list[dict]):
    """Within the block, every call of ``module.name`` appends its bound
    arguments (defaults applied) to ``calls`` and then runs as before."""
    orig = getattr(module, name)
    sig = inspect.signature(orig)

    def recorder(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        bound.apply_defaults()
        calls.append(dict(bound.arguments))
        return orig(*args, **kwargs)

    setattr(module, name, recorder)
    try:
        yield
    finally:
        setattr(module, name, orig)


def progress_listener():
    """A StreamingQueryListener keeping every progress report (as a dict)
    in ``.events``, with its trigger's start time in epoch seconds."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            self.events.append((rest_time(p["timestamp"].replace("Z", "GMT")), p))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _multiset_minus(a: list[int], b: list[int]) -> list[int]:
    from collections import Counter

    left = Counter(a)
    left.subtract(Counter(b))
    return list(left.elements())


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a directory, ignoring Spark's markers."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
