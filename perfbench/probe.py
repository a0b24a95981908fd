"""Measurement from outside the package: spans, process-tree CPU/RSS by
process kind, and Spark's in-process status stores.

Attribution is by time window, not job group: the ingest gates submit their
jobs from the stream thread, which does not carry the caller's job group.
A job belongs to every span whose [start, end] holds its submission time,
and to exactly one layer: that of the innermost such span.
"""

from __future__ import annotations

import functools
import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

MB = 1 << 20

# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    layer: str
    start: float  # epoch seconds, comparable with Spark's submission times
    end: float
    pass_id: int | None = None
    batch_id: int | None = None
    parent: int | None = None  # index into the span list, set by nest()

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        # (key, pass id, rows): rows is an int, or an Observation whose
        # count arrives when its frame first runs
        self.counts: list[tuple[str, int | None, object]] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def count(self, key: str, n) -> None:
        if not self.enabled:
            return
        with self._lock:
            self.counts.append((key, self.pass_id, n))

    def counted(self, key: str) -> int:
        """Rows counted under ``key`` during timed passes. An observed
        frame that never ran contributes nothing."""
        total = 0
        for k, p, n in self.counts:
            if k != key or p is None:
                continue
            if isinstance(n, int):
                total += n
            elif n._jo.future().isCompleted():
                total += n.get["rows"]
        return total

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            self.add(Span(name, layer, start, time.time(), self.pass_id))

    def wrap(self, module, names: list[str], layer: str) -> None:
        """Replace ``module.<name>`` with a span-recording wrapper, so calls
        made through the module attribute (including the package's own
        function-local imports) are timed."""
        for name in names:
            self._replace(module, name, self._spanned(getattr(module, name), f"{layer}.{name}", layer))

    def _spanned(self, orig, key: str, layer: str):
        # functools.wraps keeps __module__/__qualname__, so cloudpickle
        # still ships the function by reference to the (unwrapped) workers
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(key, layer):
                return orig(*a, **kw)

        return wrapper

    def observe(self, module, names: list[str], layer: str) -> None:
        """Make each ``module.<name>`` return its frame (or the first frame
        of a returned tuple) with a row-count Observation attached, recorded
        under ``layer.name``. Spark fills the count in while the frame's
        first action runs, so counting costs no job of its own."""
        for name in names:
            self._replace(module, name, self._observed(getattr(module, name), f"{layer}.{name}"))

    def _observed(self, orig, key: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            out = orig(*a, **kw)
            obs = Observation()
            self.count(key, obs)
            if isinstance(out, tuple):
                return (out[0].observe(obs, F.count(F.lit(1)).alias("rows")), *out[1:])
            return out.observe(obs, F.count(F.lit(1)).alias("rows"))

        return wrapper

    def _replace(self, module, name: str, new) -> None:
        self._restore.append((module, name, getattr(module, name)))
        setattr(module, name, new)

    def unwrap(self) -> None:
        for module, name, orig in reversed(self._restore):
            setattr(module, name, orig)
        self._restore.clear()

    def dump(self, path: str, extra: dict) -> None:
        nest(self.spans)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, fh)


def nest(spans: list[Span]) -> None:
    """Set each span's parent to the smallest span that encloses it
    (ties broken by earlier start, then by list order)."""
    order = sorted(range(len(spans)), key=lambda i: (spans[i].start, -spans[i].end, i))
    stack: list[int] = []
    for i in order:
        s = spans[i]
        while stack and spans[stack[-1]].end < s.end:
            stack.pop()
        s.parent = stack[-1] if stack else None
        stack.append(i)


def innermost(spans: list[Span], t: float) -> Span | None:
    """The latest-starting span that holds time ``t``."""
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    nest(spans)
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.dur - union_length(kids.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------- processes


@dataclass
class ProcSample:
    cpu_s: dict[str, float]
    rss_mb: dict[str, float]
    pids: set[int]


KINDS = ("driver", "jvm", "pyworkers")


def process_kind(pid: int, root: int, comm: str) -> str:
    if pid == root:
        return "driver"
    return "jvm" if comm == "java" else "pyworkers"


def proc_tree() -> ProcSample:
    """CPU seconds and resident MB of this process and all its descendants,
    split by process kind: the driver's Python, the JVM, and everything
    else below it (the PySpark daemon and its Python workers).

    bench.py's ``_tree_cpu_seconds`` walks the same /proc/<pid>/stat fields
    but only gives a total, and it loses the CPU of a process that exits:
    the PySpark daemon forks and reaps Python workers mid-pass, which
    dropped a pass's Python-worker CPU from about 5 s to 0.3 s. So each
    process here also counts the CPU of the children it has reaped
    (cutime + cstime), which keeps the tree total monotone."""
    root = os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    page_mb = os.sysconf("SC_PAGE_SIZE") / MB
    procs: dict[int, tuple[int, str, float, float]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                data = fh.read()
        except OSError:
            continue  # raced a process exit
        lp, rp = data.index("("), data.rindex(")")
        fields = data[rp + 2:].split()
        procs[int(entry)] = (
            int(fields[1]),  # ppid
            data[lp + 1:rp],  # comm
            sum(int(f) for f in fields[11:15]) / tick,  # utime stime cutime cstime
            int(fields[21]) * page_mb,  # rss pages
        )
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out = ProcSample(dict.fromkeys(KINDS, 0.0), dict.fromkeys(KINDS, 0.0), set())
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            _ppid, comm, c, r = procs[pid]
            kind = process_kind(pid, root, comm)
            out.cpu_s[kind] += c
            out.rss_mb[kind] += r
            out.pids.add(pid)
            stack.extend(kids.get(pid, []))
    return out


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Resident memory of the process tree, total and per kind, sampled
    every ``RSS_INTERVAL_S`` on a background thread while running. ``peak_total`` is the 90th
    percentile of the samples: the true maximum swings by up to 2x from
    run to run with how many Python workers the daemon happens to have
    forked at one instant, so it is kept as ``max_total``."""

    def __init__(self):
        self.max_total = 0.0
        self.peak = dict.fromkeys(KINDS, 0.0)
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def peak_total(self) -> float:
        return statistics.quantiles(self.samples, n=10)[-1] if len(self.samples) > 1 else self.max_total

    def _sample(self) -> None:
        rss = proc_tree().rss_mb
        self.samples.append(sum(rss.values()))
        self.max_total = max(self.max_total, sum(rss.values()))
        for k, v in rss.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()


# ---------------------------------------------------------- spark stores


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL_RE = re.compile(r"\n\s*([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_metric_total(text: str) -> float:
    """The total of a Spark SQL size or timing metric as bytes or seconds.
    Spark formats them as 'total (min, med, max ...)\\n<total> (...)'; a
    metric updated by a single task has no header line."""
    m = _TOTAL_RE.search(text) or re.match(r"\s*([0-9][0-9.,]*)\s*([A-Za-z]+)", text)
    if not m:
        raise ValueError(f"unrecognized SQL metric value: {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")


PY_METRICS = {
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_exec_s",
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
}


class SparkStores:
    """Reads the app status store (jobs, stages, tasks) and the SQL status
    store (per-operator metrics) of a live session, serialized to JSON in
    the JVM so that one py4j call returns a whole list."""

    def __init__(self, spark):
        self._spark = spark
        sc = spark.sparkContext
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        out = []
        for j in self._json(self._store.jobsList(None)):
            if j.get("submissionTime") is None:
                continue
            out.append({
                "job": j["jobId"],
                "submit": j["submissionTime"] / 1000.0,
                "end": (j.get("completionTime") or j["submissionTime"]) / 1000.0,
                "stages": j["stageIds"],
                "tasks": j["numTasks"],
            })
        return out

    def stages(self) -> dict[int, dict]:
        st = self._store
        rows = self._json(st.stageList(
            None, False, False,
            getattr(st, "stageList$default$4")(), getattr(st, "stageList$default$5")(),
        ))
        out: dict[int, dict] = {}
        for s in rows:
            if s["status"] == "SKIPPED" or s.get("submissionTime") is None:
                continue
            rec = {
                "stage": s["stageId"],
                "attempt": s["attemptId"],
                "tasks": s["numTasks"],
                "run_s": s["executorRunTime"] / 1000.0,
                "cpu_s": s["executorCpuTime"] / 1e9,
                "input_bytes": s["inputBytes"],
                "output_bytes": s["outputBytes"],
                "shuffle_read_bytes": s["shuffleReadBytes"],
                "shuffle_write_bytes": s["shuffleWriteBytes"],
                "spill_bytes": s["memoryBytesSpilled"] + s["diskBytesSpilled"],
            }
            prev = out.get(s["stageId"])
            if prev is None or prev["attempt"] < rec["attempt"]:
                out[s["stageId"]] = rec
        return out

    def task_durations(self, stage: int, attempt: int) -> list[float]:
        rows = self._json(self._store.taskList(stage, attempt, 100_000))
        return [t["duration"] / 1000.0 for t in rows if t.get("duration") is not None]

    def sql_python(self) -> list[dict]:
        """Python-boundary metrics of each SQL execution that has any."""
        out = []
        for e in self._json(self._sql.executionsList()):
            names = {m["accumulatorId"]: m["name"] for m in e.get("metrics", [])}
            vals = e.get("metricValues") or {}
            rec = dict.fromkeys(PY_METRICS.values(), 0.0)
            hit = False
            for acc, text in vals.items():
                key = PY_METRICS.get(names.get(int(acc), ""))
                if key and text:
                    rec[key] += parse_metric_total(text)
                    hit = True
            if hit:
                rec["submit"] = e["submissionTime"] / 1000.0
                out.append(rec)
        return out


# ------------------------------------------------------------ attribution

TOTAL_KEYS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "input_mb",
    "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


def job_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Work of ``jobs``, summed over the stages each ran (skipped stages,
    whose output an earlier job already computed, are absent)."""
    t = dict.fromkeys(TOTAL_KEYS, 0.0)
    t["jobs"] = len(jobs)
    for j in jobs:
        for sid in j["stages"]:
            s = stages.get(sid)
            if s is None:
                continue
            t["stages"] += 1
            t["tasks"] += s["tasks"]
            t["exec_run_s"] += s["run_s"]
            t["exec_cpu_s"] += s["cpu_s"]
            t["input_mb"] += s["input_bytes"] / MB
            t["output_mb"] += s["output_bytes"] / MB
            t["shuffle_read_mb"] += s["shuffle_read_bytes"] / MB
            t["shuffle_write_mb"] += s["shuffle_write_bytes"] / MB
            t["spill_mb"] += s["spill_bytes"] / MB
    return t


def in_window(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    return [j for j in jobs if lo <= j["submit"] <= hi]


def driver_gap(jobs: list[dict], lo: float, hi: float) -> float:
    """Time in [lo, hi] during which no job ran: planning, driver-side
    collects, file listing and the gaps between jobs."""
    return (hi - lo) - union_length([(j["submit"], j["end"]) for j in jobs], lo, hi)


def window_report(jobs: list[dict], stages: dict[int, dict], lo: float, hi: float) -> dict:
    mine = in_window(jobs, lo, hi)
    rep = job_totals(mine, stages)
    rep["wall_s"] = hi - lo
    rep["driver_gap_s"] = driver_gap(mine, lo, hi)
    return rep


def by_layer(spans: list[Span], jobs: list[dict], stages: dict[int, dict]) -> dict[str, dict]:
    """Per-layer totals: each job counts once, for the layer of the
    innermost span open at its submission; self time and driver gap come
    from each span's own time outside its children."""
    layers: dict[str, dict] = {}
    owned: dict[int, list[dict]] = {}
    for j in jobs:
        s = innermost(spans, j["submit"])
        if s is not None:
            owned.setdefault(id(s), []).append(j)
    selfs = self_times(spans)
    for s, self_s in zip(spans, selfs):
        mine = owned.get(id(s), [])
        t = job_totals(mine, stages)
        t["self_s"] = self_s
        t["calls"] = 1
        # the span's own time with no job of its own running
        t["driver_gap_s"] = max(0.0, self_s - union_length(
            [(j["submit"], j["end"]) for j in mine], s.start, s.end))
        acc = layers.setdefault(s.layer, dict.fromkeys(t, 0.0))
        for k, v in t.items():
            acc[k] += v
    return layers
