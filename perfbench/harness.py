"""Measurement plumbing shared by the workloads: session set-up, the
peak-RSS sampler, the span tracer and the Spark event-log reader.

Nothing here touches the program's code. Tracing works from outside:
the tracer swaps a module attribute for a wrapper for the duration of a
traced pass, records a span around every call, gives each span its own
Spark job group, and (when asked) forces the returned DataFrame at the
boundary so a layer's time never includes the lazy work of its inputs.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import statistics
import subprocess
import threading
import time

# ----------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the maximum."""
    xs = sorted(xs)
    if not xs:
        return 0.0, 0.0
    if len(xs) < 11:
        return xs[-1], 100.0
    i = len(xs) - 11
    return xs[i], round(100.0 * (i + 1) / len(xs), 1)


# ------------------------------------------------------------------ processes


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of `root_pid` and all its descendants, from /proc:
    this Python process, the Spark JVM and its Python workers."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total


class RssSampler:
    """Background thread recording the peak of `tree_rss_bytes`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------- session


def start_session(tracer: "Tracer | None" = None):
    """get_spark + ensure_session_defaults exactly as shipped, plus the
    engine floor (a no-op write of spark.range(1)). Returns the session
    and the three timings in seconds."""
    from github_event_etl_spark.session import ensure_session_defaults, get_spark

    span = tracer.span if tracer else no_span
    t0 = time.perf_counter()
    with span("session.start", "session"):
        spark = get_spark()
        if tracer is not None:
            tracer.sc = spark.sparkContext
    t1 = time.perf_counter()
    with span("session.defaults", "session"):
        ensure_session_defaults(spark)
    t2 = time.perf_counter()
    with span("session.floor", "session"):
        spark.range(1).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, {"start": t1 - t0, "defaults": t2 - t1, "floor": t3 - t2}


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit, so the
    run leaves no process behind."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def effective_confs(spark) -> dict:
    keep = ("spark.master", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.driver.memory",
            "spark.sql.session.timeZone", "spark.eventLog.enabled",
            "spark.sql.execution.arrow.pyspark.enabled")
    conf = dict(spark.sparkContext.getConf().getAll())
    out = {k: conf.get(k) for k in keep if k in conf}
    out["spark.sql.shuffle.partitions"] = spark.conf.get(
        "spark.sql.shuffle.partitions")
    out["spark.version"] = spark.version
    return out


# ----------------------------------------------------------------------- spans


@contextlib.contextmanager
def no_span(*_args, **_attrs):
    yield None


class Span:
    __slots__ = ("id", "name", "layer", "parent", "start", "end", "attrs")

    def __init__(self, sid, name, layer, parent, attrs):
        self.id, self.name, self.layer, self.parent = sid, name, layer, parent
        self.attrs = dict(attrs)
        self.start = time.time()
        self.end = None


class Tracer:
    """In-memory spans with per-thread nesting. Each span sets its own
    Spark job group so the event log attributes engine work to it."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None  # set once the session exists
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.default_parent: int | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None):
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{self.run_id}:{span.id}", span.name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        stack = self._stack()
        parent = stack[-1].id if stack else self.default_parent
        with self._lock:
            s = Span(next(self._ids), name, layer, parent, attrs)
            self.spans.append(s)
        stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def count(self, df) -> int:
        """Row count of an already-forced frame, in its own span so the
        counting job is tracing overhead, never a layer's time."""
        with self.span("trace.count", "trace"):
            return df.count()

    @contextlib.contextmanager
    def patched(self, targets):
        """Swap module attributes for the duration of a traced pass.
        A target is (module, attr, replacement) or (module, attr, span
        name, layer, force): the latter wraps the function in a span and,
        with force set, materializes a returned DataFrame inside the span
        (localCheckpoint) and records its row count as `rows_out`."""
        saved = []
        try:
            for mod, attr, *how in targets:
                saved.append((mod, attr, getattr(mod, attr)))
                repl = how[0] if len(how) == 1 else self._wrap(
                    getattr(mod, attr), *how)
                setattr(mod, attr, repl)
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)

    def _wrap(self, fn, name, layer, force):
        from pyspark.sql import DataFrame

        def wrapper(*a, **kw):
            with self.span(name, layer) as s:
                out = fn(*a, **kw)
                forced = force and isinstance(out, DataFrame)
                if forced:
                    out = out.localCheckpoint(eager=True)
            if forced:
                s.attrs["rows_out"] = s.attrs.get("rows_out", 0) + self.count(out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    # --------------------------------------------------------------- results

    def self_times_ms(self) -> dict[int, float]:
        """Span duration minus the part of its interval covered by its
        children (on any thread)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            end = s.end if s.end is not None else time.time()
            ivs = sorted((max(c.start, s.start), min(c.end or end, end))
                         for c in kids.get(s.id, ()))
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s.id] = 1000.0 * ((end - s.start) - covered)
        return out

    def records(self, engine: dict[str, dict]) -> list[dict]:
        selfs = self.self_times_ms()
        return [
            {
                "run": self.run_id, "id": s.id, "name": s.name,
                "layer": s.layer, "parent": s.parent, "start": s.start,
                "end": s.end, "self_ms": round(selfs[s.id], 3),
                **({"attrs": s.attrs} if s.attrs else {}),
                "engine": engine.get(f"{self.run_id}:{s.id}", {}),
            }
            for s in self.spans
        ]


# ------------------------------------------------------------------ event log

ENGINE_KEYS = ("jobs", "stages", "tasks", "planning_ms", "run_ms", "cpu_ms",
               "gc_ms", "shuffle_write_bytes", "spill_bytes", "input_bytes",
               "input_records")


def read_event_logs(log_dir: str, span_start: dict[str, float]) -> dict:
    """Engine counters per job group from uncompressed, non-rolling Spark
    event logs. `span_start` maps job group -> span start (epoch s) for
    the planning estimate (span start to its first job's submission)."""
    stage_group: dict[int, str] = {}
    first_submit: dict[str, float] = {}
    acc: dict[str, dict] = {}

    def bucket(g):
        return acc.setdefault(g, dict.fromkeys(ENGINE_KEYS, 0))

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if path.endswith(".inprogress") and os.path.exists(path[:-11]):
            continue
        stage_group.clear()
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    b = bucket(g)
                    b["jobs"] += 1
                    sub = ev.get("Submission Time", 0) / 1000.0
                    first_submit[g] = min(first_submit.get(g, sub), sub)
                    for st in ev.get("Stage Infos", ()):
                        stage_group.setdefault(st["Stage ID"], g)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is not None and "Completion Time" in info:
                        bucket(g)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if g is None or not tm:
                        continue
                    b = bucket(g)
                    b["tasks"] += 1
                    b["run_ms"] += tm.get("Executor Run Time", 0)
                    b["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    b["gc_ms"] += tm.get("JVM GC Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
                    im = tm.get("Input Metrics") or {}
                    b["input_bytes"] += im.get("Bytes Read", 0)
                    b["input_records"] += im.get("Records Read", 0)
    for g, sub in first_submit.items():
        if g in span_start:
            bucket(g)["planning_ms"] = max(0.0, 1000.0 * (sub - span_start[g]))
    return acc
