"""Seeded benchmark of the github_event_etl_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: ingest_stream and corpus_increment (the two in
BENCHMARK.json), or `all` to run each in its own child process. Inputs
are generated from the seed into `.perfbench_work/inputs/` (cached per
seed and size, never timed); every other file a run writes, Spark's
included, stays under `.perfbench_work/`.

With `--trace 0` the run measures end-to-end metrics. Set-up is the
cold start of this process's session (get_spark, ensure_session_defaults
and the engine floor), the workload's one-time build and its warm-up
passes (the first one fully checked); `setup_s` sums those times,
leaving out the harness's own preparation and checks.
The run then times passes for `--seconds` (at least the workload's
minimum number) and reports medians; ingest_stream times one backlog
drain and then spends `--seconds` in its open-loop window. With
`--trace 1` it runs one untraced and one traced pass and reports
per-layer metrics: span self times, engine counters from the Spark
event log, and the tracing overhead.

The last stdout line is one JSON object: correct, attempted, failed and
metrics. The line before it is a fuller report: every metric with its
unit, each correctness gate, sample counts and the effective Spark confs.
The session comes from the package's own get_spark and
ensure_session_defaults; the harness sets no Spark conf of its own except
the event log in traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
NAMES = ("ingest_stream", "corpus_increment")
MAX_PASSES = 40
PASS_SPAN = "pass.traced"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "throughput_rps": "records/s",
    "latency_p50_s": "s", "latency_tail_s": "s",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size multiplier (1.0 = benchmark size)")
    ap.add_argument("--fail", default="",
                    help="self-test hook: name of a workload made to raise")
    return ap.parse_args(argv)


def _environment(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK."""
    # temp files of earlier runs (the package's per-session zip among
    # them) are dropped so the directory does not grow run after run
    tmp = _fresh(os.path.join(WORK, "tmp"))
    for d in (os.path.join(WORK, "spark-local"), os.path.join(WORK, "cwd")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    args = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        log_dir = _fresh(os.path.join(WORK, "eventlog"))
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file:{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    os.chdir(os.path.join(WORK, "cwd"))


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Run:
    """Bookkeeping for one workload run: operations attempted and
    failed, gate results, report-only metrics."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.gates: dict[str, bool] = {}
        self.errors: list[str] = []
        self.extra: dict[str, tuple[float, str]] = {}
        self.samples: dict = {}

    def op(self, fn, *a):
        """Run one operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def gate(self, gates: dict | None) -> None:
        if gates is None:
            return
        for k, ok in gates.items():
            self.gates[k] = self.gates.get(k, True) and bool(ok)
        if not all(gates.values()):
            self.failed += 1


def _one_pass(run, spark, tag, tracer=None, full=False):
    """Prepare (untimed), run (timed), check (untimed). Returns
    (wall seconds, result) or None if the pass raised."""
    from harness import no_span

    wl = run.wl

    def body():
        ctx = wl.prepare_pass(tag)
        with (tracer.span(PASS_SPAN, "harness") if tracer else no_span()):
            t0 = time.perf_counter()
            res = wl.run_pass(spark, ctx, tracer)
            wall = time.perf_counter() - t0
        gates = wl.check(spark, res, full)
        return wall, res, gates

    out = run.op(body)
    if out is None:
        return None
    wall, res, gates = out
    run.gate(gates)
    wl.cleanup_pass(res)
    return wall, res


def _measure(run, spark, seconds):
    walls = []
    while len(walls) < MAX_PASSES and (
            len(walls) < run.wl.min_passes or sum(walls) < seconds):
        out = _one_pass(run, spark, f"p{run.attempted}")
        if out is None and run.failed > MAX_PASSES // 4:
            break
        if out is not None:
            walls.append(out[0])
    return walls


def run_untraced(run, seconds):
    from harness import effective_confs, median, start_session, tail

    wl = run.wl
    t0 = time.perf_counter()
    spark, parts = start_session()
    t1 = time.perf_counter()
    wl.setup(spark)
    t2 = time.perf_counter()
    warm = [_one_pass(run, spark, f"warm{i}", full=i == 0)
            for i in range(wl.warmups)]
    warm_s = sum(w[0] for w in warm if w)
    # set-up: cold session, one-time build, warm-up passes (their
    # preparation and checks are the harness's own work, not counted)
    setup_s = (t2 - t0) + warm_s
    confs = effective_confs(spark)
    stream = wl.open_loop
    # ingest times its backlog drain, then spends `seconds` in the
    # open-loop window
    walls = _measure(run, spark, 0.0 if stream else seconds)
    lat, lat_kind = walls, "pass"
    if stream:
        ph = run.op(wl.extra_phase, spark, seconds)
        if ph is not None:
            lat, lat_kind = ph["latencies"], "file"
            run.attempted += len(ph["drops"]) - 1
            run.failed += len(ph["drops"]) - ph["committed_files"]
            run.gate(ph["gates"])
            run.extra["sustained_eps"] = (ph["sustained_eps"], "events/s")
            run.extra["loadgen.late_ms_tail"] = (ph["loadgen.late_ms_tail"], "ms")
            run.samples["open_batch_ms"] = [
                p["durationMs"].get("triggerExecution") for p in ph["progress"]
                if p.get("numInputRows")]
    wall = median(walls)
    tail_v, tail_pct = tail(lat)
    metrics = {
        "setup_s": setup_s,
        "wall_s": wall,
        "throughput_rps": wl.records / wall if wall else 0.0,
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
    }
    if stream:
        run.extra["capacity_eps"] = (metrics["throughput_rps"], "events/s")
    run.extra.update(wl.quality)
    run.extra.update({f"setup.{k}_s": (v, "s") for k, v in parts.items()})
    run.extra["setup.build_s"] = (t2 - t1, "s")
    run.extra["setup.warmup_s"] = (warm_s, "s")
    samples = {**run.samples, "passes": len(walls),
               "pass_walls_s": [round(w, 3) for w in walls],
               "latency": len(lat), "latency_unit": lat_kind,
               "latency_tail_percentile": tail_pct}
    return metrics, confs, samples


def run_traced(run, seconds, run_id):
    from harness import (ENGINE_KEYS, Tracer, effective_confs,
                         read_event_logs, start_session)

    wl = run.wl
    tracer = Tracer(run_id)
    with tracer.span("setup", "harness"):
        spark, parts = start_session(tracer)
        wl.setup(spark, tracer)
    confs = effective_confs(spark)
    for i in range(wl.warmups):
        _one_pass(run, spark, f"warm{i}", full=i == 0)
    plain = _one_pass(run, spark, "untraced")
    with tracer.patched(wl.trace_targets()):
        traced = _one_pass(run, spark, "traced", tracer)
    if plain and traced:
        run.gate(wl.traced_gates(plain[1], traced[1]))
    per = {}
    if wl.open_loop:
        ph = run.op(wl.extra_phase, spark, seconds)
        if ph is not None:
            run.gate(ph["gates"])
            wl.counts.update(open_progress=ph["progress"], drops=ph["drops"],
                             committed=ph["committed"])
            per["loadgen.late_ms_tail"] = ph["loadgen.late_ms_tail"]
            per["loadgen.files_dropped"] = ph["loadgen.files_dropped"]
    spark.stop()

    groups = {f"{run_id}:{s.id}": s.start for s in tracer.spans}
    engine = read_event_logs(os.path.join(WORK, "eventlog"), groups)
    root = next((s.id for s in tracer.spans if s.name == PASS_SPAN), None)
    view = SpanView(tracer, engine, root)
    per.update({f"session.{k}_ms": 1000.0 * v for k, v in parts.items()})
    per.update(wl.layer_metrics(view))
    for k in ENGINE_KEYS[:-2]:
        per[f"engine.{k}"] = view.eng(view.in_pass, k)
    if plain and traced:
        per["trace.overhead_s"] = traced[0] - plain[0]
        run.extra["wall_s.untraced"] = (plain[0], "s")
        run.extra["wall_s.traced"] = (traced[0], "s")
    # the traced wall splits into layer self times, the harness's own
    # time between layer calls, and the row counts the tracer adds
    per["trace.unattributed_ms"] = view.self_ms(PASS_SPAN)
    per["trace.self_sum_ms"] = sum(
        view.selfs[s.id] for s in tracer.spans
        if s.id in view.pass_ids and s.layer not in ("harness", "trace"))
    _write_trace(tracer, engine, wl.name)
    samples = {"spans": len(tracer.spans),
               "streaming_batches": per.get("streaming.batches", 0)}
    return per, confs, samples


class SpanView:
    """Queries over the recorded spans for the per-layer metrics."""

    def __init__(self, tracer, engine, pass_root):
        self.tracer, self.engine = tracer, engine
        self.selfs = tracer.self_times_ms()
        kids = {}
        for s in tracer.spans:
            kids.setdefault(s.parent, []).append(s.id)
        ids, todo = set(), [pass_root]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(kids.get(i, ()))
        self.pass_ids = ids
        self.in_pass = tuple(s.name for s in tracer.spans
                             if s.id in ids and s.layer != "trace")

    def _spans(self, names):
        names = (names,) if isinstance(names, str) else names
        return [s for s in self.tracer.spans if s.name in names]

    def self_ms(self, names) -> float:
        return sum(self.selfs[s.id] for s in self._spans(names))

    def total_ms(self, names) -> float:
        return sum(1000.0 * (s.end - s.start) for s in self._spans(names))

    def eng(self, names, key) -> float:
        run = self.tracer.run_id
        spans = self._spans(names)
        if names is self.in_pass:
            spans = [s for s in spans if s.id in self.pass_ids]
        return sum(self.engine.get(f"{run}:{s.id}", {}).get(key, 0)
                   for s in spans)

    def out_count(self, name) -> int:
        return sum(s.attrs.get("rows_out", 0) for s in self._spans(name))


def _write_trace(tracer, engine, name):
    out = os.path.join(WORK, "trace", f"{name}-{tracer.run_id}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(tracer.records(engine), f)


def _unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_row", "bytes"), ("_ratio", "ratio")):
        if any(part.endswith(suffix) for part in name.split(".")):
            return unit
    return "count"


def _per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def run_one(args) -> int:
    _environment(bool(args.trace))
    sys.path[:0] = [HERE, ROOT]
    from harness import RssSampler, stop_jvm
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](os.path.join(WORK, "inputs"), WORK,
                                  args.seed, args.size)
    wl.window_s = args.seconds
    t0 = time.perf_counter()
    wl.generate()
    wl.oracle()
    gen_s = time.perf_counter() - t0
    run = Run(wl)
    if args.fail == wl.name:
        def boom(*_a, **_k):
            raise RuntimeError("self-test: injected workload failure")
        wl.run_pass = boom
    metrics, confs, samples = {}, {}, {}
    with RssSampler() as rss:
        try:
            if args.trace:
                metrics, confs, samples = run_traced(
                    run, args.seconds, f"{args.seed}-{int(time.time())}")
            else:
                metrics, confs, samples = run_untraced(run, args.seconds)
        except Exception:
            run.attempted += 1
            run.failed += 1
            run.errors.append(traceback.format_exc(limit=6))
        finally:
            stop_jvm()
    if args.trace:
        units = _per_layer_names()
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in units.items()}
        # layers measured here but not listed in BENCHMARK.json still go
        # into the report line
        run.extra.update({k: (float(v), _unit_of(k)) for k, v in metrics.items()
                          if k not in units})
    else:
        run.extra["peak_rss_mb"] = (rss.peak / 2**20, "MB")
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in END_TO_END.items()}
    run.attempted = max(1, run.attempted)
    report = {
        "workload": wl.name, "seed": args.seed, "size": args.size,
        "trace": args.trace, "records": wl.records, "unit": wl.unit,
        "metrics": {**out, **{k: {"value": v, "unit": u}
                              for k, (v, u) in run.extra.items()},
                    "failed_ratio": {"value": run.failed / run.attempted,
                                     "unit": "ratio"},
                    "input_gen_s": {"value": gen_s, "unit": "s"}},
        "gates": run.gates, "samples": samples, "confs": confs,
        "errors": run.errors,
    }
    for e in run.errors:
        print(e, file=sys.stderr)
    print(json.dumps(report, sort_keys=True))
    correct = run.failed == 0 and all(run.gates.values()) and bool(run.gates)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


def run_all(args) -> int:
    """Each workload in its own child process; a child that raises or
    prints no result is counted as failed and the others still run."""
    results = {}
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--size", str(args.size),
               "--fail", args.fail]
        p = subprocess.run(cmd, capture_output=True, text=True)
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        try:
            results[name] = json.loads(lines[-1])
            print(lines[-2])
        except (IndexError, ValueError):
            results[name] = {"correct": False, "attempted": 1, "failed": 1,
                             "metrics": {}}
            sys.stderr.write(p.stderr[-4000:])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": v for n, r in results.items()
                    for k, v in r["metrics"].items()},
    }))
    return 0


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "github_event_etl_spark",
                                       "session.py")):
        print("perfbench: github_event_etl_spark/ is not in this checkout; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
