"""Self-test of the benchmark harness at tiny input sizes.

    python3 -m pytest perfbench/test_perfbench.py -q

The generator test needs no Spark and runs in seconds; the end-to-end
tests start Spark and take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SELFTEST = os.path.join(os.path.dirname(HERE), ".perfbench_work", "selftest")
TINY = 0.02


def _digests(root: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _build_all(root: str, seed: int) -> list[str]:
    return [
        gen.ingest_drops(root, seed, TINY, 8, 4),
        gen.increment_corpus(root, seed, TINY),
    ]


def test_same_seed_same_bytes_other_seed_other_bytes():
    roots = [os.path.join(SELFTEST, f"gen{i}") for i in range(3)]
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)
    a = _build_all(roots[0], 7)
    b = _build_all(roots[1], 7)
    c = _build_all(roots[2], 8)
    for da, db, dc in zip(a, b, c):
        ha, hb, hc = _digests(da), _digests(db), _digests(dc)
        assert ha and ha == hb, f"same seed, different bytes under {da}"
        data = [k for k in ha if k not in ("_DONE",)]
        assert any(ha[k] != hc.get(k) for k in data), (
            f"seeds 7 and 8 wrote identical inputs under {da}")


def _run(*args: str) -> list[dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        capture_output=True, text=True, timeout=900,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]


def test_untraced_all_workloads_tiny_with_one_failing():
    lines = _run("--workload", "all", "--seed", "3", "--seconds", "1",
                 "--size", str(TINY), "--fail", "corpus_increment")
    *reports, final = lines
    assert {r["workload"] for r in reports} == {"ingest_stream", "corpus_increment"}
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        e2e = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
    for r in reports:
        for name, unit in e2e.items():
            assert r["metrics"][name]["unit"] == unit
        assert all("unit" in m and "value" in m for m in r["metrics"].values())
        assert r["confs"]["spark.master"].startswith("local[")
        if r["workload"] == "corpus_increment":
            assert r["metrics"]["failed_ratio"]["value"] > 0
        else:
            assert r["gates"] and all(r["gates"].values()), r["gates"]
            assert r["metrics"]["failed_ratio"]["value"] == 0
    ingest = next(r for r in reports if r["workload"] == "ingest_stream")
    assert "loadgen.late_ms_tail" in ingest["metrics"]
    # the injected failure is counted, and the other workloads still ran
    assert final["correct"] is False
    assert 0 < final["failed"] < final["attempted"]


def test_traced_run_reports_every_per_layer_metric():
    *_, report, final = _run("--workload", "corpus_increment", "--seed", "3",
                             "--seconds", "1", "--size", str(TINY),
                             "--trace", "1")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    assert final["correct"] is True
    assert sorted(final["metrics"]) == sorted(names)
    m = final["metrics"]
    assert m["sources.rows_in"]["value"] > 0
    assert m["graph.cc_jobs"]["value"] > 0
    assert m["engine.jobs"]["value"] > 0
    assert report["confs"]["spark.eventLog.enabled"] == "true"
