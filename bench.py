#!/usr/bin/env python
"""Bench harness (driver contract, SURVEY.md §6 / BASELINE.md).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a ``noop``-format write — full
execution including shuffles, no driver-side collect cost, no result
materialization skew. One warmup of the smallest query primes the JVM
and the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the flagship reference pipeline + one representative per
# operator family (join, window, rollup, dedup, functions, LLM ops).
HEADLINE = [
    "agg_hourly_count",
    "rollup_daily_sum",
    "topk_contributors",
    "dedup_event_id",
    "join_inner_equi",
    "join_broadcast",
    "join_asof",
    "agg_grouping_sets",
    "window_rank_topk_per_group",
    "window_running_sum",
    "fn_higher_order",
    "fn_json_extract",
]
# Newly-landed catalog keys, benched OUTSIDE the fixed headline set so
# round-over-round baseline comparisons stay apples-to-apples (same
# policy as `pipelines`). Module-level so tests can pin the census.
#
# Graduation policy (r15): the parsed bench line must stay under the
# driver's tail capture (test_bench_final_line_fits_driver_tail_capture
# enforces 1,800 chars WITH five-component growth headroom), so
# components that have been flat for ≥3 rounds and were never flagged
# by a round's regression scan rotate OUT when the census needs room —
# their history lives in the committed BENCH_r*.json series; anything a
# VERDICT actively tracks stays. The admission/retirement log is
# BASELINE.md's "Census history".
COMPONENTS = [
    "llm_pq_codes",
    "stream_interval_join",
    "stream_interval_join_outer",
    "scan_python_source",
    "stream_python_source",
    "llm_multimodal_resize",
    "profile_table_approx",
    "merge_upsert",
    "join_bucketed_colocated",
    "gapfill_interp_reading",
    "llm_ivf_list_skew",
    "llm_dedup_semantic",
    "llm_dedup_incremental_semantic",
    "llm_dedup_incremental_indexed",
    "llm_dedup_incremental_semantic_indexed",
    "llm_mixture_weights",
    "llm_embed_random_projection",
    "llm_index_apply_diff",
    "llm_ivf_apply_diff",
    "llm_ann_ivf_pq_refine",
]
# Composed end-to-end pipelines (plans/pipelines.py), benched in their
# own section under job-sized parallelism — OUT of the headline total,
# same policy as COMPONENTS. Module-level so tests pin the census
# against the live list instead of rebuilding it by hand.
PIPELINES = [
    "dedup_e2e",
    "incremental_e2e",
]
# LLM-pipeline + streaming headliners (import-safe: skipped if absent).
OPTIONAL = [
    "agg_salted_hot_key",
    "sql_api_leaderboard",
    "llm_dedup_exact",
    "llm_text_stats",
    "llm_knn_bruteforce",
    "llm_dedup_minhash_lsh",
    "llm_dedup_clusters",
    "llm_fingerprint",
    "udf_pandas_scalar",
    "udf_apply_in_pandas",
    "stream_tumbling_hourly",
    "stream_dedup_watermark",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from pyspark.sql import SparkSession

    from github_event_etl_spark.session import ensure_session_defaults
    from github_event_etl_spark.plans.catalog import query_map

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("geetl-bench")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", cpus)
        .getOrCreate()
    )
    ensure_session_defaults(spark)
    spark.sparkContext.setLogLevel("ERROR")

    qmap = query_map()
    # Slot-less public twins (the r19 indexed-twin catalog
    # consolidation): demoted from the registry — their in-memory
    # twins hold the verified slots and a frame-equality pytest pins
    # identity — but they keep their component census seats, benched
    # via the module functions so the round-over-round component
    # series stays unbroken.
    from github_event_etl_spark.plans import queries_llm as _qllm

    for _twin in (
        "llm_dedup_incremental_indexed",
        "llm_dedup_incremental_semantic_indexed",
    ):
        qmap.setdefault(_twin, getattr(_qllm, _twin))
    names = [n for n in HEADLINE if n in qmap]
    names += [n for n in OPTIONAL if n in qmap]

    # Fault isolation: every warmup/measurement is fenced so one broken
    # query (or environment drift — round 3 lost the ENTIRE benchmark
    # to a single timestamp-footer change in the warmup path) degrades
    # to one missing entry, never an empty BENCH artifact.
    errors: dict[str, str] = {}

    def _guard(tag, fn):
        try:
            fn()
            return True
        except Exception as e:  # noqa: BLE001 — record and continue
            errors[tag] = f"{type(e).__name__}: {e}"[:300]
            print(f"bench: {tag} failed: {errors[tag]}", file=sys.stderr)
            return False

    # Warmup: prime codegen/JIT and the parquet footer cache.
    _guard("warmup", lambda: _force(qmap[names[0]](spark, sf_dir)))

    # Python-worker warmup (engine initialization, same footing as the
    # JVM/codegen warmup above): the first Arrow UDF task on each of
    # the N local cores forks a Python worker process (~30-40 ms each,
    # serialized enough to add ~1 s at local[32]). Workers are reused
    # afterwards (spark.python.worker.reuse default), so one tiny UDF
    # pass across all cores moves the fork cost out of the first
    # measured UDF query. A real cluster pays this once per executor
    # lifetime, not per query.
    if any(n.startswith("udf_") or n.startswith("udaf_") for n in names):

        def _warm_workers():
            from pyspark.sql import functions as _F

            from github_event_etl_spark.functions.python_surface import (
                token_count_vec,
            )

            _force(
                spark.range(int(cpus) * 4)
                .repartition(int(cpus))
                .select(token_count_vec(_F.lit("a b")))
            )

        _guard("udf_worker_warmup", _warm_workers)

    # Streaming warmup: materialize the replay source directory (test
    # harness setup — the streaming analog of the parquet inputs already
    # existing on disk) and run one bounded stream so micro-batch engine
    # and state-store initialization don't land inside the first
    # measured streaming query.
    if any(n.startswith("stream_") for n in names):

        def _warm_streaming():
            from github_event_etl_spark.streaming.replay import (
                events_replay_dir,
                events_replay_dir_by_type,
                events_replay_dir_with_dupes,
                read_event_stream,
                run_bounded,
            )

            src = events_replay_dir(spark, sf_dir)
            if "stream_dedup_watermark" in names:
                events_replay_dir_with_dupes(spark, sf_dir)
            # the stream-stream join components read per-topic dirs;
            # materialize them here so the one-time source build never
            # lands inside a measured rep (the warmup's whole purpose)
            for t in ("purchase", "view"):
                events_replay_dir_by_type(spark, sf_dir, t)
            warm = read_event_stream(spark, src).groupBy("event_type").count()
            run_bounded(warm, "complete", "bench_warmup")

        _guard("streaming_warmup", _warm_streaming)

    # Median of 3 warm repetitions per query. Round-over-round
    # comparisons on this host were dominated by background-load jitter
    # (±1.2-1.45× on untouched queries in one round); the median
    # suppresses one bad rep, and the reported min/max spread lets a
    # reader separate a real plan regression from noise. Each rep
    # rebuilds the plan (fresh analysis + codegen) so the measurement
    # stays comparable to earlier single-shot rounds.
    REPS = 3
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}

    def _bench_into(sink: dict, tag: str, fn) -> None:
        """THE measurement policy, shared by every section: REPS timed
        runs with per-rep fault isolation (break on first failure),
        median into `sink[tag]`, [min, max] into `spread[tag]`."""
        reps: list[float] = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            if _guard(tag, fn):
                reps.append(round(time.perf_counter() - t0, 3))
            else:
                break
        if reps:
            sink[tag] = sorted(reps)[len(reps) // 2]
            spread[tag] = [min(reps), max(reps)]

    for name in names:
        _bench_into(timings, name, lambda: _force(qmap[name](spark, sf_dir)))

    # End-to-end pipeline wall-clock (minhash → clusters → curation in
    # one composed plan): published as a SEPARATE section so the
    # headline total stays comparable to prior rounds' baselines.
    # Shuffle parallelism is sized to the job, as a real deployment
    # would: the pipeline is dozens of small stages (iterative cluster
    # rounds, span joins) over ~5k docs at sf0.1, where 32
    # partitions/stage pay more in task scheduling than they win in
    # parallelism (measured ~8.2 s at 32 → ~6.9 s at 16; 8 is flat vs
    # 16). Pinned around construction AND execution — the pipeline's
    # internal checkpoints run during construction, the final joins at
    # force time. Restored after.
    pipelines: dict[str, float] = {}

    def _with_pipeline_parallelism(fn):
        """One rep of a composed pipeline under the job-sized shuffle
        parallelism described above, conf restored after."""
        def rep():
            key = "spark.sql.shuffle.partitions"
            prev = spark.conf.get(key)
            spark.conf.set(key, "16")
            try:
                _force(fn(spark, sf_dir))
            finally:
                spark.conf.set(key, prev)

        return rep

    # Guarded import (the same fault isolation as every measurement):
    # a broken plans/pipelines.py must cost ONLY the pipelines section,
    # never abort main() before the final JSON line prints — the driver
    # parses the artifact from that line.
    _pipeline_fns: dict = {}

    def _load_pipelines():
        from github_event_etl_spark.plans.pipelines import (
            dedup_e2e_pipeline,
            incremental_e2e_pipeline,
        )

        _pipeline_fns.update(
            {
                "dedup_e2e": dedup_e2e_pipeline,
                "incremental_e2e": incremental_e2e_pipeline,
            }
        )
        assert set(_pipeline_fns) == set(PIPELINES), (
            "PIPELINES census drifted"
        )

    _guard("pipelines_import", _load_pipelines)

    # Pipeline-section warmup (same footing as the JVM/UDF/streaming
    # warmups above): the composite plans dozens of UNIQUE codegen
    # stages, so its first executions pay janino compilation plus the
    # C2 JIT ramp that the small headline queries amortize across their
    # shared scan/shuffle shapes. Measured at sf0.1: reps decay
    # 8.2 → 8.2 → 6.4 → 6.1 → 5.9 → 5.5 s and hold at ~5.5 s from rep
    # ~6 — the steady state a long-running cluster job actually sees.
    # Two untimed warmup reps move the measured median out of the ramp;
    # BASELINE.md's series notes the policy change at r10.
    # Each pipeline gets its OWN two untimed warmup reps — their stage
    # chains are disjoint sets of unique codegen stages, so each pays
    # its own janino + C2 ramp (the dedup_e2e measurement, r10).
    for pname in [n for n in PIPELINES if n in _pipeline_fns]:
        rep = _with_pipeline_parallelism(_pipeline_fns[pname])
        for _ in range(2):
            _guard(f"{pname}_warmup", rep)
        _bench_into(pipelines, pname, rep)

    components: dict[str, float] = {}
    # Fixture-layout warmup (the streaming-warmup rule: one-time
    # materializations happen OUTSIDE any measured window): BOTH
    # indexed-dedup keys write their band index on first touch of a
    # fresh scratch tree — without this, rep 1 on every fresh host
    # pays the full corpus banding/matmul + parquet write and the
    # component's published [min, max] spread records a spike
    # indistinguishable from host noise (seen for the semantic twin in
    # BENCH_r15's [2.867, 4.132]; ADVICE r15 item 1).
    for idx_name in (
        "llm_dedup_incremental_indexed",
        "llm_dedup_incremental_semantic_indexed",
        # write their prev-snapshot index on first touch, same rule
        "llm_index_apply_diff",
        "llm_ivf_apply_diff",
    ):
        if idx_name in qmap:
            _guard(
                f"indexed_fixture_warmup_{idx_name}",
                lambda n=idx_name: _force(qmap[n](spark, sf_dir)),
            )
    for name in [n for n in COMPONENTS if n in qmap]:
        _bench_into(
            components, name, lambda: _force(qmap[name](spark, sf_dir))
        )

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": REPS,
        "sf": sf_val,
    }
    if pipelines:
        out["pipelines"] = pipelines
    if components:
        out["components"] = components
    if errors:
        out["n_errors"] = len(errors)
    # The driver records only the LAST ~2,000 chars of stdout; round 8's
    # single line grew past that (spread + components) and the official
    # headline landed unparseable (BENCH_r08.json parsed:null). Contract
    # since round 9: `spread` and `errors` go on their OWN preceding
    # lines (the driver ignores them; tools/bench_gate.py recovers
    # spread from the raw tail when it survives there) and the final
    # driver-parsed line stays compact — it carries only an `n_errors`
    # count, and tests/test_bench_gate.py pins it under 1,800 chars.
    # Error details print FIRST (furthest from the tail's end): on the
    # runs where queries fail, the parsed line itself is what must
    # survive the capture, exactly as in a clean run.
    if errors:
        print(json.dumps({"errors": errors}))
    print(json.dumps({"spread": spread}))
    line = json.dumps(out)
    if len(line) > 1800:
        print(
            f"bench: WARNING final line {len(line)} chars > 1800 — "
            "driver tail capture may truncate it",
            file=sys.stderr,
        )
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
