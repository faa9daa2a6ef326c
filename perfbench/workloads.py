"""The benchmark workloads: ingest_stream and corpus_increment.

Each workload generates its inputs (untimed), computes its expected
outputs independently (DuckDB or ground-truth manifests, untimed), runs
timed passes through the program's public functions, and checks every
pass. A traced pass runs the same calls with a span around each layer
call and each layer's output forced at its boundary.

Calls go through module attributes (`scoring.hourly_scores`, not a
from-import) so the tracer's wrappers are the functions actually called.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import numpy as np

import gen
from harness import median, no_span, tail

KINDS = gen.SCORING_KINDS


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _n_files(path: str, suffix: str = ".parquet") -> int:
    return sum(f.endswith(suffix) for _r, _d, fs in os.walk(path) for f in fs)


def _fresh_dir(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


class Workload:
    name = ""
    unit = "records"
    warmups = 1  # untimed passes before timing; they count in set-up
    min_passes = 2  # timed passes, however long they take
    open_loop = False  # runs an open-loop phase after the timed passes

    def __init__(self, inputs_root: str, work: str, seed: int, size: float):
        self.inputs_root, self.work = inputs_root, work
        self.seed, self.size = seed, size
        self.records = 0
        self.counts: dict = {}
        self.quality: dict = {}

    def _manifest(self, path: str) -> dict:
        with open(os.path.join(path, "manifest.json")) as f:
            return json.load(f)

    def oracle(self) -> None:
        """Expected outputs, computed independently and untimed."""

    def setup(self, spark, tracer=None) -> None:
        """One-time preparation that belongs to set-up (index builds)."""

    def prepare_pass(self, tag: str):
        """Untimed per-pass preparation; returns the pass context."""
        return tag

    def cleanup_pass(self, res) -> None:
        """Untimed removal of what a pass wrote."""

    def trace_targets(self):
        """Module attributes the tracer wraps during a traced pass."""
        return []

    def traced_gates(self, plain, traced) -> dict:
        """Checks that the traced pass computed what the untraced one did."""
        return {}


def _daily_key(df) -> tuple:
    """Order-free canonical form of a (bucket_day, user_id, score) table."""
    day = np.asarray(df["bucket_day"]).astype(str)
    days = np.array([int(d.replace("-", "")) for d in day], dtype=np.int64)
    key = days * (1 << 32) + np.asarray(df["user_id"], dtype=np.int64)
    order = np.argsort(key, kind="stable")
    return key[order], np.asarray(df["score"], dtype=np.int64)[order]


def _same(a: tuple, b: tuple) -> bool:
    return all(np.array_equal(x, y) for x, y in zip(a, b))


# --------------------------------------------------------------- ingest_stream

# Offered load of the open-loop window: 8 files/s of ~25 lines, about
# 200 lines/s, a quarter of the ~740 lines/s the backlog drain measures
# on a 4-core x86 VM (Spark 4.1, local[4]). An open-loop micro-batch
# there takes ~4 s whether it holds ~800 or ~1,600 lines (measured at
# 200 and at 400 lines/s), so the window is far from saturation and
# latency shows per-batch fixed cost and trigger wait, not a growing
# queue.
_OPEN_RATE = 8.0
# the first files after the query starts wait behind its first
# micro-batch; they are dropped and committed but not timed
_PREROLL_S = 2.0
_BACKLOG_FILES = 12


class IngestStream(Workload):
    """Live ingest: NDJSON drop files -> read_event_stream -> 300 s
    watermark + dropDuplicatesWithinWatermark(event_id) -> foreachBatch
    {hourly_scores, day-partitioned append, merge.upsert into the daily
    rollup}. A pass drains a pre-dropped backlog as fast as the query
    can; the open-loop window then offers files at a fixed rate from a
    separate generator process."""

    name = "ingest_stream"
    unit = "events"
    open_loop = True
    min_passes = 1  # one drain after a full warm-up drain; latency comes
    # from the open-loop window

    def generate(self):
        self.preroll = int(_OPEN_RATE * _PREROLL_S)
        self.open_files = self.preroll + max(8, int(_OPEN_RATE * self.window_s))
        self.inp = gen.ingest_drops(self.inputs_root, self.seed, self.size,
                                    self.open_files, _BACKLOG_FILES)
        self.man = self._manifest(self.inp)
        self.records = self.man["backlog"]["lines"]

    def _expected(self, files):
        con = duckdb.connect()
        daily = con.execute(f"""
            WITH ev AS (
              SELECT DISTINCT ON (event_id) * FROM read_json(
                {files!r}, format='newline_delimited',
                columns={{'event_id': 'BIGINT', 'ts_us': 'BIGINT',
                          'user_id': 'BIGINT', 'event_type': 'VARCHAR',
                          'value': 'DOUBLE'}}))
            SELECT strftime(make_timestamp(ts_us), '%Y-%m-%d') AS bucket_day,
                   user_id, count(*)::BIGINT AS score
            FROM ev WHERE event_type IN {KINDS} GROUP BY ALL""").fetchnumpy()
        con.close()
        return _daily_key(daily)

    def oracle(self):
        self.exp_backlog = self._expected(
            os.path.join(self.inp, "backlog", "*.json"))

    def prepare_pass(self, tag):
        base = _fresh_dir(os.path.join(self.work, "out", f"{self.name}-{tag}"))
        shutil.copytree(os.path.join(self.inp, "backlog"),
                        os.path.join(base, "landing"))
        return base

    def _start(self, spark, land, base, trigger, tracer):
        from github_event_etl_spark.streaming import replay

        state = {"rollup": None}
        stream = (
            replay.read_event_stream(spark, land)
            .withWatermark("ts", "300 seconds")
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        fn = functools.partial(self._batch, spark, base, state, tracer)
        w = (stream.writeStream.foreachBatch(fn)
             .option("checkpointLocation", os.path.join(base, "ckpt")))
        w = w.trigger(availableNow=True) if trigger == "drain" else w
        return w.start(), state

    def _batch(self, spark, base, state, tracer, batch_df, batch_id):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from github_event_etl_spark.functions import predicates
        from github_event_etl_spark.operators import layout, merge, scoring

        span = tracer.span if tracer else no_span
        with span("streaming.batch", "streaming", batch=batch_id):
            if tracer is not None:
                # source read + watermark dedup, then the scoring-kind
                # filter, each forced in its own span so the scoring
                # span below times only the aggregation
                with span("streaming.source", "streaming"):
                    batch_df = batch_df.localCheckpoint(eager=True)
                rows_in = tracer.count(batch_df)
                with span("functions.filter", "functions"):
                    batch_df = batch_df.filter(predicates.is_scoring_event(
                        F.col("event_type"), KINDS)).localCheckpoint(eager=True)
                c = self.counts
                c["rows_in"] = c.get("rows_in", 0) + rows_in
                c["kept"] = c.get("kept", 0) + tracer.count(batch_df)
            hourly = scoring.hourly_scores(batch_df, kinds=KINDS)
            if tracer is None:  # the traced wrapper already forced it
                hourly = hourly.localCheckpoint(eager=True)
            if hourly.isEmpty():
                return  # a no-data batch that only advanced the watermark
            layout.write_day_partitioned(
                hourly.withColumn(
                    "hour_ts", F.to_timestamp("bucket_hour", "yyyy-MM-dd HH")),
                os.path.join(base, "hourly"), ts_col="hour_ts", mode="append")
            delta = scoring.daily_rollup(hourly).withColumn(
                "k", F.concat_ws(":", "bucket_day", F.col("user_id").cast("string")))
            if state["rollup"] is None:
                schema = T.StructType([
                    T.StructField("k", T.StringType()),
                    T.StructField("bucket_day", T.StringType()),
                    T.StructField("user_id", T.LongType()),
                    T.StructField("score", T.LongType()),
                ])
                base_df = spark.createDataFrame([], schema)
            else:
                base_df = spark.read.parquet(state["rollup"])
            changes = delta.join(
                base_df.select("k", F.col("score").alias("_old")), "k", "left"
            ).select("k", "bucket_day", "user_id",
                     (F.col("score") + F.coalesce("_old", F.lit(0))).alias("score"))
            merged = merge.upsert(base_df, changes, key="k")
            if tracer is not None:
                self.counts["rows_changed"] = self.counts.get(
                    "rows_changed", 0) + tracer.count(
                        merged.filter(F.col("action") != "keep"))
            path = os.path.join(base, "rollup", f"v{batch_id}")
            merged.drop("action").write.mode("overwrite").parquet(path)
            state["rollup"] = path

    def run_pass(self, spark, base, tracer=None):
        span = tracer.span if tracer else no_span
        land = os.path.join(base, "landing")
        with span("streaming.drain", "streaming") as s:
            if tracer is not None:
                tracer.default_parent = s.id
            q, state = self._start(spark, land, base, "drain", tracer)
            q.awaitTermination()
        if tracer is not None:
            tracer.default_parent = None
            self.counts["progress"] = [json.loads(p.json) for p in q.recentProgress]
            self.counts["bytes_in"] = _du(land)
            self.counts["bytes_out"] = _du(os.path.join(base, "hourly"))
            self.counts["files_written"] = _n_files(os.path.join(base, "hourly"))
        return {"state": state, "base": base}

    def check(self, spark, res, full: bool) -> dict:
        got = _daily_key(spark.read.parquet(res["state"]["rollup"]).toPandas())
        return {"rollup_matches_batch_dedup": _same(got, self.exp_backlog)}

    def cleanup_pass(self, res):
        shutil.rmtree(res["base"], ignore_errors=True)

    def extra_phase(self, spark, seconds, tracer=None) -> dict:
        """Open loop: a separate generator process drops `open_files`
        files at a fixed rate; each file's latency, after the pre-roll,
        runs from its due time to the commit of the micro-batch that
        scored it."""
        base = _fresh_dir(os.path.join(self.work, "out", f"{self.name}-open"))
        staging, land = os.path.join(base, "staging"), os.path.join(base, "landing")
        shutil.copytree(os.path.join(self.inp, "open"), staging)
        os.makedirs(land)
        q, state = self._start(spark, land, base, "open", tracer)
        report = os.path.join(base, "loadgen.json")
        start = time.time() + 1.0
        gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             staging, land, str(_OPEN_RATE), repr(start), report])
        try:
            gen_proc.wait(timeout=seconds + 60)
            deadline = time.time() + 60
            ckpt = os.path.join(base, "ckpt")
            while time.time() < deadline:
                if len(_committed_files(ckpt)) >= self.open_files:
                    break
                time.sleep(0.05)
            progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
                gen_proc.wait()
            q.stop()
        with open(report) as f:
            drops = json.load(f)
        committed = _committed_files(ckpt)
        commit_t = _commit_times(ckpt)
        lat, late_ms, n_committed = [], [], 0
        for i, d in enumerate(drops):
            late_ms.append(1000.0 * (d["actual"] - d["due"]))
            b = committed.get(d["file"])
            if b is not None and b in commit_t:
                n_committed += 1
                if i >= self.preroll:
                    lat.append(commit_t[b] - d["due"])
        exp = self._expected([os.path.join(land, d["file"]) for d in drops])
        got = _daily_key(spark.read.parquet(state["rollup"]).toPandas())
        last_commit = max(commit_t.values()) if commit_t else start
        out = {
            "latencies": lat,
            "committed_files": n_committed,
            "sustained_eps": self.man["open"]["lines"] / max(1e-9, last_commit - start),
            "loadgen.late_ms_tail": tail(late_ms)[0],
            "loadgen.files_dropped": len(drops),
            "gates": {
                "open_loop_rollup_matches_batch_dedup": _same(got, exp),
                "open_loop_every_file_committed": n_committed == self.open_files,
            },
            "progress": progress,
            "drops": drops,
            "committed": committed,
        }
        shutil.rmtree(base, ignore_errors=True)
        return out

    def trace_targets(self):
        from github_event_etl_spark.operators import layout, merge, scoring

        return [
            (scoring, "hourly_scores", "scoring.hourly", "scoring", True),
            (layout, "write_day_partitioned", "layout.write", "layout", False),
            (scoring, "daily_rollup", "scoring.rollup", "scoring", True),
            (merge, "upsert", "merge.upsert", "merge", True),
        ]

    def layer_metrics(self, sp):
        c = self.counts
        prog = [p for p in c.get("open_progress", []) if p.get("numInputRows")]
        batch_ms = [p["durationMs"].get("triggerExecution", 0) for p in prog]
        state_rows = state_bytes = dropped = 0
        for p in prog:
            for op in p.get("stateOperators", ()):
                state_rows = max(state_rows, op.get("numRowsTotal", 0))
                state_bytes = max(state_bytes, op.get("memoryUsedBytes", 0))
                dropped += op.get("customMetrics", {}).get(
                    "numDroppedDuplicateRows", 0)
        waits, lag = _trigger_waits(prog, c.get("drops", []),
                                    c.get("committed", {}))
        scoring_spans = ("scoring.hourly", "scoring.rollup")
        return {
            "streaming.source_ms": sp.self_ms("streaming.source"),
            "streaming.batch_self_ms": sp.self_ms("streaming.batch"),
            "functions.filter_ms": sp.self_ms("functions.filter"),
            "functions.keep_ratio": c.get("kept", 0) / max(1, c.get("rows_in", 0)),
            "scoring.hourly_ms": sp.self_ms("scoring.hourly"),
            "scoring.rollup_ms": sp.self_ms("scoring.rollup"),
            "scoring.groups_out": sp.out_count("scoring.hourly"),
            "scoring.shuffle_bytes": sp.eng(scoring_spans, "shuffle_write_bytes"),
            "scoring.spill_bytes": sp.eng(scoring_spans, "spill_bytes"),
            "layout.write_ms": sp.self_ms("layout.write"),
            "layout.files_written": c.get("files_written", 0),
            "layout.bytes_per_input_byte": (c.get("bytes_out", 0)
                                            / max(1, c.get("bytes_in", 0))),
            "merge.upsert_ms": sp.self_ms("merge.upsert"),
            "merge.rows_changed": c.get("rows_changed", 0),
            "streaming.batches": len(prog),
            "streaming.batch_ms_p50": median(batch_ms),
            "streaming.batch_ms_tail": tail(batch_ms)[0],
            "streaming.trigger_wait_ms": median(waits),
            "streaming.input_lag_files": lag,
            "streaming.state_rows": state_rows,
            "streaming.state_bytes": state_bytes,
            "streaming.dupes_dropped": dropped,
        }


def _committed_files(ckpt: str) -> dict[str, int]:
    """file name -> batch id, from the file source's metadata log, for
    batches whose commit log entry exists."""
    src = os.path.join(ckpt, "sources", "0")
    commits = os.path.join(ckpt, "commits")
    if not os.path.isdir(src) or not os.path.isdir(commits):
        return {}
    done = {int(n) for n in os.listdir(commits) if n.isdigit()}
    out = {}
    for n in os.listdir(src):
        if n.startswith("."):
            continue
        try:
            with open(os.path.join(src, n)) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # a log file still being written
            if e["batchId"] in done:
                out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _commit_times(ckpt: str) -> dict[int, float]:
    commits = os.path.join(ckpt, "commits")
    return {int(n): os.stat(os.path.join(commits, n)).st_mtime
            for n in os.listdir(commits) if n.isdigit()}


def _trigger_waits(progress, drops, committed):
    """Per file: time from its actual drop to the start of the batch
    that read it. Also the most files one batch found waiting."""
    from collections import Counter
    from datetime import datetime

    start_of = {
        p["batchId"]: datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")).timestamp()
        for p in progress
    }
    waits = [1000.0 * max(0.0, start_of[committed[d["file"]]] - d["actual"])
             for d in drops if committed.get(d["file"]) in start_of]
    per_batch = Counter(committed.values())
    return waits, max(per_batch.values(), default=0)


# ------------------------------------------------------------- corpus_increment

_DUP_KINDS = ("exact", "near", "semantic", "chain")


class CorpusIncrement(Workload):
    """The daily corpus increment against a persisted MinHash band
    index: classify the batch (incremental_e2e_classify: exact ->
    MinHash over the index -> semantic), cluster the resolved
    duplicates (dedup_clusters), quality-gate the new docs
    (quality_score) and fold the admitted ones into the band index as a
    delta generation (write_index_delta)."""

    name = "corpus_increment"
    unit = "docs"
    min_passes = 1  # one warm pass already takes longer than the window

    def generate(self):
        self.inp = gen.increment_corpus(self.inputs_root, self.seed, self.size)
        self.man = self._manifest(self.inp)
        self.records = self.man["batch"]
        self.snap = os.path.join(self.work, "out", f"{self.name}-snapshot")

    def oracle(self):
        """Quality score of every batch doc, restated from
        text_analysis.quality_score's documented formula."""
        import pyarrow.parquet as pq

        stop = {"the", "a", "of", "and", "to", "in", "is", "it", "on", "for"}
        tbl = pq.read_table(os.path.join(self.inp, "batch_docs.parquet"),
                            columns=["doc_id", "text"]).to_pydict()
        self.exp_q = {}
        for d, text in zip(tbl["doc_id"], tbl["text"]):
            toks = text.strip().lower().split()
            n = len(text)
            punct = sum(text.count(ch) for ch in ".,!?;:")
            q = (0.4 * min(n / 500.0, 1.0)
                 + 0.4 * min(4.0 * sum(t in stop for t in toks) / len(toks), 1.0)
                 + 0.2 * (1.0 - min(10.0 * punct / n, 1.0)))
            self.exp_q[d] = round(q, 6)

    def _frames(self, spark):
        from github_event_etl_spark.sources import tables

        return {n: tables.load_table(spark, self.inp, n) for n in (
            "corpus_docs", "batch_docs", "corpus_emb", "batch_emb")}

    def setup(self, spark, tracer=None):
        from github_event_etl_spark.operators import text_dedup

        span = tracer.span if tracer else no_span
        _fresh_dir(self.snap)
        with span("index_maintenance.build", "index_maintenance"):
            text_dedup.minhash_write_index(
                self._frames(spark)["corpus_docs"], os.path.join(self.snap, "mh"))

    def prepare_pass(self, tag):
        base = _fresh_dir(os.path.join(self.work, "out", f"{self.name}-{tag}"))
        shutil.copytree(os.path.join(self.snap, "mh"), os.path.join(base, "mh"))
        return base

    def run_pass(self, spark, base, tracer=None):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from github_event_etl_spark.operators import (
            graph, index_maintenance, text_analysis, text_dedup,
        )
        from github_event_etl_spark.plans import pipelines

        span = tracer.span if tracer else no_span
        f = self._frames(spark)
        if tracer is not None:
            with span("sources.scan", "sources"):
                f = {n: df.localCheckpoint(eager=True) for n, df in f.items()}
            self.counts["rows_in"] = sum(tracer.count(df) for df in f.values())
        mh = os.path.join(base, "mh")
        with span("index_maintenance.read", "index_maintenance"):
            banded = index_maintenance.read_index(spark, mh)
            if tracer is not None:
                banded = banded.localCheckpoint(eager=True)
        emb = ("vec_id", "embedding")
        orig = pipelines.incremental_dedup_minhash
        pipelines.incremental_dedup_minhash = functools.partial(
            orig, corpus_banded=banded)
        try:
            with span("pipelines.incremental_e2e", "pipelines"):
                verdicts = pipelines.incremental_e2e_classify(
                    f["corpus_docs"], f["batch_docs"],
                    f["corpus_emb"].select(*emb), f["batch_emb"].select(*emb),
                ).localCheckpoint(eager=True)
        finally:
            pipelines.incremental_dedup_minhash = orig
        dups = verdicts.filter(F.col("status") != "new")
        with span("graph.cc", "graph"):
            clusters = graph.dedup_clusters(
                dups.select(F.col("doc_id").alias("doc_a"),
                            F.col("matched_id").alias("doc_b")),
                dups.select("doc_id").unionByName(
                    dups.select(F.col("matched_id").alias("doc_id"))),
            ).select("doc_id", "cluster_id").collect()
        new = f["batch_docs"].join(
            verdicts.filter(F.col("status") == "new").select("doc_id"),
            "doc_id", "left_semi")
        with span("text_analysis.quality", "text_analysis"):
            admitted = new.filter(
                text_analysis.quality_score(F.col("text")) >= pipelines._QUALITY_MIN
            ).select("doc_id").localCheckpoint(eager=True)
        diff = admitted.select(
            "doc_id", F.lit("added").alias("change_type"),
            F.lit(None).cast(T.ArrayType(T.StringType())).alias("changed_cols"))
        cur_docs = f["corpus_docs"].unionByName(
            f["batch_docs"].join(admitted, "doc_id", "left_semi"))
        band_fn = functools.partial(
            text_dedup._band_keys,
            bands_vec=text_dedup.minhash_band_buckets_vec(4, 3, 3))
        with span("index_maintenance.apply", "index_maintenance"):
            index_maintenance.write_index_delta(mh, diff, cur_docs, band_fn)
        rows = [tuple(r) for r in verdicts.select(
            "doc_id", "stage", "status").collect()]
        admitted_ids = {r[0] for r in admitted.collect()}
        if tracer is not None:
            self.counts["delta_bytes"] = _du(os.path.join(mh, "_delta"))
            self.counts["admitted"] = len(admitted_ids)
            self.counts["new"] = sum(r[2] == "new" for r in rows)
            self.counts["clusters"] = len({r[1] for r in clusters})
        return {"verdicts": rows, "admitted": admitted_ids,
                "clusters": dict(clusters), "base": base}

    def check(self, spark, res, full: bool) -> dict:
        from github_event_etl_spark.operators import index_maintenance

        planted, source = self.man["planted"], self.man["source"]
        verdict, multi = {}, False
        for doc_id, _stage, status in res["verdicts"]:
            multi |= doc_id in verdict
            verdict[doc_id] = status
        dups = [d for k in _DUP_KINDS for d in planted[k]]
        recall = sum(verdict.get(d, "new") != "new" for d in dups) / max(1, len(dups))
        cl = res["clusters"]
        clustered = sum(cl.get(d) is not None and cl.get(d) == cl.get(source[str(d)])
                        for d in dups) / max(1, len(dups))
        clean = set(planted["new"])
        false_dups = sum(verdict.get(d) != "new" for d in clean)
        admitted = res["admitted"]
        exp_admitted = {d for d, q in self.exp_q.items()
                        if q >= 0.5 and verdict.get(d) == "new"}
        self.quality = {"dup_recall": (recall, "ratio"),
                        "cluster_recall": (clustered, "ratio"),
                        "false_dup_docs": (false_dups, "count")}
        gates = {
            "one_verdict_per_batch_doc": not multi and len(verdict) == self.records,
            "dup_recall_ge_0.9": recall >= 0.9,
            "dups_clustered_with_source_ge_0.9": clustered >= 0.9,
            "false_dups_le_5pct": false_dups <= 0.05 * max(1, len(clean)),
            "junk_rejected": not admitted & set(planted["junk"]),
            "admitted_match_quality_formula": admitted == exp_admitted,
        }
        if full:
            ids = index_maintenance.read_index(spark, os.path.join(
                res["base"], "mh")).select("doc_id").distinct().count()
            gates["index_holds_corpus_plus_admitted"] = (
                ids == self.man["corpus"] + len(admitted))
        return gates

    def cleanup_pass(self, res):
        shutil.rmtree(res["base"], ignore_errors=True)

    def traced_gates(self, plain, traced) -> dict:
        same = (sorted(plain["verdicts"]) == sorted(traced["verdicts"])
                and plain["admitted"] == traced["admitted"]
                and plain["clusters"] == traced["clusters"])
        return {"traced_result_equals_untraced": same}

    def trace_targets(self):
        from github_event_etl_spark.plans import pipelines

        return [
            (pipelines, "incremental_dedup", "stage.exact", "text_dedup", True),
            (pipelines, "incremental_dedup_minhash", "stage.minhash", "text_dedup", True),
            (pipelines, "incremental_dedup_semantic", "stage.semantic", "similarity", True),
        ]

    def layer_metrics(self, sp):
        c = self.counts
        return {
            "sources.scan_ms": sp.self_ms("sources.scan"),
            "sources.rows_in": c.get("rows_in", 0),
            "sources.bytes_in": sum(_du(os.path.join(self.inp, f"{n}.parquet"))
                                    for n in ("corpus_docs", "batch_docs",
                                              "corpus_emb", "batch_emb")),
            "sources.cpu_ms": sp.eng("sources.scan", "cpu_ms"),
            "text_dedup.classify_ms": sp.self_ms(("stage.exact", "stage.minhash")),
            "graph.cc_ms": sp.self_ms("graph.cc"),
            "graph.cc_jobs": sp.eng("graph.cc", "jobs"),
            "graph.clusters": c.get("clusters", 0),
            "text_analysis.quality_ms": sp.self_ms("text_analysis.quality"),
            "text_analysis.admit_ratio": c.get("admitted", 0) / max(1, c.get("new", 0)),
            "similarity.semantic_ms": sp.self_ms("stage.semantic"),
            "index_maintenance.build_ms": sp.self_ms("index_maintenance.build"),
            "index_maintenance.read_ms": sp.self_ms("index_maintenance.read"),
            "index_maintenance.apply_ms": sp.self_ms("index_maintenance.apply"),
            "index_maintenance.bytes_per_changed_row":
                c.get("delta_bytes", 0) / max(1, c.get("admitted", 0)),
            "pipelines.stage_ms.exact": sp.self_ms("stage.exact"),
            "pipelines.stage_ms.minhash": sp.self_ms("stage.minhash"),
            "pipelines.stage_ms.semantic": sp.self_ms("stage.semantic"),
            "pipelines.checkpoint_ms": sp.self_ms("pipelines.incremental_e2e"),
        }


WORKLOADS = {w.name: w for w in (IngestStream, CorpusIncrement)}
