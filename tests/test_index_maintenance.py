"""operators/index_maintenance.py — maintaining a materialized band
index from a snapshot_diff change log instead of rebuilding it.

Covers the pure frame layer (apply_index_diff ≡ from-scratch banding
of the current snapshot, for BOTH index families — MinHash text and
RHP embedding), the physical merge-on-read layer (write_index_delta /
read_index over generations, including empty-sided and uncommitted
generations), and the change-sized plan shape."""

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from github_event_etl_spark.operators.index_maintenance import (
    _committed_generations,
    apply_index_diff,
    compact_index,
    read_index,
    write_index_delta,
)
from github_event_etl_spark.operators.merge import snapshot_diff
from github_event_etl_spark.operators.text_dedup import (
    _band_keys,
    minhash_band_buckets_vec,
    minhash_write_index,
)

DOCS_SCHEMA = "doc_id long, text string"


def _mh_band_fn():
    vec = minhash_band_buckets_vec(num_bands=2, rows_per_band=2, k=2)
    return lambda d: _band_keys(d, vec)


def _prev_cur(spark):
    """Hand-built snapshots exercising all verdicts: 1 unchanged,
    2 changed, 3 removed, 4 added, plus a doc (5) whose text is empty
    in both (the empty-shingle banding path stays maintained too)."""
    prev = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four"),
            (3, "to be removed entirely"),
            (5, ""),
        ],
        DOCS_SCHEMA,
    )
    cur = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five six"),
            (4, "freshly crawled document text"),
            (5, ""),
        ],
        DOCS_SCHEMA,
    )
    return prev, cur


def _rows(df):
    return {(r.doc_id, r.band, r.bucket) for r in df.collect()}


def _base_mtimes(path):
    """mtime snapshot of the BASE data files — `_delta` generations and
    the `_manifest.json` commit metadata excluded (the manifest is
    rewritten on every commit by design; the claim under test is that
    base DATA partitions are never rewritten)."""
    return {
        os.path.relpath(os.path.join(root, f), path):
            os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(path)
        if "_delta" not in root
        for f in files
        if not f.startswith("_manifest")
    }


def test_apply_index_diff_equals_rebuild_minhash(spark):
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    diff = snapshot_diff(prev, cur, "doc_id", ["text"])
    maintained = apply_index_diff(band_fn(prev), diff, cur, band_fn)
    assert _rows(maintained) == _rows(band_fn(cur))
    # the diff genuinely fired every verdict (non-vacuous fixture)
    kinds = {r.change_type for r in diff.collect()}
    assert kinds == {"added", "removed", "changed"}


def test_apply_index_diff_empty_diff_is_identity(spark):
    band_fn = _mh_band_fn()
    prev, _ = _prev_cur(spark)
    diff = snapshot_diff(prev, prev, "doc_id", ["text"])
    assert diff.count() == 0
    maintained = apply_index_diff(band_fn(prev), diff, prev, band_fn)
    assert _rows(maintained) == _rows(band_fn(prev))


def test_apply_index_diff_equals_rebuild_rhp(spark):
    """The operator is index-family-generic: the RHP embedding index
    (similarity.rhp_write_index's projection) maintains through the
    SAME apply_index_diff — only band_fn differs."""
    from github_event_etl_spark.operators.similarity import rhp_signatures

    dim, tables, planes = 4, 3, 2
    sig_fn = rhp_signatures(dim, tables, planes)

    def band_fn(d):
        return d.select(
            "doc_id",
            F.posexplode(sig_fn(F.col("v"))).alias("band", "bucket"),
        )

    def vecs(spark, rows):
        return spark.createDataFrame(rows, "doc_id long, v array<double>")

    prev = vecs(spark, [
        (1, [1.0, 0.0, 0.5, -0.25]),
        (2, [0.0, 1.0, -1.0, 2.0]),
        (3, [-1.0, -1.0, 0.0, 0.0]),
    ])
    cur = vecs(spark, [
        (1, [1.0, 0.0, 0.5, -0.25]),   # unchanged
        (2, [9.0, -3.0, 1.0, 0.0]),    # re-embedded
        (4, [0.25, 0.25, 0.25, 0.25]),  # added
    ])
    # vectors diff on the embedding column itself (array eqNullSafe)
    diff = snapshot_diff(prev, cur, "doc_id", ["v"])
    maintained = apply_index_diff(band_fn(prev), diff, cur, band_fn)
    assert _rows(maintained) == _rows(band_fn(cur))
    assert {r.change_type for r in diff.collect()} == {
        "added", "removed", "changed",
    }


def test_write_read_index_delta_end_to_end(spark, tmp_path):
    """The physical loop the snapshot-diff docstring promises: write
    the prev index, apply TWO successive diffs as delta generations,
    and the folded read equals a from-scratch index of the final
    snapshot — base band partitions never rewritten (their files'
    mtimes are untouched across both maintenance rounds)."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five six"),
            (4, "freshly crawled document text, edited again"),
            (6, "a second brand new doc"),
        ],  # 5 removed, 4 changed, 6 added vs cur
        DOCS_SCHEMA,
    )
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    base_files = _base_mtimes(path)

    g1 = write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    g2 = write_index_delta(
        path, snapshot_diff(cur, nxt, "doc_id", ["text"]), nxt, band_fn
    )
    assert (g1, g2) == (1, 2)
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))
    assert _base_mtimes(path) == base_files, (
        "maintenance rewrote base partitions"
    )


def test_index_delta_empty_sides(spark, tmp_path):
    """An all-added diff writes an EMPTY tombstone set and an
    all-removed diff an EMPTY append set — both must read back (the
    explicit-schema path; inference would throw on the empty dirs)."""
    band_fn = _mh_band_fn()
    prev, _ = _prev_cur(spark)
    added_only = spark.createDataFrame(
        [(7, "entirely new content here")], DOCS_SCHEMA
    )
    grown = prev.unionByName(added_only)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    write_index_delta(
        path, snapshot_diff(prev, grown, "doc_id", ["text"]), grown, band_fn
    )
    assert _rows(read_index(spark, path)) == _rows(band_fn(grown))
    # now shrink back: removal-only generation (empty appends)
    write_index_delta(
        path, snapshot_diff(grown, prev, "doc_id", ["text"]), prev, band_fn
    )
    assert _rows(read_index(spark, path)) == _rows(band_fn(prev))


def test_index_delta_uncommitted_generation_ignored(spark, tmp_path):
    """Crash safety under the manifest protocol: a generation the
    manifest does not name is invisible to the reader NO MATTER how
    complete its data trees look — even with parquet _SUCCESS markers
    present (a dead writer staged it; the atomic manifest write that
    would have committed it never happened)."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    # simulate an interrupted gen=2: appends committed, tombstones not
    gen2 = os.path.join(path, "_delta", "gen=2")
    band_fn(cur).select("doc_id", "band", "bucket").write.partitionBy(
        "band"
    ).parquet(os.path.join(gen2, "appends"))
    os.makedirs(os.path.join(gen2, "tombstones"), exist_ok=True)
    assert [os.path.basename(p) for p in _committed_generations(path)] == [
        "gen=1"
    ]
    assert _rows(read_index(spark, path)) == _rows(band_fn(cur))
    # a "committed" gen=3 behind the gap must NOT fold either
    os.rename(gen2, os.path.join(path, "_delta", "gen=3"))
    open(
        os.path.join(path, "_delta", "gen=3", "tombstones", "_SUCCESS"), "w"
    ).close()
    assert [os.path.basename(p) for p in _committed_generations(path)] == [
        "gen=1"
    ]
    assert _rows(read_index(spark, path)) == _rows(band_fn(cur))


VECS_SCHEMA = "vec_id long, embedding array<double>"


def _ivf_fixture(spark):
    """Hand-built embedding snapshots + a FROZEN caller-supplied
    centroid table (the trained-quantizer contract): doc 1 unchanged,
    2 re-embedded ACROSS lists (c2 → c3), 3 removed, 4 added."""
    from github_event_etl_spark.operators.similarity import (
        ivf_assign_with_centroids,
    )

    centroids = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0]), (30, [-1.0, 0.0])],
        "centroid_id long, c_vec array<double>",
    )
    prev = spark.createDataFrame(
        [
            (1, [0.9, 0.1]),
            (2, [0.1, 0.9]),
            (3, [0.6, 0.4]),
        ],
        VECS_SCHEMA,
    )
    cur = spark.createDataFrame(
        [
            (1, [0.9, 0.1]),
            (2, [-0.9, 0.1]),
            (4, [-0.8, -0.1]),
        ],
        VECS_SCHEMA,
    )

    def assign_fn(d):
        return ivf_assign_with_centroids(d, centroids).select(
            "vec_id", "centroid_id"
        )

    return prev, cur, assign_fn


def _ivf_rows(df):
    return {(int(r.vec_id), int(r.centroid_id)) for r in df.collect()}


def test_apply_index_diff_equals_rebuild_ivf(spark):
    """Third index family through the SAME operator: the IVF
    (vec_id, centroid_id) assignment index — apply_index_diff takes
    its column list from prev_index, so the two-column shape maintains
    without any band/bucket assumption. The fixture's re-embed moves
    doc 2 across inverted lists (c2 → c3), so the anti-join really
    evicts a list member and the re-assignment really files it
    elsewhere."""
    prev, cur, assign_fn = _ivf_fixture(spark)
    diff = snapshot_diff(prev, cur, "vec_id", ["embedding"])
    maintained = apply_index_diff(
        assign_fn(prev), diff, cur, assign_fn, key="vec_id"
    )
    assert _ivf_rows(maintained) == _ivf_rows(assign_fn(cur))
    assert {r.change_type for r in diff.collect()} == {
        "added", "removed", "changed",
    }
    # the re-embed crossed lists: doc 2's assignment differs prev→cur
    prev_cid = dict(_ivf_rows(assign_fn(prev)))
    cur_cid = dict(_ivf_rows(assign_fn(cur)))
    assert prev_cid[2] != cur_cid[2], (prev_cid, cur_cid)


def test_write_read_index_delta_ivf_layout(spark, tmp_path):
    """The physical merge-on-read layer over the inverted-list layout:
    base and appends both partitioned by centroid_id
    (value_cols/partition_col generalization), one maintenance
    generation, folded read equals a from-scratch assignment of the
    current snapshot — base list directories never rewritten."""
    prev, cur, assign_fn = _ivf_fixture(spark)
    path = str(tmp_path / "ivf")
    assign_fn(prev).write.partitionBy("centroid_id").parquet(path)
    base_files = _base_mtimes(path)
    write_index_delta(
        path,
        snapshot_diff(prev, cur, "vec_id", ["embedding"]),
        cur,
        assign_fn,
        key="vec_id",
        value_cols=("centroid_id",),
        partition_col="centroid_id",
    )
    assert _ivf_rows(read_index(spark, path, key="vec_id")) == _ivf_rows(
        assign_fn(cur)
    )
    assert _base_mtimes(path) == base_files, (
        "maintenance rewrote base list dirs"
    )
    # compaction generalizes to the list layout too: fold the
    # generation into a fresh centroid-partitioned base
    assert compact_index(spark, path, key="vec_id",
                         partition_col="centroid_id") == 1
    assert not os.path.isdir(os.path.join(path, "_delta"))
    assert _ivf_rows(read_index(spark, path, key="vec_id")) == _ivf_rows(
        assign_fn(cur)
    )


def test_write_index_delta_retries_over_stranded_generation(
    spark, tmp_path
):
    """Retry safety: a writer that died mid-generation leaves gen=N
    present but uncommitted; the retry recomputes the same N and must
    clear the residue instead of tripping over errorifexists. A
    COMMITTED generation is never touched — the counter points past
    it."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    # strand gen=1: appends written and committed, tombstones missing
    gen1 = os.path.join(path, "_delta", "gen=1")
    band_fn(cur).select("doc_id", "band", "bucket").write.partitionBy(
        "band"
    ).parquet(os.path.join(gen1, "appends"))
    assert _committed_generations(path) == []
    g = write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    assert g == 1
    assert _rows(read_index(spark, path)) == _rows(band_fn(cur))


def test_refresh_index_from_change_stream(spark, tmp_path):
    """The streaming end state of the refresh loop: two micro-batches
    of CDC change rows (diff verdict + new-doc payload on the SAME
    row) apply two maintenance generations through foreachBatch, and
    the folded read equals a from-scratch index of the final snapshot.
    Then the at-least-once story: re-applying the LAST batch's change
    set (the redelivery foreachBatch can produce) adds a generation
    but leaves the folded state unchanged."""
    from github_event_etl_spark.operators.index_maintenance import (
        refresh_index_from_change_stream,
    )

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five six"),
            (4, "freshly crawled document text, edited again"),
            (6, "a second brand new doc"),
        ],
        DOCS_SCHEMA,
    )

    def changes(a, b):
        # CDC rows: verdict + the new snapshot's payload (null for
        # removed keys — band_fn never sees them)
        return (
            snapshot_diff(a, b, "doc_id", ["text"])
            .select("doc_id", "change_type")
            .join(b.select("doc_id", "text"), "doc_id", "left")
            .select("doc_id", "change_type", "text")
        )

    src = tmp_path / "changes"
    src.mkdir()
    f1, f2 = str(src / "b1.json"), str(src / "b2.json")
    batch1 = changes(prev, cur).toPandas()
    batch2 = changes(cur, nxt).toPandas()
    batch1.to_json(f1, orient="records", lines=True)
    batch2.to_json(f2, orient="records", lines=True)
    # the file source replays oldest-mtime-first; pin the order
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))

    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    stream = (
        spark.readStream.schema("doc_id long, change_type string, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    refresh_index_from_change_stream(
        stream, path, band_fn, checkpoint_dir=str(tmp_path / "ckpt")
    )
    assert len(_committed_generations(path)) == 2
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))
    # redelivery of the last change set: extra generation, same state.
    # EXACT row counts, not just the row set — a fold that duplicated
    # a redelivered 'added' key's rows (the tombstone-every-diff-key
    # rule exists to prevent it) would survive a set comparison.
    b2 = spark.createDataFrame(batch2, "doc_id long, change_type string, text string")
    assert write_index_delta(path, b2, b2, band_fn) == 3
    redelivered = read_index(spark, path)
    assert _rows(redelivered) == _rows(band_fn(nxt))
    assert redelivered.count() == band_fn(nxt).count()


def test_refresh_stream_coalesced_batch_reconciles(spark, tmp_path):
    """The coalescing-trigger deployment path: BOTH change-log drops
    land in ONE micro-batch (no maxFilesPerTrigger pin), each row
    carrying its drop sequence — reconcile_order_col nets the batch to
    one row per key before the generation is written, so the folded
    read still equals a from-scratch index of the final snapshot. The
    same coalesced batch WITHOUT reconciliation trips the uniqueness
    guard instead of corrupting the index."""
    from github_event_etl_spark.operators.index_maintenance import (
        refresh_index_from_change_stream,
    )

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "final text for doc two"),
            (6, "added then kept"),
        ],  # vs cur: 2 changed, 4+5 removed, 6 added
        DOCS_SCHEMA,
    )

    def changes(a, b, seq):
        return (
            snapshot_diff(a, b, "doc_id", ["text"])
            .select("doc_id", "change_type")
            .join(b.select("doc_id", "text"), "doc_id", "left")
            .select(
                "doc_id", "change_type", "text", F.lit(seq).alias("seq")
            )
        )

    src = tmp_path / "coalesced"
    src.mkdir()
    changes(prev, cur, 1).toPandas().to_json(
        str(src / "d1.json"), orient="records", lines=True
    )
    changes(cur, nxt, 2).toPandas().to_json(
        str(src / "d2.json"), orient="records", lines=True
    )
    schema = "doc_id long, change_type string, text string, seq int"

    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    refresh_index_from_change_stream(
        spark.readStream.schema(schema).json(str(src)),  # ONE batch
        path,
        band_fn,
        checkpoint_dir=str(tmp_path / "ckpt"),
        reconcile_order_col="seq",
    )
    assert len(_committed_generations(path)) == 1
    folded = read_index(spark, path)
    assert _rows(folded) == _rows(band_fn(nxt))
    assert folded.count() == band_fn(nxt).count()

    # same coalesced input, no reconciliation: the guard fails fast
    path2 = str(tmp_path / "idx2")
    minhash_write_index(prev, path2, num_bands=2, rows_per_band=2, k=2)
    with pytest.raises(Exception, match="more than once"):
        refresh_index_from_change_stream(
            spark.readStream.schema(schema).json(str(src)),
            path2,
            band_fn,
            checkpoint_dir=str(tmp_path / "ckpt2"),
        )


def test_refresh_stream_skips_generation_when_batch_nets_to_nothing(
    spark, tmp_path
):
    """A coalesced window whose every key was added then removed nets
    to an EMPTY change set — the refresh must skip the generation
    (an empty gen would tax every later read with a no-op fold until
    compaction), and the index must read back exactly as written."""
    from github_event_etl_spark.operators.index_maintenance import (
        refresh_index_from_change_stream,
    )

    band_fn = _mh_band_fn()
    prev, _ = _prev_cur(spark)
    rows = [
        (40, "added", "ephemeral doc", 1),
        (40, "removed", None, 2),
        (41, "added", "another transient", 1),
        (41, "removed", None, 2),
    ]
    src = tmp_path / "transient"
    src.mkdir()
    import pandas as pd

    pd.DataFrame(
        rows, columns=["doc_id", "change_type", "text", "seq"]
    ).to_json(str(src / "d.json"), orient="records", lines=True)

    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    refresh_index_from_change_stream(
        spark.readStream.schema(
            "doc_id long, change_type string, text string, seq int"
        ).json(str(src)),
        path,
        band_fn,
        checkpoint_dir=str(tmp_path / "ckpt"),
        reconcile_order_col="seq",
    )
    assert _committed_generations(path) == []
    assert _rows(read_index(spark, path)) == _rows(band_fn(prev))


def test_probe_over_maintained_ivf_index_equals_rebuild(spark, sf_dir):
    """Maintenance preserves SEARCH, not just index rows: an
    `ivf_probe` over the diff-MAINTAINED full-column inverted lists
    (vec_id, embedding, centroid_id — the serving layout
    `ivf_write_index` materializes) returns exactly the top-k a probe
    over a from-scratch assignment of the current snapshot returns.
    Frozen quantizer, real embeddings table, the catalog key's residue
    snapshots — the end-to-end claim the maintenance keys exist for."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.similarity import (
        ivf_assign_with_centroids,
        ivf_probe,
        ivf_seed_centroids,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _IVF_APPLY_CENTROIDS,
        _emb_snap_cur,
        _emb_snap_prev,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    centroids = ivf_seed_centroids(emb, _IVF_APPLY_CENTROIDS)
    # the key's own snapshot builders — one fixture, zero drift
    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)
    d = F.col("vec_id")

    def assign(docs):
        # full serving columns — the union schema follows prev_index
        return ivf_assign_with_centroids(docs, centroids)

    diff = snapshot_diff(prev, cur, "vec_id", ["embedding"])
    maintained = apply_index_diff(
        assign(prev), diff, cur, assign, key="vec_id"
    )
    queries = cur.filter(d < 20)

    def topk(assigned):
        return {
            tuple(r)
            for r in ivf_probe(
                assigned, centroids, queries, k=10, nprobe=4
            ).collect()
        }

    got = topk(maintained)
    assert got == topk(assign(cur))
    assert len(got) > 0


def test_ivf_pq_serving_lists_maintain_from_diff(spark, sf_dir, tmp_path):
    """The IVF-PQ packed-code serving layout joins the apply-diff
    maintenance contract (the r18 seam, closed): a snapshot diff
    re-assigns AND re-encodes only the changed vectors against the
    layout's FROZEN centroid/codebook artifacts and lands as one
    change-sized generation under <index>/lists. Proofs, per the
    contract: (1) maintained list CONTENTS equal a re-encode of the
    current snapshot; (2) probe-over-maintained equals
    probe-over-rebuilt in BOTH prune modes, refine path included —
    the rebuild twin uses the same frozen artifacts, the versioned-
    model contract; (3) static pruning still opens <= Q*nprobe list
    directories through the generation fold (executed metrics, not
    plan text); (4) compaction folds the generations back and the
    probe still agrees."""
    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.index_maintenance import (
        ivf_pq_write_index_delta,
    )
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq_partitioned,
        ann_ivf_pq_partitioned_refine,
        ivf_pq_encode_fn,
        ivf_pq_write_index,
        ivf_seed_centroids,
        pq_codebook,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _emb_snap_cur,
        _emb_snap_prev,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # frozen model artifacts, seeded from the immutable table (the
    # llm_ivf_apply_diff convention: the quantizer/codebook version
    # independently of corpus snapshots)
    frozen_c = ivf_seed_centroids(emb, 16)
    frozen_cb = pq_codebook(emb, 16)
    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)

    maintained = str(tmp_path / "m")
    rebuilt = str(tmp_path / "r")
    ivf_pq_write_index(prev, maintained, centroids=frozen_c,
                       codebook=frozen_cb)
    ivf_pq_write_index(cur, rebuilt, centroids=frozen_c,
                       codebook=frozen_cb)

    diff = snapshot_diff(prev, cur, "vec_id", ["embedding"]).localCheckpoint(
        eager=False
    )
    assert ivf_pq_write_index_delta(spark, maintained, diff, cur) == 1

    # (1) maintenance ≡ rebuild on the list contents
    cols = ["nid", "centroid_id", "pq_code"]
    encode = ivf_pq_encode_fn(frozen_c, frozen_cb)
    fresh = encode(
        cur.select(F.col("vec_id").alias("nid"), "embedding")
    )
    folded = read_index(spark, f"{maintained}/lists", key="nid").select(
        "nid", F.col("centroid_id").cast("long").alias("centroid_id"),
        "pq_code",
    )
    assert _rowset(folded.select(*cols)) == _rowset(fresh.select(*cols))

    # (2) probe equality, both prune modes, ADC and refined
    qs = cur.filter(F.col("vec_id") < 8)
    for static in (False, True):
        got = _rowset(ann_ivf_pq_partitioned(
            spark, maintained, qs, k=10, nprobe=4, static_prune=static
        ))
        want = _rowset(ann_ivf_pq_partitioned(
            spark, rebuilt, qs, k=10, nprobe=4, static_prune=static
        ))
        assert got == want and len(got) > 0, f"static={static}"
        got_r = _rowset(ann_ivf_pq_partitioned_refine(
            spark, maintained, cur, qs, k=10, refine_r=30,
            nprobe=4, static_prune=static,
        ))
        want_r = _rowset(ann_ivf_pq_partitioned_refine(
            spark, rebuilt, cur, qs, k=10, refine_r=30,
            nprobe=4, static_prune=static,
        ))
        assert got_r == want_r and len(got_r) > 0, f"refine static={static}"

    # (3) pruning survives the generation fold: every partitioned scan
    # in the executed static-prune plan opens <= Q*nprobe directories
    from .test_plans import executed_scan_metrics

    df_sp = ann_ivf_pq_partitioned(
        spark, maintained, cur.filter(F.col("vec_id") < 2),
        k=5, nprobe=2, static_prune=True,
    )
    pruned = [s for s in executed_scan_metrics(df_sp)
              if "numPartitions" in s]
    assert pruned and all(s["numPartitions"] <= 4 for s in pruned), pruned

    # (4) compaction folds the maintained state into a plain base
    folded_n = compact_index(
        spark, f"{maintained}/lists", key="nid",
        partition_col="centroid_id",
    )
    assert folded_n == 1
    got = _rowset(ann_ivf_pq_partitioned(
        spark, maintained, qs, k=10, nprobe=4, static_prune=True
    ))
    want = _rowset(ann_ivf_pq_partitioned(
        spark, rebuilt, qs, k=10, nprobe=4, static_prune=True
    ))
    assert got == want

    # geometry guard: maintaining with mismatched PQ parameters must
    # fail against the sidecar before any codes are appended
    with pytest.raises(ValueError, match="geometry mismatch"):
        ivf_pq_write_index_delta(
            spark, maintained, diff, cur, num_codewords=32
        )


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_refresh_stream_composes_with_ivf_pq_encode(spark, sf_dir, tmp_path):
    """The continuous refresh loop generalizes to the PQ serving
    family: two micro-batches of embedding CDC rows (verdict + new
    vector on the same row) apply two maintenance generations to the
    layout's lists through `refresh_index_from_change_stream` with
    `ivf_pq_encode_fn` as the derivation — and the partitioned probe
    over the streamed-refresh state equals the probe over a
    frozen-artifact rebuild of the final snapshot. Parquet change
    files, not JSON: the payload is float vectors, and a lossy text
    round-trip would perturb the codes both sides must agree on."""
    import shutil

    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.index_maintenance import (
        refresh_index_from_change_stream,
    )
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq_partitioned,
        ivf_pq_encode_fn,
        ivf_pq_write_index,
        ivf_seed_centroids,
        pq_codebook,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    frozen_c = ivf_seed_centroids(emb, 16, id_col="nid")
    frozen_cb = pq_codebook(emb, 16, id_col="nid")
    encode = ivf_pq_encode_fn(frozen_c, frozen_cb)
    neg = F.transform("embedding", lambda x: -x)
    d = F.col("nid")
    prev = emb
    cur = emb.filter(d % 10 != 3).select(
        "nid", F.when(d % 7 == 1, neg).otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    nxt = cur.filter(d % 13 != 2).select(
        "nid", F.when(d % 11 == 4, neg).otherwise(F.col("embedding"))
        .alias("embedding"),
    )

    def changes(a, b):
        return (
            snapshot_diff(a, b, "nid", ["embedding"])
            .select("nid", "change_type")
            .join(b.select("nid", "embedding"), "nid", "left")
            .select("nid", "change_type", "embedding")
        )

    src = tmp_path / "changes"
    src.mkdir()
    for i, batch in enumerate([changes(prev, cur), changes(cur, nxt)]):
        stage = tmp_path / f"stage{i}"
        batch.coalesce(1).write.parquet(str(stage))
        (part,) = [p for p in os.listdir(stage) if p.endswith(".parquet")]
        dst = str(src / f"b{i}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    layout = str(tmp_path / "pq")
    ivf_pq_write_index(
        prev, layout, id_col="nid",
        centroids=frozen_c, codebook=frozen_cb,
    )
    stream = (
        spark.readStream.schema(
            "nid long, change_type string, embedding array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    refresh_index_from_change_stream(
        stream, f"{layout}/lists", encode,
        checkpoint_dir=str(tmp_path / "ckpt"),
        key="nid", value_cols=("pq_code", "centroid_id"),
        partition_col="centroid_id",
    )
    assert len(_committed_generations(f"{layout}/lists")) == 2
    cols = ["nid", "centroid_id", "pq_code"]
    folded = read_index(spark, f"{layout}/lists", key="nid").select(
        "nid", F.col("centroid_id").cast("long").alias("centroid_id"),
        "pq_code",
    )
    assert _rowset(folded.select(*cols)) == _rowset(
        encode(nxt).select(*cols)
    )
    rebuilt = str(tmp_path / "pq_rebuilt")
    ivf_pq_write_index(
        nxt, rebuilt, id_col="nid",
        centroids=frozen_c, codebook=frozen_cb,
    )
    qs = nxt.filter(d < 8)
    got = _rowset(ann_ivf_pq_partitioned(
        spark, layout, qs, k=10, nprobe=4, id_col="nid",
        static_prune=True,
    ))
    want = _rowset(ann_ivf_pq_partitioned(
        spark, rebuilt, qs, k=10, nprobe=4, id_col="nid",
        static_prune=True,
    ))
    assert got == want and len(got) > 0


def test_write_index_delta_requires_committed_base(spark, tmp_path):
    """Maintenance against a vacant or half-written base fails fast:
    a generation written there would fabricate an unreadable index
    tree — and the recreated directory is exactly what used to disarm
    compact_index's mid-swap recovery."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    diff = snapshot_diff(prev, cur, "doc_id", ["text"])
    with pytest.raises(FileNotFoundError, match="no committed base"):
        write_index_delta(
            str(tmp_path / "nowhere"), diff, cur, band_fn
        )
    # half-written: directory exists, _SUCCESS does not
    half = tmp_path / "half"
    half.mkdir()
    with pytest.raises(FileNotFoundError, match="no committed base"):
        write_index_delta(str(half), diff, cur, band_fn)


def test_compact_index_survives_fully_tombstoned_fold(spark, tmp_path):
    """An index whose every row is tombstoned folds to ZERO rows;
    compaction must leave a READABLE empty base (schema preserved in a
    zero-row unpartitioned file), not a schema-less directory that
    bricks every later read — and the empty index stays maintainable
    (a later generation re-grows it)."""
    from github_event_etl_spark.operators.index_maintenance import (
        compact_index,
    )

    band_fn = _mh_band_fn()
    prev, _ = _prev_cur(spark)
    empty = prev.filter("doc_id < 0")  # same schema, no rows
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    # remove EVERY doc
    write_index_delta(
        path, snapshot_diff(prev, empty, "doc_id", ["text"]), empty, band_fn
    )
    assert compact_index(spark, path) == 1
    folded = read_index(spark, path)
    assert folded.count() == 0
    assert set(folded.columns) == {"doc_id", "band", "bucket"}
    # still maintainable: re-grow from the empty base
    grown = write_index_delta(
        path, snapshot_diff(empty, prev, "doc_id", ["text"]), prev, band_fn
    )
    assert grown == 1
    assert _rows(read_index(spark, path)) == _rows(band_fn(prev))


def test_compact_crash_windows_are_manifest_visibility(spark, tmp_path):
    """The manifest protocol's crash story: at EVERY crash point the
    index is exactly what the manifest names — there is no vacant
    window. A crash before the flip leaves the old state readable with
    the staged base as unreferenced garbage; a crash after it leaves
    the new state readable with the old trees as garbage; the next
    compaction call's manifest-anchored GC sweeps either residue."""
    from github_event_etl_spark.operators.index_maintenance import (
        _read_manifest_file,
        compact_index,
        read_index,
    )

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)

    def build(path):
        minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
        write_index_delta(
            path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
        )

    # crash point 1: staging fully written, manifest NOT yet flipped —
    # readers still see base + generation (old state), and the re-run
    # clears the stale staging, restages, and commits
    p1 = str(tmp_path / "idx1")
    build(p1)
    read_index(spark, p1).write.partitionBy("band").parquet(
        os.path.join(p1, "_base", "v1")  # simulated dead compactor
    )
    assert len(_committed_generations(p1)) == 1  # staging invisible
    assert _rows(read_index(spark, p1)) == _rows(band_fn(cur))
    assert compact_index(spark, p1) == 1
    m1 = _read_manifest_file(p1)
    assert m1["base"] == os.path.join("_base", "v1")
    assert m1["generations"] == []
    assert _rows(read_index(spark, p1)) == _rows(band_fn(cur))

    # crash point 2: manifest flipped, GC never ran — new state is
    # live; the superseded root base files + _delta are garbage the
    # next call sweeps (returning 0: nothing to fold)
    p2 = str(tmp_path / "idx2")
    build(p2)
    assert compact_index(spark, p2) == 1
    # recreate post-flip garbage a crashed GC would have left
    os.makedirs(os.path.join(p2, "_delta", "gen=9"), exist_ok=True)
    os.makedirs(os.path.join(p2, "_base", "v0"), exist_ok=True)
    open(os.path.join(p2, "_SUCCESS"), "w").close()  # old "." base relic
    assert _rows(read_index(spark, p2)) == _rows(band_fn(cur))
    assert compact_index(spark, p2) == 0  # GC-only call
    assert not os.path.isdir(os.path.join(p2, "_delta"))
    assert not os.path.isdir(os.path.join(p2, "_base", "v0"))
    assert not os.path.exists(os.path.join(p2, "_SUCCESS"))
    assert _rows(read_index(spark, p2)) == _rows(band_fn(cur))

    # crash point 3: a torn manifest write leaves only .inprogress —
    # the committed manifest still governs; the residue is swept
    p3 = str(tmp_path / "idx3")
    build(p3)
    inprog = os.path.join(p3, "_manifest.json.inprogress")
    with open(inprog, "w") as f:
        f.write("{ torn json")
    assert _rows(read_index(spark, p3)) == _rows(band_fn(cur))
    assert compact_index(spark, p3) == 1
    assert not os.path.exists(inprog)

    # no index at all — loud error, no silent 0
    with pytest.raises(FileNotFoundError, match="no committed index"):
        compact_index(spark, str(tmp_path / "never_existed"))


def test_concurrent_writer_detected_not_silently_lost(spark, tmp_path):
    """The single-writer contract is ENFORCED, not just documented:
    (a) a compaction that folds gens 1..N while a concurrent
    write_index_delta commits gen N+1 must ABORT — flipping would
    silently drop that generation — leaving the index unchanged and
    the staging discarded; (b) a generation commit whose slot was
    taken by a concurrent writer must abort the same way."""
    from unittest import mock

    from github_event_etl_spark.operators import index_maintenance as im

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (9, "late concurrent doc")],
        DOCS_SCHEMA,
    )
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )

    # (a) sneak a concurrent generation commit in between compaction's
    # staging write and its commit check
    real_stage = im._stage_compacted_base

    def stage_then_race(folded, staging, partition_col):
        real_stage(folded, staging, partition_col)
        write_index_delta(
            path, snapshot_diff(cur, nxt, "doc_id", ["text"]), nxt, band_fn
        )

    with mock.patch.object(
        im, "_stage_compacted_base", side_effect=stage_then_race
    ):
        with pytest.raises(RuntimeError, match="during the fold"):
            compact_index(spark, path)
    # nothing lost, nothing flipped: both generations fold, staging gone
    assert len(_committed_generations(path)) == 2
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))
    assert not os.path.isdir(os.path.join(path, "_base", "v1"))
    # and the aborted compaction can simply re-run now
    assert compact_index(spark, path) == 2
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))

    # (b) generation-slot race: entry-time manifest says next_gen=1,
    # but a concurrent writer commits gen=1 before our commit lands
    p2 = str(tmp_path / "idx2")
    minhash_write_index(prev, p2, num_bands=2, rows_per_band=2, k=2)
    stale_m = im._read_manifest(p2)  # next_gen == 1
    write_index_delta(
        p2, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )  # the concurrent writer takes slot 1
    staged = os.path.join(p2, "_delta", "gen=1-loser")
    os.makedirs(staged, exist_ok=True)
    with pytest.raises(RuntimeError, match="concurrent writer"):
        im._commit_generation(
            p2, stale_m, 1, os.path.join("_delta", "gen=1-loser"), staged
        )
    assert not os.path.isdir(staged)  # loser's staging discarded
    assert len(_committed_generations(p2)) == 1
    assert _rows(read_index(spark, p2)) == _rows(band_fn(cur))


def test_commit_aba_across_compaction_detected(spark, tmp_path):
    """The ABA hole next_gen-only revalidation left (ADVICE r18): a
    stale writer reads next_gen=1, a concurrent writer commits gen 1,
    and a compaction then resets next_gen BACK to 1 — slot-number
    equality would let the stale writer commit a generation computed
    against the superseded base onto the new base. Full manifest
    identity (base / generations / next_base / the monotone
    commit_seq) must abort it instead, and commit_seq must strictly
    increase across every commit AND compaction so no interleaving of
    them can ever alias back to a prior state."""
    from github_event_etl_spark.operators import index_maintenance as im

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)

    def seq():
        return (im._read_manifest_file(path) or {}).get("commit_seq", 0)

    # one commit + one compaction so the stale read starts from a
    # compacted state (base already off the root)
    write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    s1 = seq()
    compact_index(spark, path)
    s2 = seq()
    assert s2 > s1 > 0

    stale_m = im._read_manifest(path)  # next_gen == 1, base == _base/v1
    assert stale_m["next_gen"] == 1
    # the interleaving: a concurrent writer takes gen=1, then a
    # compaction folds it — next_gen is 1 AGAIN at our commit time
    nxt = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (9, "late concurrent doc")],
        DOCS_SCHEMA,
    )
    write_index_delta(
        path, snapshot_diff(cur, nxt, "doc_id", ["text"]), nxt, band_fn
    )
    compact_index(spark, path)
    now = im._read_manifest(path)
    assert now["next_gen"] == stale_m["next_gen"] == 1  # the ABA shape
    assert seq() > s2  # ...but the sequence moved on

    staged = os.path.join(path, "_delta", "gen=1-stale")
    os.makedirs(staged, exist_ok=True)
    with pytest.raises(RuntimeError, match="changed between read and commit"):
        im._commit_generation(
            path, stale_m, 1, os.path.join("_delta", "gen=1-stale"), staged
        )
    assert not os.path.isdir(staged)  # stale writer's staging discarded
    # the committed state is exactly the concurrent writers' work
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))


def test_index_stats_tracks_generations_and_compaction(spark, tmp_path):
    """The monitoring face: stats reflect each maintenance generation
    (counts, volumes, read amplification > 1 once deltas exist,
    uncommitted residue flagged), and compaction resets them to a
    plain-scan profile (1 fold per row, no generations)."""
    from github_event_etl_spark.operators.index_maintenance import (
        index_stats,
    )

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)

    s0 = index_stats(spark, path, include_live=True)
    assert s0["generations"] == 0
    assert not s0["uncommitted_residue"]
    assert s0["base_rows"] == s0["live_rows"] > 0
    assert s0["read_amplification"] == 1.0

    diff = snapshot_diff(prev, cur, "doc_id", ["text"])
    write_index_delta(path, diff, cur, band_fn)
    # strand an unreferenced gen=2 next to the committed one
    os.makedirs(os.path.join(path, "_delta", "gen=2", "tombstones"),
                exist_ok=True)
    s1 = index_stats(spark, path, include_live=True)
    assert s1["generations"] == 1
    assert s1["uncommitted_residue"]
    assert s1["tombstone_rows"] > 0 and s1["append_rows"] > 0
    assert s1["live_rows"] == band_fn(cur).count()
    assert s1["read_amplification"] > 1.0

    # the default SKIPS the folded count — a per-refresh monitoring
    # hook must not pay a reader-sized scan; volumes still reported
    s1_cheap = index_stats(spark, path)
    assert s1_cheap["live_rows"] is None
    assert s1_cheap["read_amplification"] is None
    assert s1_cheap["generations"] == 1
    assert s1_cheap["tombstone_rows"] == s1["tombstone_rows"]
    assert s1_cheap["append_rows"] == s1["append_rows"]

    compact_index(spark, path)
    s2 = index_stats(spark, path, include_live=True)
    assert s2["generations"] == 0
    assert not s2["uncommitted_residue"]
    assert s2["base_rows"] == s2["live_rows"] == s1["live_rows"]
    assert s2["read_amplification"] == 1.0


def test_index_stats_empty_index_amplification_is_finite(spark, tmp_path):
    """A legitimately EMPTY index — every row tombstoned, then
    compacted — reads amplification 1.0 (readers scan nothing to get
    nothing); inf is reserved for the all-rows-tombstoned-but-
    UNCOMPACTED state, where readers scan everything for nothing. A
    policy keyed on the metric therefore fires exactly once on the
    anomalous state and converges after the compaction fixes it."""
    from github_event_etl_spark.operators.index_maintenance import (
        index_stats,
    )

    band_fn = _mh_band_fn()
    prev, _ = _prev_cur(spark)
    empty = prev.filter("doc_id < 0")
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    write_index_delta(
        path, snapshot_diff(prev, empty, "doc_id", ["text"]), empty, band_fn
    )
    s_anom = index_stats(spark, path, include_live=True)
    assert s_anom["live_rows"] == 0
    assert s_anom["read_amplification"] == float("inf")

    compact_index(spark, path)
    s_empty = index_stats(spark, path, include_live=True)
    assert s_empty["base_rows"] == s_empty["live_rows"] == 0
    assert s_empty["read_amplification"] == 1.0


def test_maybe_compact_policy_fires_exactly_at_thresholds(spark, tmp_path):
    """The closed loop: a change stream with a generation-count policy
    compacts exactly when the threshold is reached — never before,
    automatically, with folded state ≡ a from-scratch rebuild — and
    the amplification policy fires on the inf anomaly then converges.
    Compactions are counted from the manifest's next_base, which
    increments once per flip."""
    from github_event_etl_spark.operators.index_maintenance import (
        _read_manifest,
        index_stats,
        maybe_compact,
        refresh_index_from_change_stream,
    )

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five six"),
            (4, "freshly crawled document text, edited again"),
            (6, "a second brand new doc"),
        ],
        DOCS_SCHEMA,
    )

    def changes(a, b):
        return (
            snapshot_diff(a, b, "doc_id", ["text"])
            .select("doc_id", "change_type")
            .join(b.select("doc_id", "text"), "doc_id", "left")
            .select("doc_id", "change_type", "text")
        )

    src = tmp_path / "changes"
    src.mkdir()
    f1, f2 = str(src / "b1.json"), str(src / "b2.json")
    changes(prev, cur).toPandas().to_json(
        f1, orient="records", lines=True
    )
    changes(cur, nxt).toPandas().to_json(
        f2, orient="records", lines=True
    )
    os.utime(f1, (1_000_000_000, 1_000_000_000))
    os.utime(f2, (1_000_000_100, 1_000_000_100))

    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    refresh_index_from_change_stream(
        spark.readStream.schema(
            "doc_id long, change_type string, text string"
        ).option("maxFilesPerTrigger", 1).json(str(src)),
        path,
        band_fn,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_generations=2,
    )
    m = _read_manifest(path)
    # batch 1 → 1 gen (below threshold, no compaction: next_base
    # still 1 would mean... it is 2 ⇒ exactly ONE flip happened);
    # batch 2 → 2 gens ≥ threshold → compacted
    assert m["next_base"] == 2, "compaction fired a wrong number of times"
    assert m["generations"] == []
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))

    # below-threshold call is a no-op; threshold crossing fires
    assert maybe_compact(spark, path, max_generations=2) == 0
    b3 = spark.createDataFrame(
        [(7, "added", "one more doc")],
        "doc_id long, change_type string, text string",
    )
    write_index_delta(path, b3, b3, band_fn)
    assert maybe_compact(spark, path, max_generations=2) == 0  # 1 < 2
    assert maybe_compact(spark, path, max_generations=1) == 1

    # amplification policy: all-rows-tombstoned reads inf → any τ
    # fires; the freshly compacted EMPTY index reads 1.0 → converged
    empty = prev.filter("doc_id < 0")
    cur_after = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three four five six"),
            (4, "freshly crawled document text, edited again"),
            (6, "a second brand new doc"),
            (7, "one more doc"),
        ],
        DOCS_SCHEMA,
    )
    write_index_delta(
        path,
        snapshot_diff(cur_after, empty, "doc_id", ["text"]),
        empty,
        band_fn,
    )
    assert maybe_compact(spark, path, max_read_amplification=2.0) == 1
    assert index_stats(spark, path, include_live=True)[
        "read_amplification"
    ] == 1.0
    assert maybe_compact(spark, path, max_read_amplification=2.0) == 0

    # neither threshold set is a misconfiguration, not a silent no-op
    with pytest.raises(ValueError, match="max_generations"):
        maybe_compact(spark, path)


def test_legacy_tree_crash_before_commit_is_not_a_phantom_commit(
    spark, tmp_path
):
    """The legacy-bootstrap hole, closed: on a marker-built tree with
    no manifest yet, write_index_delta persists the bootstrapped
    manifest BEFORE staging any data — so a crash after both parquet
    trees finish but before the generation commit leaves a staged
    gen the reader does NOT count (the manifest is now the authority
    and does not list it). Without the eager persist, the marker
    fallback would resurrect the fully-staged generation as a phantom
    commit the caller believes failed. The retry then lands normally."""
    from unittest import mock

    from github_event_etl_spark.operators import index_maintenance as im

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    assert im._read_manifest_file(path) is None  # genuinely legacy

    diff = snapshot_diff(prev, cur, "doc_id", ["text"])
    with mock.patch.object(
        im, "_commit_generation",
        side_effect=RuntimeError("simulated crash before commit"),
    ):
        with pytest.raises(RuntimeError, match="simulated crash"):
            write_index_delta(path, diff, cur, band_fn)
    # both staged parquet trees are marker-complete on disk…
    gen1 = os.path.join(path, "_delta", "gen=1")
    assert os.path.exists(os.path.join(gen1, "appends", "_SUCCESS"))
    assert os.path.exists(os.path.join(gen1, "tombstones", "_SUCCESS"))
    # …yet invisible: the eagerly-persisted manifest does not name them
    assert _committed_generations(path) == []
    assert _rows(read_index(spark, path)) == _rows(band_fn(prev))
    # the retry clears the residue and commits for real
    assert write_index_delta(path, diff, cur, band_fn) == 1
    assert _rows(read_index(spark, path)) == _rows(band_fn(cur))


def test_gc_spares_live_staging_slot_and_sweeps_the_rest(spark, tmp_path):
    """GC safety under the enforced single-writer contract's edge: the
    `gen={next_gen}` slot is the one directory a concurrent (or
    crashed-and-retrying) writer could be staging into, so a GC-only
    compaction call must SPARE it while sweeping every other
    unreferenced generation — and a committed generation is never
    swept, because GC reads the manifest fresh instead of trusting a
    caller-held snapshot."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    compact_index(spark, path)  # manifest now: no gens, next_gen=1
    # plant possibly-live staging (slot 1) + clearly dead residue
    os.makedirs(os.path.join(path, "_delta", "gen=1", "appends"),
                exist_ok=True)
    os.makedirs(os.path.join(path, "_delta", "gen=5"), exist_ok=True)
    assert compact_index(spark, path) == 0  # GC-only call
    assert os.path.isdir(os.path.join(path, "_delta", "gen=1")), (
        "GC destroyed the live staging slot"
    )
    assert not os.path.isdir(os.path.join(path, "_delta", "gen=5"))
    # the slot's residue does not confuse the next real write
    nxt = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (8, "fresh after gc")],
        DOCS_SCHEMA,
    )
    assert write_index_delta(
        path, snapshot_diff(cur, nxt, "doc_id", ["text"]), nxt, band_fn
    ) == 1
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))

    with pytest.raises(FileNotFoundError, match="no committed index"):
        from github_event_etl_spark.operators.index_maintenance import (
            maybe_compact,
        )

        maybe_compact(spark, str(tmp_path / "void"), max_generations=1)


def test_compact_index_folds_generations_and_resets(spark, tmp_path):
    """The log-structured trade's other half: after compaction the
    read is a plain scan again (no _delta), equals the fully folded
    state, the generation counter resets to 1 for the next refresh,
    and an idle compact is a no-op. An UNREFERENCED trailing
    generation — invisible to readers by the manifest contract — is
    swept with the rest of _delta."""
    from github_event_etl_spark.operators.index_maintenance import (
        compact_index,
    )

    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (8, "post compaction content")],
        DOCS_SCHEMA,
    )
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    assert compact_index(spark, path) == 0  # nothing to fold: untouched
    write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    # strand an uncommitted gen=2 (tombstones dir without _SUCCESS)
    gen2 = os.path.join(path, "_delta", "gen=2")
    os.makedirs(os.path.join(gen2, "tombstones"), exist_ok=True)

    assert compact_index(spark, path) == 1  # only the committed gen
    assert not os.path.isdir(os.path.join(path, "_delta"))
    assert _rows(read_index(spark, path)) == _rows(band_fn(cur))
    # the counter reset: next refresh writes gen=1 against the new base
    g = write_index_delta(
        path, snapshot_diff(cur, nxt, "doc_id", ["text"]), nxt, band_fn
    )
    assert g == 1
    assert _rows(read_index(spark, path)) == _rows(band_fn(nxt))


@settings(max_examples=6, deadline=None)
@given(
    first=st.dictionaries(
        keys=st.integers(min_value=0, max_value=6),
        values=st.integers(min_value=0, max_value=3),
        min_size=1,  # the *_write_index builders require a non-empty
        max_size=6,  # corpus (partitioned empty write has no schema);
        # LATER snapshots may go empty — the all-removed case is the
        # interesting one and stays covered
    ),
    rest=st.lists(
        st.dictionaries(
            keys=st.integers(min_value=0, max_value=6),
            values=st.integers(min_value=0, max_value=3),
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    compact_mask=st.lists(st.booleans(), min_size=3, max_size=3),
    junk_mask=st.lists(st.booleans(), min_size=3, max_size=3),
)
def test_maintenance_sequence_equals_rebuild_property(
    spark, first, rest, compact_mask, junk_mask
):
    """The manifest protocol's global invariant, hypothesis-pinned:
    for ANY snapshot sequence with ANY interleaving of compactions and
    crash residue (unreferenced generation dirs and stale staged
    bases, injected mid-sequence), the folded read after every step
    equals a from-scratch banding of the step's snapshot — crashes
    and compaction timing are invisible to readers, only the manifest
    speaks. Ends with a final compaction whose result must still equal
    the rebuild (including the all-docs-removed empty-index case the
    strategy can generate)."""
    import shutil
    import tempfile

    band_fn = _mh_band_fn()

    def frame(snap):
        rows = [
            (k, f"text variant {v} of document {k}")
            for k, v in sorted(snap.items())
        ]
        return spark.createDataFrame(rows or [], DOCS_SCHEMA)

    root = tempfile.mkdtemp(prefix="idx_prop_")
    path = os.path.join(root, "idx")
    try:
        prev = frame(first)
        minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
        for i, snap in enumerate(rest):
            cur = frame(snap)
            write_index_delta(
                path,
                snapshot_diff(prev, cur, "doc_id", ["text"]),
                cur,
                band_fn,
            )
            if junk_mask[i % 3]:
                # crash residue: an unreferenced generation staged by a
                # dead writer and an abandoned compaction staging tree
                os.makedirs(
                    os.path.join(path, "_delta", "gen=77", "tombstones"),
                    exist_ok=True,
                )
                os.makedirs(
                    os.path.join(path, "_base", "v77"), exist_ok=True
                )
            if compact_mask[i % 3]:
                compact_index(spark, path)
            assert _rows(read_index(spark, path)) == _rows(band_fn(cur)), (
                f"step {i}: folded state diverged from rebuild"
            )
            prev = cur
        compact_index(spark, path)
        final = _rows(read_index(spark, path))
        assert final == _rows(band_fn(prev))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _simple_plan(df):
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="simple")
    return buf.getvalue()


def test_read_index_fold_plan_is_broadcast_only(spark, tmp_path):
    """The merge-on-read READ path's scale gate: each committed
    generation folds as one BROADCAST anti-join (change-sized
    tombstones) plus one union — the corpus-sized base never
    shuffles (no SortMergeJoin, no cartesian), and the fold is pure
    JVM (no Python stage). Two generations ⇒ exactly THREE broadcast
    anti-joins: Catalyst pushes gen-2's anti-join below gen-1's union
    (base⊖t1⊖t2 and a1⊖t2 — correct, each branch still only ever
    builds a change-sized tombstone side). The triangular growth of
    this pushed-down shape with generation count is the read-path
    cost `maybe_compact` exists to bound."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    nxt = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (9, "one more snapshot")],
        DOCS_SCHEMA,
    )
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    write_index_delta(
        path, snapshot_diff(prev, cur, "doc_id", ["text"]), cur, band_fn
    )
    write_index_delta(
        path, snapshot_diff(cur, nxt, "doc_id", ["text"]), nxt, band_fn
    )
    plan = _simple_plan(read_index(spark, path))
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert plan.count("LeftAnti") == 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_apply_index_diff_plan_is_change_sized(spark, tmp_path):
    """The scale claim, gated structurally over the PRODUCTION shape —
    the diff arrives as a materialized change-log table: the
    maintenance plan joins the broadcast change set on both sides (no
    shuffle of the corpus-sized index — no SortMergeJoin anywhere),
    runs EXACTLY one Arrow banding stage (over the semi-filtered
    upserts, never the corpus), and no row-at-a-time Python or
    cartesian product appears."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    change_log = spark.createDataFrame(
        [r.asDict() for r in
         snapshot_diff(prev, cur, "doc_id", ["text"]).collect()]
    ).select("doc_id", "change_type")
    maintained = apply_index_diff(
        spark.read.parquet(path), change_log, cur, band_fn
    )
    plan = _simple_plan(maintained)
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    # both change-set joins build broadcast sides
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_apply_index_diff_materialized_diff_computes_once(spark, tmp_path):
    """The materialize-the-change-log contract: an inline snapshot_diff
    plan feeds two maintenance consumers whose build-side predicates
    are pushed below each broadcast exchange, so WITHOUT
    materialization the diff's full-outer join appears (and executes)
    once per consumer; a localCheckpoint'd diff — the catalog key's
    shape — leaves NO join of the two snapshots in the maintenance
    plan at all."""
    band_fn = _mh_band_fn()
    prev, cur = _prev_cur(spark)
    path = str(tmp_path / "idx")
    minhash_write_index(prev, path, num_bands=2, rows_per_band=2, k=2)
    inline = snapshot_diff(prev, cur, "doc_id", ["text"])
    plan_inline = _simple_plan(
        apply_index_diff(spark.read.parquet(path), inline, cur, band_fn)
    )
    assert plan_inline.count("SortMergeJoin") == 2, plan_inline

    ckpt = inline.localCheckpoint(eager=False)
    maintained = apply_index_diff(
        spark.read.parquet(path), ckpt, cur, band_fn
    )
    plan_ckpt = _simple_plan(maintained)
    assert "SortMergeJoin" not in plan_ckpt, plan_ckpt
    # and the value contract holds through the checkpoint
    assert _rows(maintained) == _rows(band_fn(cur))


# ------------------------------------------ drift, skew, recall-after-refresh


def _planted_shift(spark):
    """Distribution-shift fixture for the quantizer-drift policy: the
    PREV corpus lives entirely in dims 0-7 (so the md5-seeded codebook
    and centroids know nothing about the upper half), the CUR corpus
    re-embeds ids 8-47 into dims 8-15 in four tight groups of ten —
    vectors the frozen codebook reconstructs as ~zero, collapsing every
    shifted vector onto one pq_code and making ADC ranking blind to the
    group structure a retrained quantizer separates cleanly."""
    prev_rows = []
    for i in range(48):
        v = [1.0 + ((i * 7 + j) % 5) * 0.1 for j in range(8)] + [0.0] * 8
        prev_rows.append((i, v))
    cur_rows = [r for r in prev_rows if r[0] < 8]
    for i in range(8, 48):
        g = i % 4
        upper = [0.0] * 8
        upper[2 * g] = 2.0 + (i // 4) * 0.01
        upper[2 * g + 1] = 2.0
        cur_rows.append((i, [0.0] * 8 + upper))
    schema = "vec_id long, embedding array<double>"
    return (
        spark.createDataFrame(prev_rows, schema),
        spark.createDataFrame(cur_rows, schema),
    )


def _recall_of(res, truth) -> float:
    got = {(r["qid"], r["nid"]) for r in res.collect()}
    want = {(r["qid"], r["nid"]) for r in truth.collect()}
    assert want
    return len(got & want) / len(want)


def test_quantizer_drift_monitor_and_maybe_retrain(spark, tmp_path):
    """The quantizer-drift loop (VERDICT r19 item 2), end to end on a
    planted distribution shift: (1) `ivf_pq_write_index` records the
    build corpus' reconstruction-error baseline in the sidecar; (2) a
    drifted refresh's generation logs a degraded batch error through
    `ivf_pq_write_index_delta` and `ivf_pq_drift_stats` reports the
    elevated ratio; (3) `maybe_retrain` does NOT fire on the
    undrifted corpus, DOES fire past the threshold, and the re-derived
    quantizer restores the recall the frozen one had silently lost;
    (4) the rebuild resets the drift log and re-baselines the sidecar,
    so the policy converges instead of re-firing forever."""
    import json
    import os

    from github_event_etl_spark.operators.index_maintenance import (
        ivf_pq_drift_stats,
        ivf_pq_index_stats,
        ivf_pq_write_index_delta,
        maybe_retrain,
    )
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq,
        ann_ivf_pq_partitioned,
        ivf_pq_write_index,
        knn_bruteforce,
    )

    prev, cur = _planted_shift(spark)
    geo = dict(num_subspaces=4, num_codewords=4, dim=16)
    path = str(tmp_path / "drifting")
    ivf_pq_write_index(prev, path, num_centroids=4, **geo)

    # (1) baseline recorded; undrifted corpus does not fire the policy
    with open(os.path.join(path, "_params.json")) as f:
        params = json.load(f)
    assert params["train_qerr_mean"] is not None
    assert params["train_n"] == 48
    calm = maybe_retrain(spark, path, prev, max_qerr_ratio=1.5)
    assert not calm["fired"] and abs(calm["qerr_ratio"] - 1.0) < 1e-9

    # (2) the drifted refresh logs a degraded batch error
    diff = snapshot_diff(prev, cur, "vec_id", ["embedding"]).localCheckpoint(
        eager=False
    )
    assert ivf_pq_write_index_delta(spark, path, diff, cur, **geo) == 1
    stats = ivf_pq_drift_stats(spark, path, cur)
    (entry,) = stats["refresh_log"]
    assert entry["gen"] == 1 and entry["n"] == 40
    assert entry["qerr_mean"] > stats["train_qerr_mean"]
    assert stats["latest_refresh_qerr_ratio"] > 1.5
    assert stats["corpus_qerr_ratio"] > 1.5
    # the one monitoring read surfaces all three policy inputs
    full = ivf_pq_index_stats(spark, path, hot_threshold=30)
    assert full["generations"] == 1
    assert full["drift"]["latest_refresh_qerr_ratio"] > 1.5
    # the orthogonal shifted vectors all tie onto one frozen centroid —
    # the skew stat sees the pile-up the drift created
    assert full["list_skew"]["max_list"] >= 40
    # at hot_threshold=30 a >=40-member list is necessarily flagged —
    # a non-empty hot_lists is the real assertion (the previous
    # `40 in hot_lists or hot_lists` was vacuously true whenever
    # hot_lists was non-empty; ADVICE r20 item 5)
    assert full["list_skew"]["hot_lists"]

    # the 100 TB audit lever: a deterministic md5-threshold sample
    # measures the same elevated ratio on a strict subset of the
    # corpus (unbiased mean estimate; same rows every run, no RNG)
    sampled = ivf_pq_drift_stats(spark, path, cur, audit_fraction=0.5)
    assert 0 < sampled["corpus_qerr_n"] < 48
    assert sampled["corpus_qerr_ratio"] > 1.5
    assert ivf_pq_drift_stats(
        spark, path, cur, audit_fraction=0.5
    )["corpus_qerr_n"] == sampled["corpus_qerr_n"]
    with pytest.raises(ValueError, match="audit_fraction"):
        ivf_pq_drift_stats(spark, path, cur, audit_fraction=1.5)

    # (3) recall before vs after the retrain
    qs = cur.filter(F.col("vec_id").isin(8, 9, 10, 11))
    truth = knn_bruteforce(cur, qs, k=5).select("qid", "nid")
    before = _recall_of(
        ann_ivf_pq_partitioned(spark, path, qs, k=5, nprobe=2, **geo),
        truth,
    )
    report = maybe_retrain(spark, path, cur, max_qerr_ratio=1.5)
    assert report["fired"] and report["qerr_ratio"] >= 1.5
    after = _recall_of(
        ann_ivf_pq_partitioned(spark, path, qs, k=5, nprobe=2, **geo),
        truth,
    )
    # the planted shift reads ~0.1 before (every shifted vector shares
    # one pq_code under the frozen codebook, so ranking is nid
    # tie-break noise) and ~0.7 after (4 retrained centroids must
    # cover 5 natural clusters at nprobe=2 — full recall is not the
    # claim; RESTORED recall is)
    assert after > before + 0.3, (before, after)
    assert after >= 0.6, (before, after)
    # the retrained layout equals the in-memory twin on the current
    # corpus — the rebuild used no frozen artifacts, by design
    mem = ann_ivf_pq(cur, qs, k=5, num_centroids=4, nprobe=2, **geo)
    disk = ann_ivf_pq_partitioned(spark, path, qs, k=5, nprobe=2, **geo)
    assert _rowset(disk) == _rowset(mem)

    # (4) fresh baseline, empty log: the policy converges
    post = ivf_pq_drift_stats(spark, path, cur)
    assert post["refresh_log"] == []
    assert abs(post["corpus_qerr_ratio"] - 1.0) < 1e-9
    assert not maybe_retrain(spark, path, cur, max_qerr_ratio=1.5)["fired"]


def test_maybe_retrain_requires_a_recorded_baseline(spark, tmp_path):
    """A layout built with record_train_error=False carries no drift
    baseline — the policy must refuse loudly (comparing against
    nothing would either never fire or always fire), naming the
    calibration rebuild."""
    from github_event_etl_spark.operators.index_maintenance import (
        maybe_retrain,
    )
    from github_event_etl_spark.operators.similarity import (
        ivf_pq_write_index,
    )

    prev, _ = _planted_shift(spark)
    path = str(tmp_path / "uncalibrated")
    ivf_pq_write_index(prev, path, num_centroids=4, num_subspaces=4,
                       num_codewords=4, dim=16,
                       record_train_error=False)
    with pytest.raises(ValueError, match="record_train_error"):
        maybe_retrain(spark, path, prev)


def _planted_hot_list(spark):
    """Hot-list fixture: 160 EXACT copies of one vector (cosine ties
    against every in-cluster seed, so the deterministic centroid_id
    tie-break piles all of them onto ONE inverted list) plus four
    distinct 10-vector groups — the one-hot-cell shape real embedding
    corpora produce and synthetic balanced fixtures hide."""
    base = [1.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]
    rows = [(i, list(base)) for i in range(160)]
    for i in range(160, 200):
        g = (i - 160) // 10
        v = [0.0] * 8
        v[4 + g // 2] = 2.0
        v[(g * 3) % 4] = 0.5 + ((i % 10) * 0.01)
        rows.append((i, v))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_ivf_list_skew_stat_fires_and_salted_topk_is_identical(
    spark, tmp_path
):
    """IVF list skew (VERDICT r19 item 3): `ivf_list_stats` measures
    the per-centroid size distribution of the layout probes actually
    read (the folded state) and flags the hot cell; the probe-side
    mitigation — `topk_salts`, the `operators/skew.py` salting pattern
    applied to the rank window — is RESULT-IDENTICAL on every serving
    path (plain IVF, IVF-PQ ADC, refine) while bounding the rank
    stage's max task input: a query probing the hot list feeds its
    candidates into per-(qid, salt) partitions of ~|list|/S rows
    instead of one |list|-row partition."""
    from github_event_etl_spark.operators.index_maintenance import (
        ivf_list_stats,
    )
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_partitioned,
        ann_ivf_pq_partitioned,
        ann_ivf_pq_partitioned_refine,
        ivf_pq_write_index,
        ivf_write_index,
    )

    corpus = _planted_hot_list(spark)
    ivf_path = str(tmp_path / "hot_ivf")
    pq_path = str(tmp_path / "hot_pq")
    ivf_write_index(corpus, ivf_path, num_centroids=8)
    ivf_pq_write_index(corpus, pq_path, num_centroids=8,
                       num_subspaces=4, num_codewords=8, dim=8)

    # the stat fires: one list holds >= the 160 duplicates
    stats = ivf_list_stats(
        spark, f"{ivf_path}/assigned", key="vec_id", hot_threshold=50
    )
    assert stats["num_lists"] >= 2
    assert stats["max_list"] >= 160
    assert stats["max_median_ratio"] >= 4, stats
    assert len(stats["hot_lists"]) == 1, stats

    # the mitigation bounds the rank stage's max task input: the hot
    # list's candidates split across 8 deterministic salt slices
    assigned = spark.read.parquet(f"{ivf_path}/assigned")
    slice_max = (
        assigned.groupBy(
            "centroid_id",
            F.pmod(F.xxhash64("vec_id"), F.lit(8)).alias("s"),
        )
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert slice_max <= 40, slice_max  # vs the 160-row unsalted group

    # ...and is result-identical on every serving path
    qs = corpus.filter(F.col("vec_id").isin(0, 160, 171, 185))
    for salted_fn, plain_fn in [
        (
            lambda: ann_ivf_partitioned(
                spark, ivf_path, qs, k=5, nprobe=2, topk_salts=8
            ),
            lambda: ann_ivf_partitioned(
                spark, ivf_path, qs, k=5, nprobe=2
            ),
        ),
        (
            lambda: ann_ivf_pq_partitioned(
                spark, pq_path, qs, k=5, nprobe=2, num_subspaces=4,
                num_codewords=8, dim=8, topk_salts=8,
            ),
            lambda: ann_ivf_pq_partitioned(
                spark, pq_path, qs, k=5, nprobe=2, num_subspaces=4,
                num_codewords=8, dim=8,
            ),
        ),
        (
            lambda: ann_ivf_pq_partitioned_refine(
                spark, pq_path, corpus, qs, k=5, refine_r=15, nprobe=2,
                num_subspaces=4, num_codewords=8, dim=8, topk_salts=8,
            ),
            lambda: ann_ivf_pq_partitioned_refine(
                spark, pq_path, corpus, qs, k=5, refine_r=15, nprobe=2,
                num_subspaces=4, num_codewords=8, dim=8,
            ),
        ),
    ]:
        got, want = _rowset(salted_fn()), _rowset(plain_fn())
        assert got == want and got

    # a non-positive salt count is a misconfiguration, not a mode —
    # the truthiness gate on the entry points would let -8 through to
    # pmod; the shared helper fails it loudly instead
    with pytest.raises(ValueError, match="topk_salts"):
        ann_ivf_partitioned(
            spark, ivf_path, qs, k=5, nprobe=2, topk_salts=-8
        ).collect()


def test_recall_after_refresh_equals_rebuilt_layout(
    spark, sf_dir, tmp_path
):
    """Recall-after-refresh e2e (VERDICT r19 item 4): compose the
    `ann_recall` acceptance gate over the MAINTAINED partitioned
    IVF-PQ layout after TWO apply-diff generations and a compaction,
    and assert its per-query recall against brute-force ground truth
    equals the frozen-artifact REBUILD's — the deployment-shaped proof
    that the maintenance path does not silently trade recall, which is
    exactly the loop the drift monitor exists to watch."""
    from github_event_etl_spark.operators.index_maintenance import (
        index_stats,
        ivf_pq_write_index_delta,
    )
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq_partitioned,
        ann_recall,
        ivf_pq_write_index,
        ivf_seed_centroids,
        knn_bruteforce,
        pq_codebook,
    )
    from github_event_etl_spark.plans.queries_llm import (
        _emb_snap_cur,
        _emb_snap_prev,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    frozen_c = ivf_seed_centroids(emb, 16)
    frozen_cb = pq_codebook(emb, 16)
    prev = _emb_snap_prev(emb)
    cur = _emb_snap_cur(emb)
    # third snapshot: two re-embeds, two removals, two additions
    cur2 = (
        cur.filter(~F.col("vec_id").isin(5, 6))
        .withColumn(
            "embedding",
            F.when(F.col("vec_id") < 2, F.reverse("embedding")).otherwise(
                F.col("embedding")
            ),
        )
        .unionByName(
            cur.filter(F.col("vec_id").isin(3, 4)).select(
                (F.col("vec_id") + 10_000).alias("vec_id"),
                F.reverse("embedding").alias("embedding"),
            )
        )
    )

    maintained = str(tmp_path / "maintained")
    rebuilt = str(tmp_path / "rebuilt")
    ivf_pq_write_index(prev, maintained, centroids=frozen_c,
                       codebook=frozen_cb)
    ivf_pq_write_index(cur2, rebuilt, centroids=frozen_c,
                       codebook=frozen_cb)

    for a, b in [(prev, cur), (cur, cur2)]:
        d = snapshot_diff(a, b, "vec_id", ["embedding"]).localCheckpoint(
            eager=False
        )
        ivf_pq_write_index_delta(spark, maintained, d, b)
    assert index_stats(spark, f"{maintained}/lists", key="nid")[
        "generations"
    ] == 2
    assert compact_index(
        spark, f"{maintained}/lists", key="nid",
        partition_col="centroid_id",
    ) == 2

    qs = cur2.filter(F.col("vec_id") < 8)
    truth = knn_bruteforce(cur2, qs, k=10).select("qid", "nid")
    tagged = (
        ann_ivf_pq_partitioned(
            spark, maintained, qs, k=10, nprobe=4, static_prune=True
        )
        .withColumn("method", F.lit("maintained"))
        .unionByName(
            ann_ivf_pq_partitioned(
                spark, rebuilt, qs, k=10, nprobe=4, static_prune=True
            ).withColumn("method", F.lit("rebuilt"))
        )
    )
    report = ann_recall(
        tagged, truth, qs.select(F.col("vec_id").alias("qid")), k=10,
        methods=("maintained", "rebuilt"),
    ).collect()
    per = {(r["method"], r["qid"]): r["recall_r"] for r in report}
    qids = {q for _, q in per}
    # cur2 removed vec_ids 5 and 6, so the <8 query slice holds 6
    assert len(qids) == 6 and len(per) == 12
    for q in qids:
        assert per[("maintained", q)] == per[("rebuilt", q)], (q, per)
    # the gate is meaningful, not vacuous: the probes do recall things
    assert sum(per[("maintained", q)] for q in qids) > 0


def test_ivf_pq_refresh_stream_logs_drift_per_generation(
    spark, sf_dir, tmp_path
):
    """The drift-AWARE streaming refresh (`ivf_pq_refresh_from_change_
    stream`): the generic loop with a bare encode band_fn maintains
    the same bytes but appends NO drift records — this wrapper routes
    every micro-batch through `ivf_pq_write_index_delta`, so a streamed
    refresh is sidecar-validated AND drift-logged exactly like the
    batch apply-diff path. Proofs: (1) two micro-batches land two
    generations whose folded lists equal a fresh encode of the final
    snapshot; (2) the drift log carries one change-sized record per
    generation (the signal `maybe_retrain`'s cheap path reads);
    (3) probe-over-streamed equals probe-over-rebuilt; (4) the
    compaction policy composes against the lists subdir with the
    layout's geometry and the drift log survives it (compaction does
    not change the quantizer, so the log stays meaningful)."""
    import shutil

    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.index_maintenance import (
        _read_drift_log,
        ivf_pq_refresh_from_change_stream,
        maybe_compact,
    )
    from github_event_etl_spark.operators.similarity import (
        ann_ivf_pq_partitioned,
        ivf_pq_write_index,
        ivf_seed_centroids,
        pq_codebook,
    )
    from github_event_etl_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("embedding"),
    )
    frozen_c = ivf_seed_centroids(emb, 16, id_col="nid")
    frozen_cb = pq_codebook(emb, 16, id_col="nid")
    neg = F.transform("embedding", lambda x: -x)
    d = F.col("nid")
    prev = emb
    cur = emb.filter(d % 10 != 3).select(
        "nid", F.when(d % 7 == 1, neg).otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    nxt = cur.filter(d % 13 != 2).select(
        "nid", F.when(d % 11 == 4, neg).otherwise(F.col("embedding"))
        .alias("embedding"),
    )

    def changes(a, b):
        return (
            snapshot_diff(a, b, "nid", ["embedding"])
            .select("nid", "change_type")
            .join(b.select("nid", "embedding"), "nid", "left")
            .select("nid", "change_type", "embedding")
        )

    src = tmp_path / "changes"
    src.mkdir()
    n_upserts = []
    for i, batch in enumerate([changes(prev, cur), changes(cur, nxt)]):
        n_upserts.append(
            batch.filter(
                F.col("change_type").isin("added", "changed")
            ).count()
        )
        stage = tmp_path / f"stage{i}"
        batch.coalesce(1).write.parquet(str(stage))
        (part,) = [p for p in os.listdir(stage) if p.endswith(".parquet")]
        dst = str(src / f"b{i}.parquet")
        shutil.copy(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + i * 100,) * 2)

    layout = str(tmp_path / "pq")
    ivf_pq_write_index(
        prev, layout, id_col="nid",
        centroids=frozen_c, codebook=frozen_cb,
    )
    stream = (
        spark.readStream.schema(
            "nid long, change_type string, embedding array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    ivf_pq_refresh_from_change_stream(
        stream, layout, checkpoint_dir=str(tmp_path / "ckpt"),
        id_col="nid",
    )
    assert len(_committed_generations(f"{layout}/lists")) == 2

    # (2) one drift record per generation, change-sized, against the
    # baseline the build recorded
    log = _read_drift_log(layout)
    assert [e["gen"] for e in log] == [1, 2]
    assert [e["n"] for e in log] == n_upserts and all(n_upserts)
    assert all(e["qerr_mean"] is not None for e in log)

    # (1)+(3) folded state and probe equality vs a rebuild
    from github_event_etl_spark.operators.similarity import (
        ivf_pq_encode_fn,
    )

    encode = ivf_pq_encode_fn(frozen_c, frozen_cb)
    cols = ["nid", "centroid_id", "pq_code"]
    folded = read_index(spark, f"{layout}/lists", key="nid").select(
        "nid", F.col("centroid_id").cast("long").alias("centroid_id"),
        "pq_code",
    )
    assert _rowset(folded.select(*cols)) == _rowset(
        encode(nxt).select(*cols)
    )
    rebuilt = str(tmp_path / "pq_rebuilt")
    ivf_pq_write_index(
        nxt, rebuilt, id_col="nid",
        centroids=frozen_c, codebook=frozen_cb,
    )
    qs = nxt.filter(d < 8)
    got = _rowset(ann_ivf_pq_partitioned(
        spark, layout, qs, k=10, nprobe=4, id_col="nid",
        static_prune=True,
    ))
    want = _rowset(ann_ivf_pq_partitioned(
        spark, rebuilt, qs, k=10, nprobe=4, id_col="nid",
        static_prune=True,
    ))
    assert got == want and len(got) > 0

    # (4) compaction composes and the drift log survives it
    assert maybe_compact(
        spark, f"{layout}/lists", key="nid",
        partition_col="centroid_id", max_generations=2,
    ) == 2
    assert [e["gen"] for e in _read_drift_log(layout)] == [1, 2]
    got2 = _rowset(ann_ivf_pq_partitioned(
        spark, layout, qs, k=10, nprobe=4, id_col="nid",
        static_prune=True,
    ))
    assert got2 == want


def test_under_path_compares_scheme_qualified_uris():
    """ADVICE r20: `_under_path` must match scheme-qualified scan
    roots (hdfs://, s3a://) against a same-scheme prefix — the old
    realpath-only local semantics never prefix-matched them, so
    static_prune='auto' on remote storage silently fell back — and
    must WARN (not silently miss) when the prefix and every root
    carry different schemes. Local `file:`/bare-path semantics are
    unchanged."""
    import warnings

    import pytest

    from github_event_etl_spark.operators.plan_metrics import _under_path

    assert _under_path(
        ("hdfs://nn:8020/warehouse/idx/lists/centroid_id=1",),
        "hdfs://nn:8020/warehouse/idx",
    )
    assert not _under_path(
        ("hdfs://other:8020/warehouse/idx/lists",),
        "hdfs://nn:8020/warehouse/idx",
    )
    assert _under_path(
        ("s3a://bucket/prefix/idx/part-0",), "s3a://bucket/prefix/idx"
    )
    # not a path-prefix match: /prefix/idx2 is a sibling, not a child
    assert not _under_path(
        ("s3a://bucket/prefix/idx2",), "s3a://bucket/prefix/idx"
    )
    # local semantics unchanged: file: scheme stripped, realpath'd
    assert _under_path(("file:/tmp/x/y",), "/tmp/x")
    assert _under_path(("/tmp/x",), "/tmp/x")
    # cross-scheme: no match, loud warning
    with pytest.warns(UserWarning, match="different\\s+scheme"):
        assert not _under_path(
            ("s3a://bucket/warehouse/idx/lists",), "/warehouse/idx"
        )
    # same-scheme non-match stays silent
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert not _under_path(("/elsewhere/idx",), "/warehouse/idx")


def test_uri_parts_reads_colon_relative_path_as_local():
    """A relative local path whose first segment holds a colon
    (`data:v2/part-0`) has a scheme but no authority: it is local and
    realpath'd against the working directory, never a remote `data`
    URI. Bare, `file:` and authority-qualified remote forms keep their
    results."""
    import os

    from github_event_etl_spark.operators.plan_metrics import _uri_parts

    assert _uri_parts("data:v2/part-0") == (
        "file", os.path.realpath("data:v2/part-0")
    )
    assert _uri_parts("/tmp/x") == ("file", os.path.realpath("/tmp/x"))
    assert _uri_parts("file:/tmp/x") == ("file", os.path.realpath("/tmp/x"))
    assert _uri_parts("hdfs://nn:8020/a/b") == ("hdfs", "//nn:8020/a/b")
    assert _uri_parts("s3a://bkt/a") == ("s3a", "//bkt/a")


def test_ivf_pq_refresh_defaults_geometry_from_sidecar(spark, tmp_path):
    """ADVICE r20: `ivf_pq_refresh_from_change_stream` must default
    num_subspaces/num_codewords/dim from the layout's _params.json
    sidecar, so a NON-default-geometry deployment that passes no
    geometry args refreshes correctly instead of failing the first
    micro-batch against hardcoded defaults."""
    import shutil

    from pyspark.sql import functions as F

    from github_event_etl_spark.operators.index_maintenance import (
        _committed_generations,
        ivf_pq_refresh_from_change_stream,
    )
    from github_event_etl_spark.operators.similarity import (
        ivf_pq_write_index,
    )

    dim, subs, cw = 32, 4, 8
    base = spark.range(40).select(
        F.col("id").alias("nid"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: ((F.col("id") * 31 + j * 7) % 23).cast("double")
            - F.lit(11.0),
        ).alias("embedding"),
    )
    layout = str(tmp_path / "pq32")
    ivf_pq_write_index(
        base, layout, num_centroids=4, num_subspaces=subs,
        num_codewords=cw, dim=dim, id_col="nid",
    )
    changes = base.filter(F.col("nid") % 9 == 2).select(
        "nid",
        F.lit("changed").alias("change_type"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    src = tmp_path / "changes32"
    src.mkdir()
    stage = tmp_path / "stage32"
    changes.coalesce(1).write.parquet(str(stage))
    (part,) = [p for p in os.listdir(stage) if p.endswith(".parquet")]
    shutil.copy(os.path.join(stage, part), str(src / "b0.parquet"))
    stream = (
        spark.readStream.schema(
            "nid long, change_type string, embedding array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # no geometry args: must come from the sidecar, not the defaults
    ivf_pq_refresh_from_change_stream(
        stream, layout, checkpoint_dir=str(tmp_path / "ckpt32"),
        id_col="nid",
    )
    assert len(_committed_generations(f"{layout}/lists")) == 1
