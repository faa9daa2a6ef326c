"""Embedding similarity search (SURVEY.md §2 B11; PAPERS.md similarity
lines).

Brute-force cosine top-k is the exact baseline; LSH (random
hyperplanes) and IVF (centroid partitions) are the sub-linear scale
paths. Pairwise cosine math is JVM-side higher-order column expressions
(`zip_with`/`aggregate`) over `array<float>` cast to double — oracle
bit-parity matters there. The one deliberate exception is the LSH
signature step (`rhp_signatures`): 72 hyperplane dots per vector as
column expressions would be interpreted HOFs over a ~10⁴-node literal
tree, so it is an Arrow-vectorized pandas UDF doing one numpy matmul
per batch instead (see its docstring).

Scale posture (100 TB / billions of vectors):
- Brute force: the query set is broadcast (it is small by definition);
  the corpus is scanned once, map-side scored, and per-query top-k uses
  a rank-window. The corpus never shuffles; only Q×N scored (qid, nid,
  sim) rows move, and AQE coalesces those partitions.
- LSH: each vector maps to one bucket signature (map-side); queries
  probe only their own bucket — the join key is the signature, so the
  shuffle is by bucket, never all-pairs.
- IVF: corpus partitioned by nearest of C centroids (broadcast join
  against the tiny centroid table); queries scan only `nprobe`
  centroid partitions. This is the classic inverted-file layout
  expressed as a partition-pruned equi-join.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# --------------------------------------------------------------- cosine math


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold — the same association
    order DuckDB's list sum uses, so oracle comparisons agree to the
    last ulp."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _bq(name: str) -> str:
    """Backtick-quote a column name for SQL interpolation, escaping
    embedded backticks (`` ` `` → ```` `` ````) so an unusual
    caller-supplied column name parses instead of erroring or
    misresolving (ADVICE r21)."""
    return "`" + name.replace("`", "``") + "`"


def _dot_sql(a: str, b: str) -> str:
    """SQL text of `dot` over two NAMED array columns. Rationale
    (r21): every `F.<fn>`/lambda call is a py4j round trip, and a
    `cosine` tree is ~60 of them — plan CONSTRUCTION is real measured
    time (the bench times construction + execution, and a cold driver
    profile showed ~7,300 round trips ≈ 1.5 s building one IVF-PQ
    plan). One `F.expr` parse produces the byte-identical analyzed
    tree JVM-side: same functions, same left-to-right fold, `0D` is
    the same double literal as `F.lit(0.0)`."""
    return (
        f"aggregate(zip_with(CAST({_bq(a)} AS ARRAY<DOUBLE>), "
        f"CAST({_bq(b)} AS ARRAY<DOUBLE>), (x, y) -> x * y), 0D, "
        "(acc, x) -> acc + x)"
    )


def cosine_cols(a: str, b: str) -> Column:
    """`cosine` over two NAMED columns via one SQL parse — the
    construction fast path of the expression twin above (see
    `_dot_sql`); value-identical by construction (same analyzed tree),
    pinned by the expression-parity pytest."""
    return F.expr(
        f"{_dot_sql(a, b)} / (SQRT({_dot_sql(a, a)}) * SQRT({_dot_sql(b, b)}))"
    )


def _subsq_l2_sql(a: str, b: str, lo: int, n: int) -> str:
    """SQL text of one PQ subspace's squared-L2 distance between NAMED
    array columns `a` and `b` (1-based slice [lo, lo+n)) — the
    `sub_dist` expression of `pq_codes`/`_adc_tables`/
    `pq_quantization_error` as a single parse (see `_dot_sql`)."""
    sa = f"slice(CAST({_bq(a)} AS ARRAY<DOUBLE>), {lo}, {n})"
    sb = f"slice(CAST({_bq(b)} AS ARRAY<DOUBLE>), {lo}, {n})"
    return (
        f"aggregate(zip_with({sa}, {sb}, (x, y) -> (x - y) * (x - y)), "
        "0D, (acc, x) -> acc + x)"
    )


# ------------------------------------------- vectorized corpus encode (r22)
#
# The corpus-sized encode passes (PQ code assignment, IVF centroid
# assignment, quantization error) used to run as interpreted Catalyst
# higher-order folds over an n×C broadcast-join expansion feeding a
# groupBy(id) argmin/argmax. That shape ships C copies of every vector
# into interpreted (non-codegen) expression evaluation and pays one
# corpus-sized exchange for the re-aggregation — at sf0.1 two ~1 s
# single-task stages inside llm_ann_ivf_pq_refine; at 100 TB it is the
# entire index-build CPU. The model tables are O(16 rows) by
# construction, so this is guide §4.2 (hand whole Arrow batches to
# numpy) + §8 (decide with small tables): collect the codebook/centroid
# table to the driver (the repo's established O(model)-collect pattern:
# BPE merges, probe planning) and evaluate the argmin/argmax as ONE
# Arrow-vectorized pass over the corpus — no expansion, no join, no
# exchange; the corpus is touched exactly once, map-side.
#
# Bit-equality contract (the DuckDB oracles hash these outputs):
# - `_np_fold_sum` replicates the Catalyst left fold
#   `aggregate(_, 0D, (acc, x) -> acc + x)` EXACTLY: np.cumsum
#   accumulates strictly sequentially (numpy's pairwise-blocked
#   summation applies to reductions, never to cumsum), and the fold's
#   first step `0.0 + p[0]` is applied explicitly so even a `-0.0`
#   first element canonicalizes identically. Elementwise *, -, /, sqrt
#   are correctly-rounded IEEE doubles in both engines, and the
#   float32→float64 widening is exact on both sides.
# - `_np_spark_order` maps doubles to uint64 keys whose unsigned order
#   is Spark's total order for doubles (java.lang.Double.compare with
#   canonical NaN): -inf < … < -0.0 < +0.0 < … < +inf < NaN. argmin /
#   argmax over the keys reproduce the struct-min/struct-max tie-breaks
#   exactly (first index = lowest code_rank / centroid_id, NaN loses
#   every min and wins every max, just as the JVM orders it).


def _np_fold_sum(p) -> "np.ndarray":
    """Bit-exact replica of `aggregate(arr, 0D, (acc, x) -> acc + x)`
    over the LAST axis (see the block comment above)."""
    p = np.array(p, dtype=np.float64, copy=True)
    if p.shape[-1] == 0:
        return np.zeros(p.shape[:-1], dtype=np.float64)
    p[..., 0] = p[..., 0] + 0.0  # the fold's 0D init step
    return np.cumsum(p, axis=-1)[..., -1]


def _np_spark_order(a) -> "np.ndarray":
    """uint64 keys in Spark's double total order (see block comment)."""
    a = np.ascontiguousarray(
        np.where(np.isnan(a), np.float64("nan"), a), dtype=np.float64
    )
    bits = a.view(np.uint64)
    neg = (bits >> np.uint64(63)).astype(bool)
    return np.where(neg, ~bits, bits | np.uint64(1 << 63))


def _np_model_matrix(rows, id_field: str, vec_field: str):
    """Collected O(model) rows → (ids_in_ascending_id_order, float64
    matrix). The ascending sort makes numpy's first-index tie-break
    equal the struct-min/max's lowest-id tie-break. Raises on ragged
    vectors — every caller's model table is derived from one corpus
    with a fixed dimension."""
    ordered = sorted(rows, key=lambda r: r[id_field])
    ids = [r[id_field] for r in ordered]
    widths = {len(r[vec_field]) for r in ordered}
    if len(widths) > 1:
        raise ValueError(
            f"model table '{vec_field}' vectors are ragged ({sorted(widths)}); "
            "the encode contract is a fixed dimension"
        )
    mat = np.asarray([list(r[vec_field]) for r in ordered], dtype=np.float64)
    return ids, mat


def _np_valid_rows(vecs: "pd.Series", width: int):
    """Split an Arrow batch of vectors into (valid_idx, X) where valid
    rows are non-null AND length-matched to the model table — the rows
    the join+agg reference forms (kept in the encode-parity pytest)
    give non-null cosines for: a length mismatch null-pads the zip, so
    every fold is null, and a null vector nulls everything. Invalid
    rows take the reference's null-field ordering outcome, which each
    caller applies. Two corners diverge from the slice-based PQ
    reference, both pinned in that pytest: Arrow hands a null ELEMENT
    over as NaN (NaN qerr, not null), and a vector LONGER than the
    model is invalid here (code 0, null qerr) where the reference
    slices real codes out of its first `dim` elements."""
    vals = vecs.to_numpy()
    valid = np.array(
        [v is not None and len(v) == width for v in vals], dtype=bool
    )
    idx = np.flatnonzero(valid)
    if len(idx) == 0:
        return idx, None
    X = np.stack([np.asarray(vals[i], dtype=np.float64) for i in idx])
    return idx, X


def _np_subspace_dists(X, cmat, s: int, d_sub: int):
    """(rows × codewords) subspace-s squared-L2 matrix, every double
    bit-identical to the `_subsq_l2_sql` fold."""
    lo, hi = s * d_sub, s * d_sub + d_sub
    xs = X[:, lo:hi]
    dist = np.empty((len(X), len(cmat)), dtype=np.float64)
    for r in range(len(cmat)):
        diff = xs - cmat[r, lo:hi]
        dist[:, r] = _np_fold_sum(diff * diff)
    return dist


def _np_pq_subcodes(X, cmat, num_subspaces: int, d_sub: int):
    """(rows × subspaces) argmin code ranks — the struct-min with its
    (distance, code_rank) tie-break, via the total-order keys."""
    codes = np.zeros((len(X), num_subspaces), dtype=np.int64)
    for s in range(num_subspaces):
        dist = _np_subspace_dists(X, cmat, s, d_sub)
        codes[:, s] = np.argmin(_np_spark_order(dist), axis=1)
    return codes


def _pq_encode_udf(codebook_rows, num_subspaces: int, d_sub: int,
                   num_codewords: int):
    """pandas UDF: embedding → packed PQ code against a driver-collected
    codebook. Value-identical to the broadcast-join struct-min it
    replaced — pinned by the encode-parity pytest and the
    sequential-model test; invalid rows (null / wrong dim) pack to 0,
    the null-distance struct-min outcome (rank 0 per subspace)."""
    _, cmat = _np_model_matrix(codebook_rows, "code_rank", "c_vec")

    @pandas_udf("long")
    def encode(vecs: pd.Series) -> pd.Series:
        out = np.zeros(len(vecs), dtype=np.int64)
        idx, X = _np_valid_rows(vecs, cmat.shape[1])
        if X is not None:
            codes = _np_pq_subcodes(X, cmat, num_subspaces, d_sub)
            weights = np.array(
                [num_codewords ** s for s in range(num_subspaces)],
                dtype=np.int64,
            )
            out[idx] = codes @ weights
        return pd.Series(out)

    return encode


def _pq_qerr_udf(codebook_rows, num_subspaces: int, d_sub: int):
    """pandas UDF: embedding → Σ_s min_r subspace squared-L2 — the
    vectorized `pq_quantization_error` body. The subspace minima and
    their left-to-right sum are bit-identical to the F.min +
    column-add chain it replaced; invalid rows yield null (the
    all-null-distance F.min outcome)."""
    _, cmat = _np_model_matrix(codebook_rows, "code_rank", "c_vec")

    @pandas_udf("double")
    def qerr(vecs: pd.Series) -> pd.Series:
        out = np.full(len(vecs), np.nan, dtype=np.float64)
        nulls = np.ones(len(vecs), dtype=bool)
        idx, X = _np_valid_rows(vecs, cmat.shape[1])
        if X is not None:
            total = None
            for s in range(num_subspaces):
                dist = _np_subspace_dists(X, cmat, s, d_sub)
                dmin = dist[
                    np.arange(len(idx)),
                    np.argmin(_np_spark_order(dist), axis=1),
                ]
                total = dmin if total is None else total + dmin
            out[idx] = total
            nulls[idx] = False
        # a masked Float64 extension array keeps null (invalid rows)
        # distinct from a REAL NaN qerr (NaN input elements) — a plain
        # float64 Series would have its NaNs coerced to null by the
        # Arrow return path
        return pd.Series(pd.arrays.FloatingArray(out, nulls))

    return qerr


def _ivf_assign_udf(centroid_rows, cid_type):
    """pandas UDF: embedding → nearest centroid_id against a
    driver-collected centroid table. Value-identical to the
    broadcast-join struct-max it replaced: NaN cosines WIN the
    max (Spark orders NaN largest) with the lowest-centroid_id
    tie-break, and invalid rows (null / wrong dim ⇒ all-null cosine)
    take the lowest centroid_id, the null-field struct-max outcome."""
    cids, cmat = _np_model_matrix(centroid_rows, "centroid_id", "c_vec")
    cid_arr = np.asarray(cids)
    cnorm = np.sqrt(_np_fold_sum(cmat * cmat))

    @pandas_udf(cid_type)
    def assign(vecs: pd.Series) -> pd.Series:
        out = np.full(len(vecs), cid_arr[0])
        idx, X = _np_valid_rows(vecs, cmat.shape[1])
        if X is not None:
            xnorm = np.sqrt(_np_fold_sum(X * X))
            sims = np.empty((len(idx), len(cmat)), dtype=np.float64)
            for c in range(len(cmat)):
                sims[:, c] = _np_fold_sum(X * cmat[c]) / (xnorm * cnorm[c])
            best = np.argmax(_np_spark_order(sims), axis=1)
            out[idx] = cid_arr[best]
        return pd.Series(out)

    return assign


# ---------------------------------------------------------------- brute force


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    `queries` is broadcast — the physical plan is a
    BroadcastNestedLoopJoin streaming the corpus once; no corpus
    shuffle. Per-query ranking is a window over the Q×N scored rows
    with a deterministic (sim DESC, nid ASC) tie-break.
    """
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("c_vec")
    )
    scored = c.join(F.broadcast(q), F.col("qid") != F.col("nid")).select(
        "qid", "nid", cosine_cols("q_vec", "c_vec").alias("sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "nid", F.round("sim", 6).alias("sim_r"))
    )


# ------------------------------------------------------------------ LSH (RHP)


def _hyperplane(seed: int, dim: int) -> list[int]:
    """Deterministic ±1 hyperplane: component d's sign is a bit of
    md5(seed|d). Pure Python, no RNG state — reproducible everywhere."""
    out = []
    for d in range(dim):
        h = hashlib.md5(f"rhp|{seed}|{d}".encode()).digest()
        out.append(1 if h[0] & 1 else -1)
    return out


# Seed-namespace floor for the JL projection planes. RHP tables seed at
# t*1000+p; JL rows seed at _JL_SEED_BASE+j. The namespaces must stay
# disjoint or the projection would share (be correlated with) the
# banding hyperplanes — _plane_matrix asserts it loudly rather than
# leaving the disjointness to convention (ADVICE r16).
_JL_SEED_BASE = 20_000


def _plane_matrix(dim: int, num_tables: int, planes_per_table: int):
    """All hyperplanes stacked as one (num_tables·planes_per_table, dim)
    ±1 matrix, row-ordered (table-major) to match signature bit order."""
    max_seed = (num_tables - 1) * 1000 + (planes_per_table - 1)
    if num_tables > 0 and max_seed >= _JL_SEED_BASE:
        raise ValueError(
            f"RHP plane seeds reach {max_seed}, colliding with the JL "
            f"projection's seed namespace ({_JL_SEED_BASE}+) — an RHP "
            "retune past num_tables=20 (or planes_per_table=1000) must "
            "first move _JL_SEED_BASE, or the projection silently "
            "shares hyperplanes with the banding"
        )
    rows = [
        _hyperplane(t * 1000 + p, dim)
        for t in range(num_tables)
        for p in range(planes_per_table)
    ]
    return np.asarray(rows, dtype=np.float64)


def rhp_signatures(dim: int, num_tables: int, planes_per_table: int):
    """Multi-table random-hyperplane LSH signatures as a vectorized
    pandas UDF: vector → array of `num_tables` sign-bit strings (bit p
    of table t is sign(vec·plane[t,p]), '1' for positive). Two vectors
    are candidates if ANY table's signature matches — table count
    trades candidate volume for recall exactly like MinHash banding.

    Why a pandas UDF and not column expressions: the expression form is
    num_tables×planes_per_table `aggregate(zip_with(...))` dot products
    per row — higher-order functions run interpreted (no codegen), and
    the literal-plane tree is ~10⁴ nodes. One numpy matmul per Arrow
    batch computes all 72 dots for thousands of rows at once; this is
    the documented builtin-can't-express-it-efficiently exception.
    The plane matrix is closure-captured, so it ships once per task in
    the serialized UDF, not per row."""
    M = _plane_matrix(dim, num_tables, planes_per_table)  # (T*P, dim)
    weights = 1 << np.arange(planes_per_table - 1, -1, -1)  # MSB = plane 0
    width = planes_per_table

    @pandas_udf(T.ArrayType(T.StringType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna()
        packed: list[list[str]] = []
        if mask.any():
            V = np.asarray(list(vecs[mask]), dtype=np.float64)  # (n, dim)
            bits = (V @ M.T) > 0  # (n, T*P)
            codes = bits.reshape(len(V), num_tables, width) @ weights
            packed = [
                [format(c, f"0{width}b") for c in row] for row in codes
            ]
        it = iter(packed)
        return pd.Series([next(it) if ok else None for ok in mask])

    return sigs


def jl_plane_rows(dim: int, out_dim: int) -> list[list[int]]:
    """The ±1 projection matrix for `jl_projection`, row per output
    dimension — the same md5-derived `_hyperplane` family the RHP
    buckets use (seed namespace _JL_SEED_BASE+ keeps it disjoint from
    the RHP tables' t*1000+p seeds — enforced by _plane_matrix's guard),
    so the matrix is engine-portable with ONE source of truth: oracles
    interpolate these exact rows as SQL literals."""
    return [_hyperplane(_JL_SEED_BASE + j, dim) for j in range(out_dim)]


def jl_projection(dim: int, out_dim: int):
    """Johnson-Lindenstrauss random projection as a vectorized pandas
    UDF: vector (dim floats) → vector (out_dim floats), x → M·x with M
    the deterministic ±1 matrix above (the database-friendly sparse
    family of Achlioptas 2001 at density 1 — ±1 entries, no RNG
    state). JL preserves pairwise angles/distances within (1±ε) at
    out_dim = O(log n / ε²), which is the 100 TB move for ANN
    preprocessing: project once map-side, then every downstream
    index/search pass (IVF training, RHP banding, brute re-rank)
    touches out_dim/dim of the embedding bytes — at 64→16 that is a 4×
    cut in the memory AND shuffle width of the similarity family's
    dominant columns.

    Same shape rationale as `rhp_signatures` (the documented
    builtin-can't-express-it-efficiently exception): out_dim×dim dot
    products per row as higher-order-function expressions would run
    interpreted; one numpy matmul per Arrow batch computes them all.
    NULL vectors project to NULL (the notna mask), mirroring the
    signature UDF's guard.

    What out_dim buys — measured on the synthetic corpus at 64→16:
    near-DUPLICATE structure survives fully (every planted ≈0.999-
    cosine pair stays its base's top-1 neighbor; the ~0.5 cosine gap
    to organic neighbors dwarfs the ε ≈ sqrt(c/16) distortion), while
    fine-grained ORDER among near-tie organic neighbors does not
    (top-10 overlap vs full-dim ≈ 0.1 — their cosine gaps sit far
    below ε). So 16 dims is a dedup/coarse-filter setting; pick
    out_dim from the JL bound for the smallest cosine gap the
    downstream consumer must keep ordered."""
    M = np.asarray(jl_plane_rows(dim, out_dim), dtype=np.float64)

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def proj(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna()
        out: list[list[float]] = []
        if mask.any():
            V = np.asarray(list(vecs[mask]), dtype=np.float64)  # (n, dim)
            out = (V @ M.T).tolist()  # (n, out_dim)
        it = iter(out)
        return pd.Series([next(it) if ok else None for ok in mask])

    return proj


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_tables: int = 12,
    planes_per_table: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing at least one
    LSH table bucket with the query. The (table, sig) equi-join replaces
    the all-pairs scan; candidates are deduped before scoring so each
    pair is scored once. At N vectors, 2^p buckets per table keeps each
    join partition ~N/2^p; raise p as N grows, raise the table count to
    buy recall back."""
    sig_fn = rhp_signatures(dim, num_tables, planes_per_table)

    def sig(df, idc, vc):
        return df.select(
            F.col(idc),
            F.col(vc),
            F.posexplode(sig_fn(F.col(vc))).alias("table", "sig"),
        )

    q = sig(queries, id_col, vec_col).select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec"), "table", "sig"
    )
    c = sig(corpus, id_col, vec_col).select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("c_vec"), "table", "sig"
    )
    cand = (
        c.join(F.broadcast(q), on=["table", "sig"])
        .filter(F.col("qid") != F.col("nid"))
        .select("qid", "q_vec", "nid", "c_vec")
        .dropDuplicates(["qid", "nid"])
    )
    scored = cand.select(
        "qid", "nid", cosine_cols("q_vec", "c_vec").alias("sim")
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "nid", F.round("sim", 6).alias("sim_r"))
    )


# ---------------------------------------------------------------------- IVF


def ivf_assign(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build an inverted-file index: pick `num_centroids` deterministic
    seed vectors DISTRIBUTED-SIDE, broadcast them, and assign every
    corpus vector to its nearest centroid. Returns
    (assigned_corpus, centroids).

    Seed selection never collects corpus ids to the driver (at 10⁹
    vectors that is a driver OOM) and runs NO sizing action at all:
    rank every row by `md5(id)` (a uniform, engine-agnostic scramble of
    the id space) and take the C smallest — `orderBy(hash).limit(C)`
    plans as a distributed TakeOrdered, a per-partition C-element heap,
    so only the C chosen rows ever leave the executors and the index
    build is exactly one pass over the corpus. (The previous form sized
    a modulus filter with a `count()` — a whole extra corpus scan per
    build.) md5 rather than xxhash64 deliberately: DuckDB computes the
    identical hex ranking, so the whole IVF pipeline — seeding,
    assignment, probe, ranking — carries a full value oracle
    (queries_llm.llm_ann_ivf). Deterministic for a given corpus:
    unique-id tie-break.

    At scale the assigned table is written partitioned by `centroid_id`
    so a probe reads only nprobe/C of the data (partition pruning).

    r22: the seed table materializes ONCE here (O(C) rows — the same
    collect the vectorized assignment needs anyway) and is returned as
    a LOCAL relation, so every downstream probe/broadcast consumer
    stops re-planning the corpus-sized TakeOrdered; values round-trip
    exactly (float32 widen/narrow of collected values is lossless)."""
    centroids = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
    rows = centroids.collect()
    local = corpus.sparkSession.createDataFrame(rows, centroids.schema)
    cid_type = centroids.schema["centroid_id"].dataType
    return _ivf_assign_rows(corpus, rows, cid_type, id_col, vec_col), local


def ivf_seed_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_assign`'s seeding step, standalone: the C deterministic
    md5-ranked seed vectors as a (centroid_id, c_vec) table. Exposed
    separately so a FROZEN coarse quantizer can be seeded once from a
    reference corpus and reused across snapshot refreshes
    (`queries_llm.llm_ivf_apply_diff`) — re-seeding per snapshot would
    silently re-list the whole index. Same distributed TakeOrdered
    shape as documented on `ivf_assign`."""
    return (
        corpus.orderBy(
            F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col)
        )
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("c_vec")
        )
    )


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe: rank centroids per query, scan only the top-`nprobe`
    centroid partitions, exact-score within them."""
    assigned, centroids = ivf_assign(corpus, num_centroids, id_col, vec_col)
    return ivf_probe(
        assigned, centroids, queries, k, nprobe, id_col, vec_col
    )


def _pre_topk_salted(
    scored: DataFrame,
    k: int,
    order_by: list,
    n_salts: int,
    group_col: str = "qid",
    salt_from: str = "nid",
) -> DataFrame:
    """Per-(group, salt) partial top-k ahead of a global per-group rank
    window — the probe-side HOT-LIST skew mitigation (VERDICT r19 item
    3, the `operators/skew.py` salting pattern applied to ANN ranking).

    Real embedding corpora concentrate mass in few IVF cells; a query
    probing a hot inverted list feeds that list's entire candidate set
    into ONE rank-window task (window functions co-locate each
    partition key), so the probe stage's max task input grows with the
    hottest list, not the average. Salting nid deterministically into
    `n_salts` sub-keys bounds that task at ~|candidates|/n_salts: the
    first window ranks within (group, salt) and keeps k per sub-key,
    the global window then ranks ≤ n_salts×k survivors per group.
    Result-identical by construction — a group's global top-k is a
    subset of the union of its per-salt top-ks (each global winner
    wins its own salt slice too) — pinned by frame-equality pytest.
    The salt is a content hash (xxhash64, the skew.py rule), never
    rand(): retries and replays must salt identically."""
    if n_salts < 1:
        raise ValueError(
            f"topk_salts must be a positive int, got {n_salts!r}"
        )
    salted = scored.withColumn(
        "_tk_salt", F.pmod(F.xxhash64(salt_from), F.lit(n_salts))
    )
    w1 = Window.partitionBy(group_col, "_tk_salt").orderBy(*order_by)
    return (
        salted.withColumn("_tk_r", F.row_number().over(w1))
        .filter(F.col("_tk_r") <= k)
        .drop("_tk_salt", "_tk_r")
    )


def ivf_probe(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    topk_salts: int | None = None,
) -> DataFrame:
    """The IVF search shared by every index source — a freshly built
    assignment (`ann_ivf`), the on-disk partitioned layout
    (`ann_ivf_partitioned`), or a diff-MAINTAINED index
    (`index_maintenance.apply_index_diff` / `read_index` output, whose
    search-equivalence to a rebuild is pinned in pytest): rank
    centroids per query (broadcast of the tiny centroid table), keep
    the top-`nprobe` lists, candidate-join the assigned table against
    the broadcast probe set (partition-pruned when `assigned` is the
    partitioned scan), exact-score within them with a deterministic
    (sim DESC, id ASC) tie-break.

    `topk_salts`: bound the rank stage's max task input on skewed
    (hot-list) layouts via a salted partial top-k before the global
    per-query window (`_pre_topk_salted` — result-identical; use when
    `index_maintenance.ivf_list_stats` reports a hot list)."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec"))
    qc = q.join(F.broadcast(centroids)).select(
        "qid", "q_vec", "centroid_id",
        cosine_cols("q_vec", "c_vec").alias("_csim"),
    )
    wq = Window.partitionBy("qid").orderBy(F.col("_csim").desc(), F.col("centroid_id"))
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("qid", "q_vec", "centroid_id")
    )
    cand = assigned.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("c_vec"), "centroid_id"
    ).join(F.broadcast(probes), on="centroid_id").filter(F.col("qid") != F.col("nid"))
    scored = cand.select(
        "qid", "nid", cosine_cols("q_vec", "c_vec").alias("sim")
    )
    if topk_salts:
        scored = _pre_topk_salted(
            scored, k, [F.col("sim").desc(), F.col("nid")], topk_salts
        )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "nid", F.round("sim", 6).alias("sim_r"))
    )


def pq_codes(
    corpus: DataFrame,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization codes — the standard embedding-compression
    step for billion-vector similarity search (IVF-PQ): split each
    vector into `num_subspaces` contiguous subvectors, assign each
    subvector to its nearest codeword (squared L2, argmin), and pack
    the per-subspace code indices into one integer. 64-dim float32 →
    one BIGINT per vector (8 subspaces × 4 bits here): a 64×
    compression that makes a 100 TB embedding corpus scan-able.

    The codebook is deterministic, not k-means: per subspace, the
    codewords are the subvectors of the `num_codewords` md5-rank seed
    rows (the ivf_assign seeding idiom — distributed TakeOrdered,
    engine-reproducible so the DuckDB oracle re-derives the identical
    codebook). Real systems would refine these seeds with k-means
    sweeps; the operator SHAPE — O(model) codebook, map-side
    per-subspace argmin with a (distance, code_rank) tie-break, pack —
    is identical, and a trained codebook slots in as a drop-in
    `codebook` replacement.

    Scale shape (r22, guide §4.2/§8): the O(16-row) codebook is
    collected to the driver and the per-subspace argmin runs as ONE
    Arrow-vectorized numpy pass over the corpus — no n×C expansion, no
    join, no exchange; the corpus is scanned once and only (id, code)
    leaves the stage. The previous broadcast-join + struct-min shape
    (kept only as the encode-parity pytest's reference) evaluated the
    folds INTERPRETED over C copies of every vector and re-aggregated
    through a corpus-sized exchange. Distances fold left-to-right in
    double, bit-matching DuckDB's list sum (see `_np_fold_sum`); codes
    are per input ROW (ids are unique by the corpus contract — the
    legacy groupBy collapsed duplicate ids, the vectorized form
    preserves rows). An empty codebook gives zero rows in the same
    schema, as the inner join did.

    Known divergence from that reference, pinned in the parity pytest:
    a vector LONGER than `dim` packs to code 0 (it fails the
    fixed-dimension check, like a null vector), where the reference's
    per-subspace slices encode its first `dim` elements. A null
    ELEMENT reaches numpy as NaN; that is a divergence for
    `pq_quantization_error` only — its subspace takes rank 0 on both
    paths, so the codes agree."""
    d_sub = dim // num_subspaces
    # A caller composing several PQ stages (ann_ivf_pq, ann_pq_adc
    # pipelines) passes the codebook it already built — Catalyst does
    # NOT dedupe two identically-derived codebook subtrees, and each
    # one plans its own distributed-TakeOrdered corpus pass.
    if codebook is None:
        codebook = pq_codebook(corpus, num_codewords, id_col, vec_col)
    rows = codebook.select("code_rank", "c_vec").collect()
    enc = _pq_encode_udf(rows, num_subspaces, d_sub, num_codewords)
    codes = corpus.select(F.col(id_col), enc(F.col(vec_col)).alias("pq_code"))
    return codes if rows else codes.limit(0)


def pq_codebook(
    corpus: DataFrame,
    num_codewords: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deterministic PQ codebook used by `pq_codes`: the
    `num_codewords` md5-rank seed rows with a 0-based rank in the same
    ordering. Split out so the search path (`ann_pq_adc`) derives the
    IDENTICAL codebook from the corpus without re-stating the idiom."""
    rank_key = F.md5(F.col(id_col).cast("string").cast("binary"))
    seeds = (
        corpus.orderBy(rank_key, F.col(id_col))
        .limit(num_codewords)
        .select(F.col(id_col).alias("code_id"), F.col(vec_col).alias("c_vec"))
    )
    wseed = Window.orderBy(
        F.md5(F.col("code_id").cast("string").cast("binary")), F.col("code_id")
    )
    return seeds.withColumn(
        "code_rank", (F.row_number().over(wseed) - 1).cast("int")
    )


def pq_quantization_error(
    corpus: DataFrame,
    codebook: DataFrame,
    num_subspaces: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector PQ reconstruction error against a (frozen) codebook:
    Σ_s min_r ||x_s − c_{r,s}||² — exactly the per-subspace distance
    `pq_codes` minimizes when choosing codewords, so this IS the
    squared L2 between a vector and its PQ reconstruction under that
    codebook. Returns (`id_col`, qerr).

    This is the QUANTIZER-DRIFT signal (VERDICT r19 item 2): the
    maintenance layer deliberately freezes the codebook so refreshes
    stay probe-compatible, but a corpus drifting away from what the
    codebook was derived from makes ADC distances ever coarser with no
    error anywhere — recall decays silently. `ivf_pq_write_index`
    records the build corpus' error stats in the `_params.json`
    sidecar, `ivf_pq_write_index_delta` logs each refresh batch's, and
    `index_maintenance.maybe_retrain` is the policy that compares and
    triggers the re-derive rebuild. (Reference analog: the
    fresh-vs-incremental summary decision,
    update-contributor-scores.js:252-263 — observe the maintained
    artifact's state and recompute from scratch when merging stops
    being the right call.)

    Scale shape: identical to `pq_codes` (r22) — the O(16-row) codebook
    collects to the driver and the per-subspace minima run as ONE
    Arrow-vectorized pass over the input; no expansion, no join, no
    exchange. Change-sized when fed a refresh batch, corpus-sized only
    at build/audit time. An empty codebook gives zero rows in the same
    schema, as the join+agg form it replaced did.

    Known divergences from that join+agg reference, pinned in the
    encode-parity pytest: a NULL element inside a vector reaches numpy
    as NaN, so its qerr is NaN where the reference's F.min gave NULL;
    and a vector LONGER than `dim` gets a NULL qerr (invalid, like a
    null vector) where the reference sliced a real error out of its
    first `dim` elements."""
    d_sub = dim // num_subspaces
    rows = codebook.select("code_rank", "c_vec").collect()
    qerr = _pq_qerr_udf(rows, num_subspaces, d_sub)
    errs = corpus.select(F.col(id_col), qerr(F.col(vec_col)).alias("qerr"))
    return errs if rows else errs.limit(0)


def _qerr_stats(
    docs: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> dict:
    """Driver-side summary of `pq_quantization_error` over `docs` —
    the three scalars every drift consumer reads (mean, p95, n). p95
    is approx_percentile (sketch-exact enough for a monitoring ratio;
    an EXACT percentile would buffer each group's values in executor
    memory, which a corpus-sized audit cannot afford). Empty input
    reports n=0 with null errors — the caller decides what an empty
    refresh means (nothing drifted)."""
    row = pq_quantization_error(
        docs, codebook, num_subspaces, dim, id_col, vec_col
    ).agg(
        F.avg("qerr").alias("m"),
        F.expr("approx_percentile(qerr, 0.95, 10000)").alias("p"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return {
        "qerr_mean": None if row["m"] is None else float(row["m"]),
        "qerr_p95": None if row["p"] is None else float(row["p"]),
        "n": int(row["n"]),
    }


def _adc_tables(
    q: DataFrame,
    codebook: DataFrame,
    num_subspaces: int,
    dim: int,
) -> DataFrame:
    """Per-query ADC lookup tables: (qid, t0..t{S-1}) where t_s is the
    codeword-rank-ordered array of (q_vec-subvector → codeword)
    squared L2 distances for subspace s. Built from a broadcast
    codebook join (Q × C rows) aggregated into arrays via sort_array
    over (rank, dist) structs. Both per-subspace expression families
    build as single SQL parses (r21, see `_dot_sql` — construction
    round trips), tree-identical to the F.-combinator forms they
    replace."""
    d_sub = dim // num_subspaces

    qc = q.join(F.broadcast(codebook)).select(
        "qid",
        "code_rank",
        *[
            F.expr(
                _subsq_l2_sql("q_vec", "c_vec", s * d_sub + 1, d_sub)
            ).alias(f"d{s}")
            for s in range(num_subspaces)
        ],
    )
    return qc.groupBy("qid").agg(
        *[
            F.expr(
                "transform(sort_array(collect_list(struct(code_rank, "
                f"d{s}))), st -> st.d{s})"
            ).alias(f"t{s}")
            for s in range(num_subspaces)
        ]
    )


def _adc_distance(num_subspaces: int, num_codewords: int) -> Column:
    """Σ_s t_s[code_s]: the ADC approximate distance of a packed
    `pq_code` against the row's ADC lookup arrays t0..t{S-1}, added
    left-to-right (the association order the oracles mirror). One SQL
    parse for the whole sum (r21, see `_dot_sql`); integer unpack is
    (code div 16^s) mod 16 — no doubles near ids."""
    terms = [
        f"element_at(t{s}, CAST((pq_code div {num_codewords ** s}) "
        f"% {num_codewords} AS INT) + 1)"
        for s in range(num_subspaces)
    ]
    return F.expr(" + ".join(f"({t})" for t in terms))


def ann_pq_adc(
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ search by asymmetric distance computation (ADC): each query
    precomputes its 8×16 table of (query-subvector → codeword) squared
    L2 distances, and every corpus vector's approximate distance is
    then 8 table lookups on its packed code — no touching the original
    embeddings, which is the entire point: the scan reads only the
    BIGINT codes (64× smaller than float32 vectors at these
    parameters). Returns (qid, rnk, nid, adist) — approximate distance,
    ascending, deterministic (adist, nid) tie-break.

    Scale shape: the distance tables live on the query side — q × 8
    arrays of 16 doubles — built from a broadcast codebook join and
    aggregated into lookup arrays (`_adc_tables`), then THAT tiny frame
    broadcasts against the codes scan: the corpus side stays map-side
    until the per-qid top-k window (q×n narrow rows, same exchange
    shape as brute-force kNN, but each row costs 8 array lookups
    instead of a 64-dim cosine). The production variant that also cuts
    n via IVF partition pruning is `ann_ivf_pq`."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec"))
    tables = _adc_tables(q, codebook, num_subspaces, dim)
    scored = codes.join(F.broadcast(tables))
    w = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    return (
        scored.select(
            "qid",
            F.col(id_col).alias("nid"),
            _adc_distance(num_subspaces, num_codewords).alias("adist"),
        )
        .filter(F.col("qid") != F.col("nid"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "nid", "adist")
    )


def ann_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 4,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ — the billion-vector ANN flagship, composing the two
    pruning axes: IVF cuts WHICH vectors are scored (queries probe only
    their `nprobe` nearest of `num_centroids` inverted lists) and PQ
    cuts WHAT is read per vector (8 ADC table lookups on a packed
    BIGINT code instead of a 64-dim cosine on float embeddings). This
    is the FAISS IVFADC layout expressed relationally. Returns
    (qid, rnk, nid, adist), ascending approximate distance with a
    deterministic (adist, nid) tie-break.

    Scale shape: the inverted lists carry ONLY (nid, centroid_id,
    pq_code) — at 100 TB of embeddings the list storage is ~64×
    smaller than the vectors, and a probe reads nprobe/C of it
    (written `partitionBy(centroid_id)`, the scan is additionally
    partition-pruned — `ivf_write_index` shows the physical layout).
    Query side: centroid ranking and ADC tables are both built against
    broadcast tiny tables, then the (qid, centroid_id, t0..t7) probe
    frame — q × nprobe rows — broadcasts against the code lists. The
    corpus never shuffles; scored volume is Σ probed-list sizes, not
    q × n. Fully deterministic (md5 seeding, id tie-breaks), so the
    whole composition carries a value oracle (queries_llm).
    """
    lists, centroids, codebook = _ivf_pq_build_tables(
        corpus, num_centroids, num_subspaces, num_codewords, dim,
        id_col, vec_col,
    )
    return _ivf_pq_probe_rank(
        lists, centroids, codebook, queries, k, nprobe,
        num_subspaces, num_codewords, dim, id_col, vec_col,
    )


def _ivf_pq_build_tables(
    corpus: DataFrame,
    num_centroids: int,
    num_subspaces: int,
    num_codewords: int,
    dim: int,
    id_col: str,
    vec_col: str,
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
):
    """The IVF-PQ table-build head — (nid, centroid_id, pq_code)
    inverted lists plus the centroid and codebook tables — ONE copy
    shared by the in-memory flagship (`ann_ivf_pq`), the index
    writer (`ivf_pq_write_index`), and the maintenance re-encode hook
    (`ivf_pq_encode_fn`), the same no-drift rule as the probe tail:
    an edit to the lists join or the code derivation in one consumer
    and not the other would silently break the disk ≡ memory ≡
    maintained equality the serving layout depends on.

    Pass `centroids` / `codebook` to build against FROZEN model
    artifacts instead of deriving them from `corpus` (the refresh
    loop's contract: the coarse quantizer and codebook are versioned
    separately from corpus snapshots and only re-trained at
    compaction time — deriving them per snapshot would silently
    re-list and re-code the whole index). With both supplied,
    `num_centroids` is unused and `corpus` may be any change-sized
    docs frame, not the full corpus.

    Build shape (r22): both O(16-row) model tables collect to the
    driver and the assignment AND the packed code compute in ONE
    fused Arrow pass over the corpus — Spark plans adjacent pandas
    UDFs as a single ArrowEvalPython, so the corpus is scanned once,
    map-side, with no join and no exchange. The previous shape built
    assignment and codes as two separate corpus-sized aggregations
    and re-attached them with a corpus-sized equi-join on `nid` (the
    two SortMergeJoins the r21 plans carried). A model table derived
    from `corpus` (centroids/codebook = None) is materialized here
    once and returned as a LOCAL relation, so downstream probe/ADC
    consumers stop re-running the corpus-sized TakeOrdered per
    broadcast build — values round-trip exactly (float32 widen/narrow
    is lossless on collected values; schema preserved verbatim)."""
    if centroids is None:
        centroids = ivf_seed_centroids(corpus, num_centroids, id_col, vec_col)
    if codebook is None:
        codebook = pq_codebook(corpus, num_codewords, id_col, vec_col)
    c_rows = centroids.collect()
    cb_rows = codebook.collect()
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(c_rows, centroids.schema)
    codebook = spark.createDataFrame(cb_rows, codebook.schema)
    assign = _ivf_assign_udf(
        c_rows, centroids.schema["centroid_id"].dataType
    )
    enc = _pq_encode_udf(
        cb_rows, num_subspaces, dim // num_subspaces, num_codewords
    )
    lists = corpus.select(
        F.col(id_col).alias("nid"),
        assign(F.col(vec_col)).alias("centroid_id"),
        enc(F.col(vec_col)).alias("pq_code"),
    )
    # an empty model table lists nothing (the inner-join semantics)
    if not c_rows or not cb_rows:
        lists = lists.limit(0)
    return lists, centroids, codebook


def ivf_pq_encode_fn(
    centroids: DataFrame,
    codebook: DataFrame,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    vec_col: str = "embedding",
):
    """The code-recompute hook that puts the IVF-PQ serving lists
    inside the apply-diff maintenance contract
    (`index_maintenance.ivf_pq_write_index_delta`): maps a
    ('nid', `vec_col`) docs frame to serving-list rows
    (nid, centroid_id, pq_code) against FROZEN centroid and codebook
    tables — the exact `_ivf_pq_build_tables` head the layout was
    written with, so maintained appends are bit-identical to what a
    rebuild would encode for the same vectors. A re-embedded vector
    re-runs BOTH derivations: its list assignment (cosine argmin over
    the broadcast centroids) and its packed code (per-subspace argmin
    over the broadcast codebook) — encoding against a frozen codebook
    is the standard IVF-PQ refresh shape (the quantizer is a model
    artifact; the lists are data).

    Scale shape: everything is change-sized — the docs frame arriving
    here has already been broadcast-semi-filtered to the diff's
    upserted keys (`_upsert_docs`), and both model tables broadcast —
    so a daily refresh costs O(changes) assignment+encoding CPU, never
    the O(corpus) rebuild pass `ivf_pq_write_index` runs."""

    def encode(docs: DataFrame) -> DataFrame:
        lists, _, _ = _ivf_pq_build_tables(
            docs, 0, num_subspaces, num_codewords, dim, "nid", vec_col,
            centroids=centroids, codebook=codebook,
        )
        return lists

    return encode


def _ivf_pq_probe_rank(
    lists: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    num_subspaces: int,
    num_codewords: int,
    dim: int,
    id_col: str,
    vec_col: str,
    topk_salts: int | None = None,
) -> DataFrame:
    """The IVF-PQ probe/ADC/rank tail over its three tables —
    (nid, centroid_id, pq_code) inverted lists, the tiny centroid
    table, the codebook — ONE implementation shared by the in-memory
    flagship (`ann_ivf_pq`, which derives the tables inline) and the
    on-disk serving path (`ann_ivf_pq_partitioned`, which reads them
    back from the `ivf_pq_write_index` layout), so the two can never
    drift on probe selection, ADC arithmetic, or tie-breaks — the same
    sharing rule as the incremental-dedup classify skeleton."""
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec"))
    qc = q.join(F.broadcast(centroids)).select(
        "qid",
        "q_vec",
        "centroid_id",
        cosine_cols("q_vec", "c_vec").alias("_csim"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("_csim").desc(), F.col("centroid_id")
    )
    probes = (
        qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("qid", "centroid_id")
    )
    tables = _adc_tables(q, codebook, num_subspaces, dim)
    # both sides are query-sized (Q×nprobe and Q rows) — broadcast the
    # attach so no sort-merge exchange ever appears on the probe path
    probe_tabs = probes.join(F.broadcast(tables), "qid")
    scored = lists.join(F.broadcast(probe_tabs), "centroid_id").filter(
        F.col("qid") != F.col("nid")
    )
    ranked = scored.select(
        "qid",
        "nid",
        _adc_distance(num_subspaces, num_codewords).alias("adist"),
    )
    if topk_salts:
        ranked = _pre_topk_salted(
            ranked, k, [F.col("adist"), F.col("nid")], topk_salts
        )
    w = Window.partitionBy("qid").orderBy(F.col("adist"), F.col("nid"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "nid", "adist")
    )


def ann_ivf_pq_refine(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine_r: int = 30,
    num_centroids: int = 16,
    nprobe: int = 4,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank refinement after IVF-PQ ADC — the FAISS
    IVFADC+refine shape (the PAPERS.md similarity-search anchor):
    ADC's quantized distances choose a candidate SHORTLIST
    (`refine_r` ≥ k per query), then only those Q·refine_r rows join
    back to their TRUE embeddings and are re-scored with exact cosine
    for the final top-k. Returns (qid, rnk, nid, sim_r) — the same
    shape as `knn_bruteforce`, because the whole point is to close the
    recall gap toward it: ADC's 4-bit codes blur near-ties, and the
    exact re-rank reorders (and, vs a straight ADC top-k, recovers)
    the neighbors the quantization scrambled at the cut line —
    recall@k(refined) ≥ recall@k(ADC top-k) is pinned in pytest.

    Scale shape: the corpus is touched exactly ONCE beyond the ADC
    stage — the candidate list (Q·refine_r rows, tiny by construction)
    is BROADCAST into a semi-sized equi-join against the embedding
    scan, so no corpus shuffle and no second full read of the packed
    codes; the query vectors broadcast likewise. Everything is
    built-in column arithmetic (the shared `cosine` expression), fully
    deterministic (md5 seeding upstream, (sim DESC, nid) tie-break
    here), so the composition carries a full value oracle end to end
    (queries_llm: llm_ann_ivf_pq_refine)."""
    _require_shortlist("ann_ivf_pq_refine", refine_r, k)
    cands = ann_ivf_pq(
        corpus, queries, k=refine_r, num_centroids=num_centroids,
        nprobe=nprobe, num_subspaces=num_subspaces,
        num_codewords=num_codewords, dim=dim,
        id_col=id_col, vec_col=vec_col,
    ).select("qid", "nid")
    return _exact_rerank(corpus, queries, cands, k, id_col, vec_col)


def _require_shortlist(fn: str, refine_r: int, k: int) -> None:
    """The one copy of the refine contract check, shared by both
    refine entry points so the message and semantics cannot drift."""
    if refine_r < k:
        raise ValueError(
            f"{fn}: refine_r ({refine_r}) < k ({k}) — a shortlist "
            "smaller than the final top-k silently returns fewer than "
            "k neighbors per query; pass refine_r >= k (typically "
            "2-4x)"
        )


def _exact_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The refinement tail shared by the in-memory and on-disk
    IVFADC+refine paths: broadcast the (qid, nid) shortlist into an
    equi-join against the embedding scan (the corpus' ONLY appearance
    — no shuffle), attach the broadcast query vectors, exact-cosine
    re-rank to the final top-k in the `knn_bruteforce` output shape."""
    q = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("q_vec")
    )
    rescored = (
        corpus.select(
            F.col(id_col).alias("nid"), F.col(vec_col).alias("n_vec")
        )
        .join(F.broadcast(cands), "nid")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "nid",
            cosine_cols("q_vec", "n_vec").alias("sim"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
    return (
        rescored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "rnk", "nid", F.round("sim", 6).alias("sim_r"))
    )


def ivf_pq_write_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    codebook: DataFrame | None = None,
    record_train_error: bool = True,
) -> None:
    """Materialize the IVF-PQ serving layout — the physical shape the
    `ann_ivf_pq` docstring promises for a billion-vector deployment:
    packed-code inverted lists (nid, pq_code) written PARTITIONED BY
    centroid_id (one directory per list, each row ~64× smaller than
    its float vector), with the tiny centroid and codebook tables
    beside them. Building it is one broadcast-joined pass over the
    corpus (assignment + codes are both map-side against broadcast
    tables; the one corpus-sized equi-join is the code attach) run per
    corpus SNAPSHOT, not per query; the probe below then reads
    nprobe/C of the lists and never touches an embedding until the
    refine fetch. All md5-seeded — rebuilding from the same corpus
    bit-reproduces the layout.

    The PQ geometry (subspaces, codewords, dim, centroids) is baked
    into the packed codes, so it is persisted in a `_params.json`
    sidecar the readers VALIDATE against: probing with mismatched
    parameters would unpack codes at the wrong base — silently wrong
    distances, no error — which the sidecar turns into a loud
    ValueError. Commit ordering makes a TORN REBUILD detectable too:
    any existing sidecar is DELETED before the first table overwrite
    and the fresh one lands LAST, so the sidecar's presence certifies
    that every table beside it finished under that geometry — an
    in-place rebuild that crashes mid-overwrite leaves no sidecar, and
    `_check_ivf_pq_params` (which REQUIRES one) fails the probe loudly
    instead of unpacking half-new codes against a stale geometry. The
    three writes are one corpus pass plus two cached-table flushes:
    the tiny centroid/codebook frames are cache()'d so the lists write
    populates them and their own writes reuse the cached rows instead
    of re-scanning the corpus (Catalyst does not dedupe
    identically-derived subtrees across actions — the pq_codes
    caching note).

    `record_train_error` (default True) additionally records the build
    corpus' PQ reconstruction-error stats (`pq_quantization_error`
    mean/p95/n) in the sidecar as the quantizer-drift BASELINE
    `index_maintenance.maybe_retrain` compares refresh batches and
    audit passes against. Cost: one extra broadcast-join aggregate
    pass over the corpus at build time (the codebook is already
    cached); pass False to skip it — the layout then serves normally
    but the drift policy refuses to run until a recording rebuild."""
    import contextlib
    import json
    import os

    # frozen-artifact hook (see _ivf_pq_build_tables): a REBUILD of a
    # maintained deployment passes the versioned centroid/codebook
    # tables so the fresh layout stays probe-compatible with indexes
    # its diffs were encoded against
    frozen_centroids = centroids is not None
    lists, centroids, codebook = _ivf_pq_build_tables(
        corpus, num_centroids, num_subspaces, num_codewords, dim,
        id_col, vec_col, centroids=centroids, codebook=codebook,
    )
    # sidecar delete AFTER plan construction, BEFORE the first table
    # write (ADVICE r18): from here until the final atomic sidecar
    # replace the layout is officially "no committed index" — a crash
    # anywhere in between is detected at read time rather than
    # validated against the OLD geometry. Deleting any later would
    # leave a mixed-geometry window; deleting any EARLIER would let a
    # rebuild call that fails plan analysis (a typo'd column name —
    # no table byte touched) needlessly brick a healthy layout.
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(path, "_params.json"))
    # a rebuild replaces the quantizer, so the per-generation drift log
    # (entries measured against the OLD codebook) is meaningless now
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(path, "_drift.json"))
    centroids = centroids.cache()
    codebook = codebook.cache()
    try:
        # with a frozen quantizer the num_centroids ARGUMENT is unused
        # (the table defines the count) — record the truth, not the
        # default, so the sidecar never lies to a future reader; the
        # count is one job that also warms the cache for the writes
        if frozen_centroids:
            num_centroids = centroids.count()
        lists.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{path}/lists"
        )
        centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        codebook.write.mode("overwrite").parquet(f"{path}/codebook")
        train = (
            _qerr_stats(corpus, codebook, num_subspaces, dim,
                        id_col, vec_col)
            if record_train_error
            else None
        )
    finally:
        centroids.unpersist()
        codebook.unpersist()
    params = {
        "num_centroids": num_centroids,
        "num_subspaces": num_subspaces,
        "num_codewords": num_codewords,
        "dim": dim,
    }
    if train is not None:
        params["train_qerr_mean"] = train["qerr_mean"]
        params["train_qerr_p95"] = train["qerr_p95"]
        params["train_n"] = train["n"]
    tmp = os.path.join(path, "_params.json.inprogress")
    with open(tmp, "w") as f:
        json.dump(params, f)
    os.replace(tmp, os.path.join(path, "_params.json"))


def _check_ivf_pq_params(
    path: str, num_subspaces: int, num_codewords: int, dim: int,
    op: str = "ann_ivf_pq_partitioned",
) -> None:
    """Fail fast on PQ-geometry mismatch between an on-disk index and
    the probe call: codes packed under one (subspaces, codewords, dim)
    unpack as garbage under another — NULL or wrong ADC distances that
    sort into the top-k with no exception. The sidecar is REQUIRED:
    `ivf_pq_write_index` has written one since the layout existed and
    commits it LAST (after deleting any stale one first), so a missing
    sidecar means either a rebuild died mid-overwrite (the tables may
    be a geometry mix) or the path is not this layout at all — both
    must fail loudly, not skip validation (ADVICE r18)."""
    import json
    import os

    sidecar = os.path.join(path, "_params.json")
    if not os.path.exists(sidecar):
        raise ValueError(
            f"{op}: no _params.json sidecar at "
            f"{path} — either this is not an ivf_pq_write_index "
            "layout, or an in-place rebuild was interrupted between "
            "the table overwrites and the sidecar commit (the tables "
            "may mix two geometries), or the layout predates the "
            "required sidecar (see BASELINE.md). Rebuild the index "
            "with ivf_pq_write_index"
        )
    with open(sidecar) as f:
        params = json.load(f)
    got = {
        "num_subspaces": num_subspaces,
        "num_codewords": num_codewords,
        "dim": dim,
    }
    bad = {
        k: (params[k], got[k])
        for k in got
        if k in params and params[k] != got[k]
    }
    if bad:
        raise ValueError(
            f"{op}: PQ geometry mismatch vs the "
            f"index at {path} — "
            + ", ".join(
                f"{k}: index={w} call={g}" for k, (w, g) in bad.items()
            )
            + ". Codes packed under the index's geometry unpack as "
            "garbage under the call's; pass the parameters the index "
            "was written with (_params.json)"
        )


def ann_ivf_pq_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    static_prune: bool | str = False,
    topk_salts: int | None = None,
) -> DataFrame:
    """ADC search against the on-disk `ivf_pq_write_index` layout: the
    broadcast (qid, centroid_id, ADC-tables) probe frame equi-joins
    the partition column of the code lists, so Catalyst inserts a
    DYNAMIC PARTITION PRUNING subquery on the scan (plan-gated), and
    what the probed directories hold is packed codes, not vectors.
    As with `ann_ivf_partitioned`, the declarative DPP subquery can be
    dropped by Spark's reuse/benefit machinery (observed at small
    scale); `static_prune=True` plans the probe driver-side —
    ≤ Q×nprobe ids, ONE EAGER job at call time (the returned frame is
    otherwise lazy) — for a static partition filter that ALWAYS
    prunes (executed-metrics-gated); `static_prune="auto"` measures
    the dynamic plan's executed scan metrics once and falls back to
    the static plan with a RuntimeWarning when Spark dropped the
    subquery (`_auto_pruned` — the deployment-acceptance decision
    rule, so a serving stack cannot silently run full-index scans).
    Identical results in all three modes,
    and identical to the in-memory `ann_ivf_pq` for the same corpus
    and parameters (the shared `_ivf_pq_probe_rank` tail;
    frame-equality pytest). PQ geometry arguments are validated
    against the index's `_params.json` sidecar — a mismatch would
    unpack codes at the wrong base, silently corrupting distances.

    The lists are read through `index_maintenance.read_index`, so a
    layout refreshed by `ivf_pq_write_index_delta` (change-sized
    tombstone+append generations under `<path>/lists`) probes its
    MAINTAINED state — committed generations fold over the base as
    broadcast anti-joins + unions before the probe join; a freshly
    built layout has no generations and reads as the plain
    partition-pruned base scan, byte-identical to the pre-maintenance
    plan. Partition pruning survives the fold: the probe's
    centroid_id filter pushes into the base scan AND each generation's
    append scan (both partitioned by centroid_id)."""
    from .index_maintenance import read_index

    _require_prune_mode("ann_ivf_pq_partitioned", static_prune)
    _check_ivf_pq_params(path, num_subspaces, num_codewords, dim)
    lists = read_index(spark, f"{path}/lists", key="nid")
    centroids = spark.read.parquet(f"{path}/centroids")
    codebook = spark.read.parquet(f"{path}/codebook")

    def _tail(lst: DataFrame) -> DataFrame:
        return _ivf_pq_probe_rank(
            lst, centroids, codebook, queries, k, nprobe,
            num_subspaces, num_codewords, dim, id_col, vec_col,
            topk_salts=topk_salts,
        )

    if static_prune is True:
        return _tail(_static_prune_lists(lists, centroids, queries,
                                         nprobe, id_col, vec_col))
    df = _tail(lists)
    if static_prune == "auto":
        return _auto_pruned(
            df, lists, centroids, queries, nprobe, id_col, vec_col,
            _tail, "ann_ivf_pq_partitioned", f"{path}/lists",
        )
    return df


def ann_ivf_pq_partitioned_refine(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    refine_r: int = 30,
    nprobe: int = 4,
    num_subspaces: int = 8,
    num_codewords: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    static_prune: bool | str = False,
    topk_salts: int | None = None,
) -> DataFrame:
    """IVFADC+refine over the on-disk layout — the complete serving
    read path: partition-pruned ADC shortlist from the packed-code
    lists (declarative DPP by default; `static_prune=True` for the
    guaranteed driver-planned pruning, `"auto"` for the measured
    fallback — see `ann_ivf_pq_partitioned`),
    then the shared exact re-rank fetches ONLY the Q×refine_r true
    embeddings (broadcast equi-join against the embedding table — the
    single place vectors are read at all). Identical results to the
    in-memory `ann_ivf_pq_refine` (shared shortlist + shared
    `_exact_rerank`; frame-equality pytest)."""
    _require_shortlist("ann_ivf_pq_partitioned_refine", refine_r, k)
    # validate the sidecar under THIS entry point's name before
    # delegating: a geometry-mismatch/missing-sidecar error must blame
    # the function the caller actually invoked, not the inner ADC stage
    # (ADVICE r19); the delegate's own re-check is then a no-op pass
    _check_ivf_pq_params(path, num_subspaces, num_codewords, dim,
                         op="ann_ivf_pq_partitioned_refine")
    cands = ann_ivf_pq_partitioned(
        spark, path, queries, k=refine_r, nprobe=nprobe,
        num_subspaces=num_subspaces, num_codewords=num_codewords,
        dim=dim, id_col=id_col, vec_col=vec_col,
        static_prune=static_prune, topk_salts=topk_salts,
    ).select("qid", "nid")
    return _exact_rerank(corpus, queries, cands, k, id_col, vec_col)


def ivf_write_index(
    corpus: DataFrame,
    path: str,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index as the physical layout `ivf_assign`'s
    docstring promises: the assigned corpus written PARTITIONED BY
    centroid_id (one directory per inverted list) plus the tiny centroid
    table beside it. At 100 TB this write is one shuffle-free pass over
    the corpus (the assignment is a broadcast join + window) and the
    probe path below never reads more than nprobe/C of it."""
    assigned, centroids = ivf_assign(corpus, num_centroids, id_col, vec_col)
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{path}/assigned"
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ann_ivf_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    static_prune: bool | str = False,
    topk_salts: int | None = None,
) -> DataFrame:
    """IVF probe against the on-disk index written by `ivf_write_index`.

    The candidate join keys the partition column of the assigned table
    against the broadcast probe set, so Catalyst inserts a DYNAMIC
    PARTITION PRUNING subquery (PartitionFilters:
    [dynamicpruning#...]) and no centroid id reaches the driver — the
    fully declarative default. Honestly measured, though
    (tests/test_plans.py's executed_scan_metrics): whether that
    subquery EXECUTES is up to Spark's broadcast-reuse and
    cost-benefit machinery, and with a window-shaped probe plan it
    degrades to `dynamicpruningexpression(true)` — a full-index scan —
    at small scale in both AQE modes (at 100 TB the benefit arithmetic
    flips, but that is Spark's call, not this operator's).
    `static_prune=True` is the GUARANTEED path a serving deployment
    wants: one driver-side job materializes the ≤ Q×nprobe probe pairs
    (probe planning is driver-side in every production ANN system),
    and the scan gets a static partition filter that always prunes to
    the probed directories — executed-metrics-gated in pytest.
    `static_prune="auto"` is the acceptance mode between them: it
    executes the dynamic plan once, reads its scan metrics, and falls
    back to the static plan with a RuntimeWarning if the subquery was
    dropped (`_auto_pruned`). Results are identical in all modes and
    identical to `ann_ivf` for the same corpus and parameters
    (asserted in tests/test_llm.py).
    """
    from .index_maintenance import read_index

    _require_prune_mode("ann_ivf_partitioned", static_prune)
    # read_index, not a plain scan (the PQ sibling's convention): a
    # layout maintained through write_index_delta
    # (value_cols=('centroid_id',) — see its docstring, or the
    # full-column serving variant) probes its MAINTAINED state by
    # folding committed generations; a freshly built index has none
    # and reads as the plain partition-pruned base scan.
    assigned = read_index(spark, f"{path}/assigned", key=id_col)
    centroids = spark.read.parquet(f"{path}/centroids")

    def _tail(lst: DataFrame) -> DataFrame:
        return ivf_probe(lst, centroids, queries, k, nprobe,
                         id_col, vec_col, topk_salts=topk_salts)

    if static_prune is True:
        return _tail(_static_prune_lists(assigned, centroids, queries,
                                         nprobe, id_col, vec_col))
    df = _tail(assigned)
    if static_prune == "auto":
        return _auto_pruned(
            df, assigned, centroids, queries, nprobe, id_col, vec_col,
            _tail, "ann_ivf_partitioned", f"{path}/assigned",
        )
    return df


def _probed_centroid_ids(
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> list:
    """Static probe planning's driver action: rank centroids per query
    (the same broadcast + window derivation the dynamic path embeds)
    and pull the DISTINCT probed centroid ids to the driver — bounded
    by min(Q×nprobe, C), a handful of longs. The one deliberate driver
    action in the ANN stack (probe planning is driver-side in every
    production ANN system): it buys pruning that cannot be silently
    dropped by the DPP cost model, and it is the yardstick the "auto"
    mode measures the dynamic plan against."""
    q = queries.select(F.col(id_col).alias("qid"),
                       F.col(vec_col).alias("q_vec"))
    qc = q.join(F.broadcast(centroids)).select(
        "qid",
        "centroid_id",
        cosine_cols("q_vec", "c_vec").alias("_csim"),
    )
    wq = Window.partitionBy("qid").orderBy(
        F.col("_csim").desc(), F.col("centroid_id")
    )
    return [
        r.centroid_id
        for r in qc.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("centroid_id")
        .distinct()
        .collect()
    ]


def _static_prune_lists(
    lists: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """`lists` filtered to the driver-planned probe set
    (`_probed_centroid_ids`) by a literal IN on its partition column,
    which the scan resolves against directory names at plan time — the
    GUARANTEED pruning path. The downstream probe join is unchanged,
    so results are identical with and without it."""
    probed = _probed_centroid_ids(centroids, queries, nprobe,
                                  id_col, vec_col)
    return lists.filter(F.col("centroid_id").isin(probed))


#: Accepted values of the partitioned probes' `static_prune` knob.
_PRUNE_MODES = (False, True, "auto")


def _require_prune_mode(fn: str, static_prune) -> None:
    # identity checks, not `in`: Python equality blesses 1 == True (and
    # numpy bools), and a truthy non-True value would then dispatch to
    # the UNguaranteed dynamic branch below — the silent-full-scan case
    # this knob exists to prevent must reject loudly instead
    if (
        static_prune is not False
        and static_prune is not True
        and static_prune != "auto"
    ):
        raise ValueError(
            f"{fn}: static_prune must be one of {_PRUNE_MODES} "
            f"(got {static_prune!r}) — False serves the declarative "
            "DPP plan, True the driver-planned guaranteed-pruning "
            "one, 'auto' measures the DPP plan's executed scan "
            "metrics once and falls back to static with a warning if "
            "Spark dropped the pruning subquery"
        )


def _auto_pruned(
    dyn_df: DataFrame,
    lists: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int,
    id_col: str,
    vec_col: str,
    tail_fn,
    op_name: str,
    index_path: str,
) -> DataFrame:
    """The `static_prune="auto"` decision rule (VERDICT r18 item 5):
    a deployment must not silently serve full-index scans, but whether
    the declarative DPP subquery actually EXECUTES is Spark's
    cost-model call — invisible in plan text (it degrades to
    `dynamicpruningexpression(true)`; the r18 finding) and only
    measurable from executed scan metrics. So: plan the probe set
    driver-side (`_probed_centroid_ids` — the same bounded action the
    static path pays), execute the dynamic frame ONCE, and compare
    each INDEX scan's `numPartitions` against the probe-set size.
    Within the bound ⇒ DPP is working: return the declarative frame
    (future executions keep the subquery and adapt as queries
    change). Over it ⇒ warn loudly and return the statically pruned
    frame.

    Cost note: the measurement executes the probe exactly ONCE, and
    the healthy path does not pay it again — the dynamic frame is
    persisted before measuring, so the measurement run populates the
    cache and the caller's own consumption is served from memory
    (DPP prunes identically under persist — verified by executed
    metrics). The returned healthy frame is therefore cached; a
    caller done with it may `.unpersist()` (Q×k rows — Spark evicts
    under pressure regardless). On a DEGRADED plan detection itself
    pays one full-index scan and the useless cache is dropped before
    the static frame is returned — "auto" is the
    deployment-acceptance/canary mode; a serving loop that has seen
    the warning should pin `static_prune=True` (and one that hasn't
    can pin False). The check is per-call by design: pruning health
    depends on the query batch's shape, not just the layout.

    The bound is scoped to scans under `index_path` (base AND each
    maintained generation's appends — all partitioned by centroid_id
    under that root), so a delta generation read unpruned past the
    probe set trips the fallback, while a partitioned scan UNRELATED
    to the index (e.g. a queries frame loaded from a date-partitioned
    table) cannot false-trip it into permanent static fallback plus a
    misleading "DPP dropped" warning (ADVICE r19)."""
    import warnings

    probed = _probed_centroid_ids(centroids, queries, nprobe,
                                  id_col, vec_col)
    from .plan_metrics import partitioned_scans_within

    dyn_df = dyn_df.persist()
    try:
        healthy = partitioned_scans_within(
            dyn_df, len(probed), within_path=index_path
        )
    except Exception:
        # ADVICE r20: a failed measurement (e.g. a py4j error walking
        # the executed plan) must not leave the frame persisted
        # forever — drop the cache before propagating.
        dyn_df.unpersist()
        raise
    if healthy:
        return dyn_df
    dyn_df.unpersist()
    warnings.warn(
        f"{op_name}: dynamic partition pruning did not prune — the "
        f"executed plan read more than the {len(probed)} driver-"
        "planned probe partitions (Spark dropped the DPP subquery, "
        "the window-build-side degradation); serving the statically "
        "pruned plan instead. Pin static_prune=True to skip this "
        "check on future calls",
        RuntimeWarning,
        stacklevel=3,
    )
    return tail_fn(lists.filter(F.col("centroid_id").isin(probed)))


def kmeans_refine_int(
    corpus: DataFrame,
    num_centroids: int = 16,
    iters: int = 2,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means refinement of the md5-rank seed centroids — the
    sweep the IVF/PQ docstrings name as what a real system layers on
    the deterministic seeding. Returns the final assignment
    (id, centroid_id, d2): every vector with its refined cluster and
    integer squared distance.

    FIXED-POINT on purpose: vectors are quantized to integer micros
    (floor(x·1e6) — floor, not round, so no rounding-mode edge exists
    between engines), distances are exact int64 sums of squared
    diffs, and the centroid update is the component-wise integer mean
    with truncating division (Spark `div` == DuckDB `//`). Every
    number in every iteration is therefore bit-identical across
    engines — float k-means cannot promise that (double sums are
    association-order-dependent), and the repo's oracle rule is that
    hashed values never ride order-dependent float aggregation. A
    production deployment that doesn't need cross-engine bit parity
    swaps in float arithmetic; the plan shape is unchanged.

    Scale shape (the textbook distributed k-means): per iteration, one
    corpus pass against the BROADCAST C-row centroid table; the argmin
    is a groupBy(id) STRUCT-MIN (the pq_codes idiom) whose partial
    aggregate collapses the C candidates map-side — one compact row
    per vector crosses the shuffle, never C copies (the row_number-
    window form would shuffle C×n rows each carrying the full vector).
    The centroid update then shuffles only map-side-combined
    (centroid, dim) partial sums — C×D rows, never vectors. Empty
    clusters keep their previous centroid (left-join + coalesce).
    Distance budget:
    (scale·range)²·dim per pair — ~6e13 at unit-range 64-dim micros,
    far inside int64; cluster SSE sums approach int64 only past ~1e5
    corpus rows per cluster at that magnitude (cast to decimal there).

    Lineage: each iteration's centroid table is EAGERLY checkpointed
    (reliable `checkpoint()` when the SparkContext has a checkpoint
    dir, `localCheckpoint()` otherwise — the connected_components
    discipline), so iteration i+1's plan reads C materialized rows
    instead of nesting the whole prior chain; without truncation the
    plan (and the corpus-scan count on re-execution) grows
    superlinearly in `iters`.
    """
    q = corpus.select(
        F.col(id_col),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.floor(x * scale).cast("long"),
        ).alias("vq"),
    )
    cent = (
        q.orderBy(
            F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col)
        )
        .limit(num_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col("vq").alias("cq"))
    )

    def assign(cents: DataFrame) -> DataFrame:
        scored = q.join(F.broadcast(cents)).select(
            id_col,
            "vq",
            "centroid_id",
            F.aggregate(
                F.zip_with("vq", "cq", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
        # Lexicographic struct-min == orderBy(d2, centroid_id) pick;
        # centroid_id is unique per candidate so vq never influences
        # the ordering — it just rides along, avoiding a re-join to
        # recover the vector for the update step.
        best = scored.groupBy(id_col).agg(
            F.min(F.struct("d2", "centroid_id", "vq")).alias("_b")
        )
        return best.select(
            id_col,
            F.col("_b.vq").alias("vq"),
            F.col("_b.centroid_id").alias("centroid_id"),
            F.col("_b.d2").alias("d2"),
        )

    reliable = (
        corpus.sparkSession.sparkContext.getCheckpointDir() is not None
    )

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(
            eager=True
        )

    for _ in range(iters):
        asg = assign(cent)
        comp = asg.select(
            "centroid_id", F.posexplode("vq").alias("pos", "val")
        )
        means = comp.groupBy("centroid_id", "pos").agg(
            F.expr("sum(val) div count(1)").alias("m")
        )
        newc = means.groupBy("centroid_id").agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cq_new")
        )
        cent = _ckpt(
            cent.join(newc, "centroid_id", "left").select(
                "centroid_id", F.coalesce("cq_new", "cq").alias("cq")
            )
        )
    return assign(cent).select(id_col, "centroid_id", "d2")


# ----------------------------------------------------- bucketed near-dup pairs


def cosine_dup_pairs_lsh(
    vectors: DataFrame,
    dim: int,
    threshold: float,
    num_tables: int = 12,
    planes_per_table: int = 8,
    max_bucket_size: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs (id_a < id_b, cosine ≥ threshold)
    via multi-table RHP-LSH bucketing — the scale path that replaces
    `cosine_dup_pairs`' O(N²) all-pairs scan.

    Plan shape (mirrors MinHash-LSH text dedup, text_dedup.py):
      map-side: one Arrow-batched numpy matmul per batch computes all
                table signatures (`rhp_signatures`)
      explode tables → ONE shuffle on (table, sig)   [N × num_tables rows]
      in-bucket pair expansion with the degenerate-bucket cap
      (`_bucket_pairs`) → distinct candidate pairs
      verify: join vectors back by id (sort-merge on unique ids) and
              keep exact cosine ≥ threshold — precision is exact; only
              recall is probabilistic (tunable via tables × planes).

    The full corpus never self-joins: a degenerate-free bucket holds
    ~N/2^planes vectors, so candidate volume is sub-quadratic and the
    cap bounds the pathological case. Raise `planes_per_table` as N
    grows (buckets shrink), raise `num_tables` to buy recall back —
    identical tuning law to MinHash banding."""
    from .text_dedup import _bucket_pairs

    sig_fn = rhp_signatures(dim, num_tables, planes_per_table)
    keyed = vectors.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(sig_fn(F.col(vec_col))).alias("table", "sig"),
    )
    cand = _bucket_pairs(keyed, ["table", "sig"], max_bucket_size)
    a = vectors.select(F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            cosine_cols("va", "vb").alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim_r"))
    )


def incremental_dedup_semantic(
    corpus: DataFrame,
    batch: DataFrame,
    dim: int,
    threshold: float,
    num_tables: int = 12,
    planes_per_table: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 10_000,
    corpus_banded: DataFrame | None = None,
    max_broadcast_pairs: int | None = None,
    materialize_batch_bands: bool = False,
) -> DataFrame:
    """Embedding-space twin of text_dedup.incremental_dedup_minhash:
    classify an incoming embedding batch against an indexed corpus by
    RHP-LSH bucketing + exact-cosine verification — the semantic dedup
    a continuously-fed pipeline runs daily (checking the increment
    against the corpus' signature index, never re-clustering 100 TB of
    vectors). One row per batch vector: `status` is 'dup_corpus' (a
    verified corpus near-dup exists; `matched_vec_id` is the smallest
    such corpus id), 'dup_batch' (first-wins within the increment),
    or 'new'; `cosine_r` is the cosine with the matched vector,
    rounded to 6 (NULL for 'new').

    Scale shape — the corpus is never pair-expanded and never
    all-shuffled: its (table, sig) keys are computed map-side (one
    Arrow numpy matmul per batch, `rhp_signatures`) and immediately
    semi-filtered against a broadcast of the increment's distinct
    signature keys, so only corpus vectors colliding with the
    increment survive to the candidate join; both cross-candidate
    sides are capped per bucket (`_cap_buckets` — whole oversized
    buckets dropped) and every remaining shuffle is batch/candidate-
    sized. The corpus is scanned twice (signature keys + verify
    vectors, both streamed against broadcast small sides); the batch
    subtree is planned ~3x (signature index, in-batch pairs, vector
    re-attach) — the same increment-sized trade as the MinHash twin.
    In production the corpus signature index (table, sig, vec_id) is a
    pre-materialized table and the corpus signature scan disappears.

    Precision is exact (every candidate is verified by true cosine);
    only recall is probabilistic, tuned by tables x planes exactly as
    in `cosine_dup_pairs_lsh`. The classify skeleton (first-wins / cap
    / semi-filter / status logic) is `_incremental_classify_lsh`,
    shared verbatim with the MinHash twin; only the banding (RHP
    signatures) and the verify metric (cosine) live here."""
    from .text_dedup import _incremental_classify_lsh, _spread

    sig_fn = rhp_signatures(dim, num_tables, planes_per_table)

    def banded(df: DataFrame, spread: bool) -> DataFrame:
        # _spread only the batch: one small increment split would
        # otherwise pin the signature matmul to a single task, while
        # repartitioning the corpus is exactly the full shuffle this
        # operator exists to avoid.
        src = _spread(df) if spread else df
        return src.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(sig_fn(F.col(vec_col))).alias("band", "bucket"),
        )

    return _incremental_classify_lsh(
        corpus,
        batch,
        banded,
        cosine,
        threshold,
        id_col=id_col,
        payload_col=vec_col,
        matched_col="matched_vec_id",
        score_out="cosine_r",
        max_bucket_size=max_bucket_size,
        finalize=lambda c: F.round(c, 6),
        corpus_banded=(
            corpus_banded.withColumnRenamed(id_col, "doc_id")
            if corpus_banded is not None and id_col != "doc_id"
            else corpus_banded
        ),
        max_broadcast_pairs=max_broadcast_pairs,
        materialize_batch_bands=materialize_batch_bands,
    )


def rhp_write_index(
    vectors: DataFrame,
    path: str,
    dim: int,
    num_tables: int = 12,
    planes_per_table: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the corpus RHP signature index — the embedding-space
    twin of `text_dedup.minhash_write_index`, the (vec_id, band,
    bucket) table `incremental_dedup_semantic`'s docstring promises as
    the production layout ("the corpus signature index is a
    pre-materialized table and the corpus signature scan disappears").
    One shuffle-free Arrow-matmul map pass over the corpus, written
    partitioned by band (num_tables directories — scan parallelism and
    per-table maintenance, not probe-time pruning: the classify probes
    every table). At 100 TB this runs per corpus SNAPSHOT, not per
    increment; the daily classify then reads narrow index rows instead
    of re-running the signature matmul over every corpus vector. Feed
    the read-back frame to `incremental_dedup_semantic(...,
    corpus_banded=...)` (built at the SAME tables × planes geometry —
    fold the geometry into `path`, the scratch convention).

    The id column is written under the classify skeleton's own name,
    "doc_id" (the `_band_keys` convention), whatever `id_col` the
    source frame uses — so the read-back frame plugs into
    `corpus_banded=` for ANY id_col without a rename that could
    silently no-op."""
    sig_fn = rhp_signatures(dim, num_tables, planes_per_table)
    (
        vectors.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(sig_fn(F.col(vec_col))).alias("band", "bucket"),
        )
        .write.mode("overwrite")
        .partitionBy("band")
        .parquet(path)
    )


# ------------------------------------------------------- exact near-dup pairs


COSINE_EXACT_MAX_ROWS = 100_000


def cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = COSINE_EXACT_MAX_ROWS,
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — the exact
    embedding-near-duplicate check. O(N²): correct as an oracle-checked
    baseline at test scale; the production path at 100 TB is
    `ann_lsh`/`ann_ivf` bucketing first (same verify expression).

    Because the plan is an unbounded non-equi self-join (BNLJ), it
    DETONATES quadratically on a large corpus, so it refuses to run
    above `max_rows` input vectors (default 100k ≈ 5e9 candidate
    pairs, the sane ceiling for a deliberate baseline run). The size
    probe is `limit(max_rows + 1).count()` — it scans at most
    max_rows + 1 rows, never the full table. Pass `max_rows=None`
    only in a test harness that knows its input is small."""
    if max_rows is not None:
        probed = vectors.select(id_col).limit(max_rows + 1).count()
        if probed > max_rows:
            raise ValueError(
                f"cosine_dup_pairs is an O(N^2) exact baseline; input has "
                f">{max_rows} rows. Use ann_lsh/ann_ivf (sub-quadratic) "
                f"instead, or raise max_rows deliberately."
            )
    a = vectors.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vectors.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_cols("va", "vb").alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim_r"))
    )


def ivf_assign_with_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """`ivf_assign`'s assignment step against a CALLER-SUPPLIED
    centroid table (centroid_id, c_vec) — the hook for trained coarse
    quantizers (e.g. `kmeans_refine_int` output mapped to vectors).
    Same cosine argmax and tie-break as ivf_assign.

    The argmax is ONE Arrow-vectorized numpy pass against the
    driver-collected O(C-row) centroid table (r22, guide §4.2/§8): no
    n×C expansion, no join, no exchange — the corpus is scanned once,
    map-side, and keeps its partitioning. The r21 grouped struct-max
    (kept only as the encode-parity pytest's reference) expanded the
    corpus C-fold into interpreted cosine folds and re-aggregated
    through a corpus-sized exchange. Ordering semantics are identical: the cosine doubles are
    bit-equal (`_np_fold_sum`) and the argmax uses Spark's double total
    order with the lowest-centroid_id tie-break (`_np_spark_order` —
    NaN largest, ±0.0 ordered as java.lang.Double.compare). Assignments
    are per input ROW (ids unique by the corpus contract — the legacy
    groupBy collapsed duplicate ids)."""
    rows = centroids.select("centroid_id", "c_vec").collect()
    cid_type = centroids.schema["centroid_id"].dataType
    return _ivf_assign_rows(corpus, rows, cid_type, id_col, vec_col)


def _ivf_assign_rows(
    corpus: DataFrame, rows, cid_type, id_col: str, vec_col: str
) -> DataFrame:
    """The one assignment body of `ivf_assign` and
    `ivf_assign_with_centroids`: (id, vec, centroid_id) against the
    collected centroid `rows`. No centroids → zero rows in the
    same schema (the inner join against an empty centroid table)."""
    assign = _ivf_assign_udf(rows, cid_type)
    assigned = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        assign(F.col(vec_col)).alias("centroid_id"),
    )
    return assigned if rows else assigned.limit(0)


# ----------------------------------------------------------------- evaluation


def ann_recall(
    ann: DataFrame,
    ground_truth: DataFrame,
    queries: DataFrame,
    k: int,
    methods: tuple[str, ...],
    qid_col: str = "qid",
    nid_col: str = "nid",
) -> DataFrame:
    """Recall@k of approximate-neighbor results against exact ground
    truth, per (method, query): the acceptance gate every ANN index
    deployment runs before swapping out brute force.

    `ann` holds one row per returned neighbor tagged with its `method`;
    `ground_truth` holds the exact top-k pairs — distinct (qid, nid)
    by construction (a top-k is a set), which this operator relies on:
    the hit test is a left join against it, so a duplicated truth pair
    would double-count the matched ann row. `queries` pins the output
    grid so a query (or a whole method) that returned nothing still
    reports recall 0 instead of silently vanishing. The denominator is
    the fixed `k`, the standard recall@k convention.

    Scale shape: both inputs are query-sized (Q·k rows — the expensive
    corpus scans happen upstream in the index paths being evaluated),
    so every join here is broadcast-small; the methods grid is an
    explicitly bounded |methods|×Q cross join. No corpus-sized frame
    enters this operator. `ann` is consumed exactly ONCE — counting
    returned neighbors and truth hits in the same aggregate — because
    Catalyst does not dedupe two identically-derived subtrees: a
    separate per-ann/per-hit formulation would execute every upstream
    index path (corpus scans included) twice.

    The grid join is FULL outer for the same reason: a method tag
    present in `ann` but missing from `methods` must surface as its
    own rows rather than be silently dropped by the grid (an
    evaluation harness must never make an evaluated index vanish), and
    deriving the tag set from `ann` itself would be a second
    consumption. Declared-but-empty methods still report 0 on every
    query from the grid side; an undeclared tag appears for the
    queries it actually answered. The QUERY dimension stays pinned in
    both directions: ann rows for qids outside `queries` are
    semi-filtered out before the aggregate (evaluating recall on a
    held-out query sample must not let the index's other answers leak
    into the report), which consumes the query frame twice — it is
    Q-sized, the one frame here that is cheap by contract. Because
    Catalyst re-executes each consumption, `queries` MUST be a
    deterministic frame (every catalog query is, by the oracle
    contract): an unseeded `.sample()` would materialize two different
    qid sets and the grid and semi-filter would disagree. Derive
    held-out samples deterministically (hash-threshold on the id, the
    llm_split_sample pattern), not from RNG.
    """
    spark = ann.sparkSession
    m = spark.createDataFrame([(x,) for x in methods], "method string")
    # defensive distinct: a repeated qid (a union-built query frame)
    # would otherwise multiply grid rows and double-count the report;
    # Q-sized, so the dedup is free by the operator's own contract
    q = queries.select(F.col(qid_col).alias("qid")).distinct()
    grid = q.crossJoin(F.broadcast(m))
    a = ann.select(
        "method", F.col(qid_col).alias("qid"), F.col(nid_col).alias("nid")
    ).join(F.broadcast(q), "qid", "left_semi")
    g = ground_truth.select(
        F.col(qid_col).alias("qid"),
        F.col(nid_col).alias("nid"),
        F.lit(1).alias("_hit"),
    )
    per = (
        a.join(F.broadcast(g), ["qid", "nid"], "left")
        .groupBy("method", "qid")
        .agg(F.count("*").alias("ann_k"), F.count("_hit").alias("hits"))
    )
    return (
        grid.join(per, ["method", "qid"], "full_outer")
        .select(
            "method",
            "qid",
            F.coalesce("ann_k", F.lit(0)).cast("long").alias("ann_k"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall_r"),
        )
    )
