"""Property-based spot checks (SURVEY.md §5.2 item 4, hypothesis).

Each property batches the whole generated example set through ONE Spark
job per case — hypothesis drives the data shapes, Spark evaluates them
vectorized, and a pure-Python model provides the differential answer.

Covered invariants (reference semantics in parentheses):
- dedup idempotence: dedup∘dedup = dedup, and dedup(x ∪ x) = dedup(x)
  (A9 — the Lua exists-check makes re-inserting a no-op,
  insert-events-into-db.lua:8-11).
- rollup consistency: daily sums equal the sum of hourly scores, and
  the grand total equals the qualifying-event count (A14 — ZUNIONSTORE
  summing hourly ZSETs, update-contributor-scores.js:252-263).
- flatten round-trip: to_json then from_json recovers every field (A8 —
  cjson.encode flatten, insert-events-into-db.lua:17-23).
- bot heuristic: the Spark column expression agrees with a direct
  Python transcription of update-contributor-scores.js:45-68 on
  arbitrary (including adversarial) logins.
- jaccard: reflexive at 1.0 for docs with >= k words; symmetric;
  bounded in [0, 1] (text_dedup verification metric).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F

SETTINGS = dict(max_examples=12, deadline=None)


# --------------------------------------------------------------- strategies

# Logins: plain words, bot-looking strings, unicode, empties and None.
_login = st.one_of(
    st.none(),
    st.text(min_size=0, max_size=24),
    st.sampled_from(
        [
            "dependabot[bot]",
            "my-bot",
            "robot",
            "BOT",
            "awsuser",
            "AWS-thing",
            "copilot-x",
            "renovate99",
            "ci-runner",
            "runner-ci",
            "release",
            "deploy_tool",
            "alice",
            "bob",
            "securityteam",
            "buildkite",
            "",
            "b",
        ]
    ),
)

_event = st.fixed_dictionaries(
    {
        "event_id": st.integers(min_value=0, max_value=50),
        "ts_h": st.integers(min_value=0, max_value=72),  # hours from epoch day
        "user_id": st.integers(min_value=1, max_value=8),
        "event_type": st.sampled_from(["purchase", "signup", "view", "click"]),
    }
)


def _events_df(spark, rows):
    base = datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp()
    return spark.createDataFrame(
        [
            Row(
                event_id=r["event_id"],
                ts=datetime.fromtimestamp(base + r["ts_h"] * 3600, tz=timezone.utc),
                user_id=r["user_id"],
                event_type=r["event_type"],
            )
            for r in rows
        ],
        schema="event_id long, ts timestamp, user_id long, event_type string",
    )


# ----------------------------------------------------------- dedup (A9)


@settings(**SETTINGS)
@given(rows=st.lists(_event, min_size=1, max_size=40))
def test_dedup_idempotent_and_union_stable(spark, rows):
    from github_event_etl_spark.operators.dedup import dedup_by_key

    df = _events_df(spark, rows)
    once = dedup_by_key(df, ["event_id"])
    twice = dedup_by_key(once, ["event_id"])
    doubled = dedup_by_key(df.unionAll(df), ["event_id"])

    want = sorted({r["event_id"] for r in rows})
    got_once = sorted(r.event_id for r in once.collect())
    got_twice = sorted(r.event_id for r in twice.collect())
    got_doubled = sorted(r.event_id for r in doubled.collect())
    assert got_once == want
    assert got_twice == want
    assert got_doubled == want


# --------------------------------------------------------- rollup (A14)


@settings(**SETTINGS)
@given(rows=st.lists(_event, min_size=1, max_size=60))
def test_rollup_sums_match_hourly(spark, rows):
    from github_event_etl_spark.operators.scoring import daily_rollup, hourly_scores

    kinds = ("purchase", "signup")
    df = _events_df(spark, rows)
    hourly = hourly_scores(df, kinds=kinds)
    daily = daily_rollup(hourly)

    # Python model: count qualifying events per (day, user).
    model: dict[tuple[str, int], int] = {}
    for r in rows:
        if r["event_type"] not in kinds:
            continue
        day_idx = 1 + r["ts_h"] // 24
        key = (f"2024-03-{day_idx:02d}", r["user_id"])
        model[key] = model.get(key, 0) + 1

    got = {
        (r.bucket_day, r.user_id): r.score
        for r in daily.collect()
    }
    assert got == model
    # Conservation: the rollup neither drops nor double-counts.
    assert sum(got.values()) == sum(model.values())
    hourly_total = sum(r.score for r in hourly.collect())
    assert hourly_total == sum(model.values())


# ----------------------------------------------------- flatten (A8)

_long = st.one_of(st.none(), st.integers(min_value=-(2**31), max_value=2**31))
_str = st.one_of(st.none(), st.text(max_size=20))


@settings(**SETTINGS)
@given(rows=st.lists(st.tuples(_long, _str), min_size=1, max_size=30))
def test_flatten_roundtrip(spark, rows):
    """to_json(struct(a, b)) → from_json recovers (a, b) exactly —
    including None fields and unicode — matching the reference's
    flatten-then-reparse lifecycle (store cjson.encode'd, query
    schema-on-read)."""
    df = spark.createDataFrame(
        [Row(a=a, b=b) for a, b in rows], schema="a long, b string"
    )
    back = df.select(
        "a",
        "b",
        F.from_json(
            F.to_json(F.struct("a", "b")), "a long, b string"
        ).alias("r"),
    ).select("a", "b", "r.a", "r.b")
    for a, b, ra, rb in back.collect():
        assert ra == a
        assert rb == b


# ------------------------------------------- bot heuristic differential


def _model_is_bot(login) -> bool:
    """Direct Python transcription of isBotActor
    (update-contributor-scores.js:45-68)."""
    if login is None or login == "":
        return True
    low = login.lower()
    if low.endswith("bot") or low.startswith("aws"):
        return True
    return any(
        pat in low
        for pat in (
            "[bot]",
            "-bot",
            "copilot",
            "renovate",
            "greenkeeper",
            "snyk",
            "security",
            "automation",
            "deploy",
            "ci-",
            "-ci",
            "build",
            "release",
        )
    )


@settings(**SETTINGS)
@given(logins=st.lists(_login, min_size=1, max_size=50))
def test_bot_heuristic_matches_python_model(spark, logins):
    from github_event_etl_spark.functions.predicates import is_bot_login_heuristic

    df = spark.createDataFrame(
        [Row(i=i, login=l) for i, l in enumerate(logins)],
        schema="i long, login string",
    )
    got = {
        r.i: bool(r.bot)
        for r in df.select(
            "i", is_bot_login_heuristic(F.col("login")).alias("bot")
        ).collect()
    }
    for i, login in enumerate(logins):
        # createDataFrame maps "" through as-is; None stays None.
        assert got[i] == _model_is_bot(login), (login,)


# --------------------------------------------------- jaccard properties


_doc = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=3,
    max_size=12,
).map(" ".join)


@settings(**SETTINGS)
@given(docs=st.lists(st.tuples(_doc, _doc), min_size=1, max_size=20))
def test_jaccard_reflexive_symmetric_bounded(spark, docs):
    from github_event_etl_spark.operators.text_dedup import jaccard_ngram

    df = spark.createDataFrame(
        [Row(a=a, b=b) for a, b in docs], schema="a string, b string"
    )
    out = df.select(
        jaccard_ngram(F.col("a"), F.col("a")).alias("self_sim"),
        jaccard_ngram(F.col("a"), F.col("b")).alias("ab"),
        jaccard_ngram(F.col("b"), F.col("a")).alias("ba"),
    ).collect()
    for r in out:
        assert r.self_sim == pytest.approx(1.0)
        assert r.ab == pytest.approx(r.ba)
        assert 0.0 <= r.ab <= 1.0


# ------------------------------------- connected components differential


def _uf_components(edges, nodes):
    """Reference union-find: node -> min node id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    out = {}
    for n in nodes:
        r = find(n)
        out.setdefault(r, []).append(n)
    return {n: min(members) for r, members in out.items() for n in members}


@settings(max_examples=8, deadline=None)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_union_find(spark, edges):
    """The distributed large-star/small-star closure
    (operators/graph.py) must agree with a sequential union-find on
    arbitrary graphs — self-loops, parallel edges, chains, cliques,
    multiple components."""
    from github_event_etl_spark.operators.graph import connected_components

    df = spark.createDataFrame(
        [Row(u=u, v=v) for u, v in edges], schema="u long, v long"
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    nodes = sorted({n for e in edges for n in e if e[0] != e[1]} | set(got))
    want = _uf_components([e for e in edges if e[0] != e[1]], nodes)
    # Nodes appearing only in self-loops are absent from the distributed
    # result (no real edges); compare over its domain.
    assert got == {n: c for n, c in want.items() if n in got}
    # And the distributed result must cover every non-isolated node.
    non_isolated = {n for u, v in edges if u != v for n in (u, v)}
    assert set(got) == non_isolated


def test_connected_components_planted_star_hub(spark):
    """Adversarial skew: a 10⁵-degree hub. The list-free star rounds
    (spillable window min, no collect_set) must close this in bounded
    per-task memory — the exact regime where a neighbor-list
    aggregation buffer would concentrate the whole graph on one node.
    Hub 0 ↔ {2..100001 even}, plus a disjoint chain; both components
    must resolve exactly."""
    from github_event_etl_spark.operators.graph import connected_components

    hub_n = 100_000
    spokes = spark.range(1, hub_n + 1).select(
        F.lit(0).cast("long").alias("u"), (F.col("id") * 2).alias("v")
    )
    chain = spark.range(0, 50).select(
        (F.col("id") * 2 + 200_001).alias("u"),
        (F.col("id") * 2 + 200_003).alias("v"),
    )
    comp = {
        r.node: r.component
        for r in connected_components(spokes.unionAll(chain)).collect()
    }
    assert len(comp) == hub_n + 1 + 51
    assert all(comp[2 * i] == 0 for i in range(hub_n + 1))
    chain_nodes = [2 * i + 200_001 for i in range(51)]
    assert all(comp[n] == chain_nodes[0] for n in chain_nodes)


def test_connected_components_reliable_checkpoint_mode(spark, tmp_path):
    """The reliable-checkpoint mode (checkpoint_dir= → df.checkpoint()
    per round, the executor-loss-tolerant cluster configuration) must
    converge to exactly the same components as the localCheckpoint
    local-mode fallback, and must actually write checkpoint data to
    the given directory."""
    from github_event_etl_spark.operators.graph import connected_components

    # Two chains + a triangle: multi-round convergence, >1 component.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30)]
        + [(100, 101), (101, 102), (100, 102)],
        schema="u long, v long",
    )
    local = {r.node: r.component for r in connected_components(edges).collect()}

    ckpt = str(tmp_path / "cc_ckpt")
    reliable = {
        r.node: r.component
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    # The operator must restore the session's prior (unset) checkpoint
    # config itself — the sticky setCheckpointDir side effect is its
    # own to undo, not the caller's.
    assert spark.sparkContext.getCheckpointDir() is None
    assert reliable == local
    # The reliable path must have gone through the fault-tolerant dir.
    import os

    assert any(files for _, _, files in os.walk(ckpt))

    # And when a prior dir WAS configured, its resolved value (the
    # UUID subdir setCheckpointDir created) is restored verbatim.
    prior = str(tmp_path / "prior_ckpt")
    spark.sparkContext.setCheckpointDir(prior)
    resolved_prior = spark.sparkContext.getCheckpointDir()
    try:
        connected_components(edges, checkpoint_dir=ckpt).collect()
        assert spark.sparkContext.getCheckpointDir() == resolved_prior
    finally:
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None)
        )
    assert spark.sparkContext.getCheckpointDir() is None


# ------------------------------------- LSH near-dup vs exact differential


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-5, max_value=5), min_size=16, max_size=16
        ).filter(lambda v: any(x != 0 for x in v)),
        min_size=3,
        max_size=10,
    )
)
def test_cosine_lsh_dedup_subset_of_exact_and_finds_planted(spark, vecs):
    """cosine_dup_pairs_lsh on arbitrary corpora with one planted
    ±2 %-perturbed near-duplicate per vector: every emitted pair must
    appear in the exact numpy all-pairs answer at the same threshold
    (precision is exact by construction — the verify step), and every
    planted pair (cosine ≥ 0.9996 by construction) must be emitted
    (12 tables × 4 planes ⇒ per-pair miss probability < 1e-10)."""
    import numpy as np

    from github_event_etl_spark.operators.similarity import cosine_dup_pairs_lsh

    threshold = 0.95
    base = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    planted = [
        (i + 1000, [x * (1.02 if (i + j) % 2 == 0 else 0.98) for j, x in enumerate(v)])
        for i, v in base
    ]
    corpus = base + planted
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in corpus],
        schema="vec_id long, embedding array<double>",
    )
    got = {
        (r.id_a, r.id_b)
        for r in cosine_dup_pairs_lsh(
            df, dim=16, threshold=threshold, num_tables=12, planes_per_table=4
        ).collect()
    }

    ids = [i for i, _ in corpus]
    M = np.asarray([v for _, v in corpus], dtype=np.float64)
    sims = (M @ M.T) / np.outer(
        np.linalg.norm(M, axis=1), np.linalg.norm(M, axis=1)
    )
    exact = {
        (min(ids[a], ids[b]), max(ids[a], ids[b]))
        for a in range(len(ids))
        for b in range(a + 1, len(ids))
        if sims[a, b] >= threshold
    }
    assert got <= exact
    assert {(i, i + 1000) for i, _ in base} <= got


# ------------------------------------- Arrow/expression parity (MinHash)


# Texts that stress the tokenizer split: unicode (incl. non-ASCII
# whitespace like \xa0, which Java's \s does NOT match and the Python
# twin must not either), ASCII control whitespace, and empties.
_fuzz_text = st.one_of(
    st.none(),
    st.text(max_size=80),
    st.text(
        alphabet=st.sampled_from(list(" \t\n\x0b\f\r\xa0 abcXYZ0_ü€")),
        max_size=60,
    ),
)


@settings(**SETTINGS)
@given(texts=st.lists(_fuzz_text, min_size=1, max_size=30))
def test_minhash_bands_udf_expression_parity_fuzz(spark, texts):
    """The Arrow-fused band UDF must equal the HOF expression twin on
    ARBITRARY text — the highest-risk divergence is tokenizer
    semantics (Java regex \\s is ASCII-only; Python \\s is unicode, so
    the twin pins an explicit ASCII class). One Spark job per example
    set, both forms in one projection."""
    from github_event_etl_spark.operators.text_dedup import (
        lsh_band_buckets,
        minhash_band_buckets_vec,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [Row(i=i, text=t) for i, t in enumerate(texts)],
        schema="i long, text string",
    )
    expr = lsh_band_buckets(minhash_signature(F.col("text")), 4, 3)
    vec = minhash_band_buckets_vec(4, 3)(F.col("text"))
    rows = df.select("i", expr.alias("e"), vec.alias("v")).collect()
    for r in rows:
        assert [tuple(x) for x in r.e] == [tuple(x) for x in r.v], (
            "bands", r.i, texts[r.i],
        )


# --------------------------------------------- approximate-aggregate bounds


def test_approx_count_distinct_within_declared_rsd(spark):
    """agg_approx_distinct is the one declared query with no value
    oracle BY DESIGN (HLL is approximate). This pins it quantitatively
    instead: per event_type at the driver's correctness SF, the HLL
    estimate must sit within 5× the configured rsd (0.02) of the exact
    count(distinct) — HLL++'s error is ~normal with σ=rsd, so 5σ is a
    deterministic-in-practice bound (the sketch itself is
    deterministic for fixed input; the margin covers per-cardinality
    bias, not run-to-run noise). A broken HLL path now FAILS a test
    rather than sliding through a rows-only check."""
    from github_event_etl_spark.plans.catalog import query_map

    sf = "/root/testdata/sf0.01"
    approx = {
        r.event_type: r.approx_users
        for r in query_map()["agg_approx_distinct"](spark, sf).collect()
    }
    from github_event_etl_spark.sources.tables import load_table

    exact = {
        r.event_type: r.exact_users
        for r in load_table(spark, sf, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_users"))
        .collect()
    }
    assert set(approx) == set(exact)
    for etype, n_exact in exact.items():
        rel_err = abs(approx[etype] - n_exact) / n_exact
        assert rel_err <= 5 * 0.02, (
            f"{etype}: HLL {approx[etype]} vs exact {n_exact} "
            f"(rel err {rel_err:.4f})"
        )


# ------------------------------------------------- PII regex cross-engine


_pii_fragment = st.sampled_from([
    "plain words here", "a@b.io", "x.y+z@mail.example.org", "not@an@email",
    "1.2.3.4", "10.0.0.7", "999.999.999.999", "1.2.3", "123456789",
    "12345678", "998877665544", "v1.2.3.4000", "a@b", "@", ".", "-",
    "user.name@sub.domain.co", "tel 123-456-789", "..", "a..b@c.dd",
])


@settings(max_examples=15, deadline=None)
@given(frags=st.lists(_pii_fragment, min_size=1, max_size=8))
def test_pii_patterns_agree_across_engines(spark, frags):
    """The PII value oracle rests on Java regex and DuckDB's RE2
    tokenizing adversarial near-miss strings identically (emails with
    double dots, 999.999 IPs, digit runs at the \\d{9,} boundary,
    version strings). Fuzz the portable-subset claim: redaction output
    and per-kind counts must match exactly for arbitrary fragment
    concatenations."""
    import duckdb

    from github_event_etl_spark.operators.text_analysis import (
        PII_PATTERNS,
        pii_counts,
        redact_pii,
    )

    text = " ".join(frags)
    df = spark.createDataFrame([(0, text)], "i long, t string")
    got = df.select(
        redact_pii(F.col("t")).alias("clean"), *pii_counts(F.col("t"))
    ).collect()[0]

    expr = "t"
    cols = []
    for kind, pat, token in PII_PATTERNS:
        cols.append(f"len(regexp_extract_all(t, '{pat}')) AS n_{kind}")
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    con = duckdb.connect()  # keep a reference: a GC'd connection closes
    want = con.sql(
        f"SELECT {expr} AS clean, {', '.join(cols)} FROM (SELECT '{text}' AS t)"
    ).fetchall()[0]
    con.close()
    assert got.clean == want[0]
    assert (got.n_email, got.n_ipv4, got.n_long_id) == want[1:]


# ------------------------------------- duplicated spans vs sequential model


def _ref_duplicated_spans(docs, k, min_grams, max_df):
    """Sequential reference for duplicated_spans: shared-gram positions
    merged into coverage islands (gap > k starts a new span)."""
    from collections import defaultdict

    gram_docs = defaultdict(set)
    gram_pos = {}
    for d, toks in docs.items():
        # Engine tokenization parity: split(trim('')) yields [''] — an
        # empty doc still carries one (empty) token in both engines.
        toks = toks if toks else [""]
        gs = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        gram_pos[d] = gs
        for g in gs:
            gram_docs[g].add(d)
    ok = {g for g, ds in gram_docs.items() if 2 <= len(ds) <= max_df}
    out = []
    for d, gs in gram_pos.items():
        runs = []
        for p, g in enumerate(gs):
            if g not in ok:
                continue
            if runs and p - runs[-1][-1] <= k:
                runs[-1].append(p)
            else:
                runs.append([p])
        for r in runs:
            if len(r) >= min_grams:
                out.append((d, r[0], r[-1] + k - 1, len(r)))
    return sorted(out)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12),
        min_size=2,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=3),
)
def test_duplicated_spans_match_sequential_model(spark, docs, k):
    """The distributed span extractor (operators/text_dedup.py::
    duplicated_spans) must agree with a sequential reference on
    arbitrary tiny corpora — shared prefixes/suffixes, full-doc
    duplicates, interleaved repeats, docs shorter than k."""
    from github_event_etl_spark.operators.text_dedup import duplicated_spans

    doc_map = {i: toks for i, toks in enumerate(docs)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in doc_map.items()],
        "doc_id long, text string",
    )
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicated_spans(
            df, k=k, min_grams=1, max_df=100
        ).collect()
    )
    want = _ref_duplicated_spans(doc_map, k, min_grams=1, max_df=100)
    assert got == want


# ------------------------------------------- capped-vocab threshold selection


@settings(max_examples=10, deadline=None)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=8), min_size=1, max_size=40
    ),
    cap=st.integers(min_value=1, max_value=50),
)
def test_top_count_vocab_property(spark, counts, cap):
    """On arbitrary count tables (heavy tie bands by construction —
    counts drawn from 1..8), the histogram-threshold selection must
    return exactly the rows of orderBy(count DESC, key).limit(cap)."""
    from github_event_etl_spark.operators.vocab import top_count_vocab

    rows = [(f"t{i:03d}", c) for i, c in enumerate(counts)]
    tf = spark.createDataFrame(rows, "tok string, tf long")
    want = sorted(sorted(rows, key=lambda r: (-r[1], r[0]))[:cap])
    got = sorted(
        (r.tok, r.tf) for r in top_count_vocab(tf, "tf", cap).collect()
    )
    assert got == want


# ----------------------------------------------------- MERGE upsert / SCD2


@settings(max_examples=10, deadline=None)
@given(
    base=st.dictionaries(
        st.integers(0, 15), st.integers(-100, 100), max_size=10
    ),
    changes=st.dictionaries(
        st.integers(0, 15), st.integers(-100, 100), max_size=10
    ),
)
def test_upsert_property(spark, base, changes):
    """On arbitrary key→value maps, upsert must equal the dict-merge
    {**base, **changes} with actions derived from set membership."""
    from github_event_etl_spark.operators.merge import upsert

    b = spark.createDataFrame(
        [(k, float(v)) for k, v in base.items()] or [(None, None)],
        "k long, v double",
    ).filter(F.col("k").isNotNull())
    c = spark.createDataFrame(
        [(k, float(v)) for k, v in changes.items()] or [(None, None)],
        "k long, v double",
    ).filter(F.col("k").isNotNull())
    got = {r.k: (r.v, r.action) for r in upsert(b, c, "k").collect()}
    want = {}
    for k, v in base.items():
        want[k] = (
            (float(changes[k]), "update")
            if k in changes
            else (float(v), "keep")
        )
    for k, v in changes.items():
        if k not in base:
            want[k] = (float(v), "insert")
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 20)),  # (key, ts-offset)
        min_size=1,
        max_size=20,
        unique=True,
    )
)
def test_scd2_property(spark, events):
    """SCD2 invariants on arbitrary change streams: per key, exactly
    one current version; version intervals chain (each valid_to equals
    the next valid_from under (ts, seq) order); every input row
    survives as a version."""
    import datetime as dt

    from github_event_etl_spark.operators.merge import scd2_versions

    base = dt.datetime(2024, 1, 1)
    rows = [
        (k, i, base + dt.timedelta(hours=off))
        for i, (k, off) in enumerate(events)
    ]
    df = spark.createDataFrame(rows, "k long, seq long, ts timestamp")
    out = scd2_versions(df, key="k", ts_col="ts", seq_col="seq").collect()
    assert len(out) == len(rows)
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, []).append(r)
    for k, vs in by_key.items():
        vs.sort(key=lambda r: (r.ts, r.seq))
        assert sum(1 for r in vs if r.is_current) == 1
        assert vs[-1].is_current and vs[-1].valid_to is None
        for prev, nxt in zip(vs, vs[1:]):
            assert prev.valid_to == nxt.valid_from


# --------------------------------------------------------- Z-order interleave


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=30,
    ),
)
def test_zorder_key_property(spark, pts):
    """zorder_key must equal the reference Morton interleave for
    arbitrary 8-bit points."""
    from github_event_etl_spark.operators.layout import zorder_key

    df = spark.createDataFrame(pts, "a long, b long")
    got = [r.z for r in df.select(zorder_key("a", "b", 8).alias("z")).collect()]

    def morton(a, b):
        return sum(
            (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))
            for i in range(8)
        )

    assert sorted(got) == sorted(morton(a, b) for a, b in pts)


@settings(max_examples=10, deadline=None)
@given(
    big=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=40,
    ),
    small=st.dictionaries(st.integers(0, 5), st.integers(0, 9), max_size=6),
    how=st.sampled_from(["inner", "left"]),
)
def test_salted_skew_join_equals_plain_join(spark, big, small, how):
    """The salted (key, salt) join must equal the plain equi-join
    row-for-row on arbitrary skewed inputs — including unmatched big
    rows under how='left' (never duplicated by the replication)."""
    from github_event_etl_spark.operators.skew import salted_skew_join

    b = spark.createDataFrame(big, "k long, v long")
    s = spark.createDataFrame(
        list(small.items()) or [(None, None)], "k long, w long"
    ).filter(F.col("k").isNotNull())
    got = sorted(
        (r.k, r.v, r.w)
        for r in salted_skew_join(b, s, "k", n_salts=4, how=how).collect()
    )
    want = sorted(
        (r.k, r.v, r.w) for r in b.join(s, "k", how).collect()
    )
    assert got == want


def test_salted_skew_join_rejects_key_only_salt_cols(spark):
    """salt_cols consisting only of the join key must fail fast: the
    salt would be constant per key — zero spread, full small-side
    replication cost — and both parameters naming columns makes it an
    easy slip."""
    from github_event_etl_spark.operators.skew import salted_skew_join

    b = spark.createDataFrame([(1, 2)], "k long, v long")
    s = spark.createDataFrame([(1, 3)], "k long, w long")
    with pytest.raises(ValueError, match="non-key column"):
        salted_skew_join(b, s, "k", salt_cols=["k"])
    with pytest.raises(ValueError, match="non-key column"):
        salted_skew_join(b, s, "k", salt_cols=[])
    with pytest.raises(ValueError, match="not in big side"):
        salted_skew_join(b, s, "k", salt_cols=["nope"])


def test_salted_skew_join_rejects_map_salt_cols(spark):
    """Explicit salt_cols naming a MapType column must raise the
    operator's descriptive ValueError — the same exclusion the default
    path applies — instead of surfacing later as an opaque xxhash64
    analysis error (Spark's hash expressions reject maps)."""
    from github_event_etl_spark.operators.skew import salted_skew_join

    b = spark.createDataFrame(
        [(1, 2, {"a": 1})], "k long, v long, m map<string,long>"
    )
    s = spark.createDataFrame([(1, 3)], "k long, w long")
    with pytest.raises(ValueError, match="MapType"):
        salted_skew_join(b, s, "k", salt_cols=["m"])
    # a map column alongside a hashable one still fails — partial
    # hashability is not enough for the hash expression
    with pytest.raises(ValueError, match="MapType"):
        salted_skew_join(b, s, "k", salt_cols=["v", "m"])
    # and the map column is fine when NOT named: default path excludes it
    assert salted_skew_join(b, s, "k", n_salts=2).count() == 1
    # NESTED maps are just as unhashable — xxhash64 rejects MapType at
    # any depth, so the guard must recurse (array element, struct field)
    bn = spark.createDataFrame(
        [(1, 2, [{"a": 1}], ({"a": 1},))],
        "k long, v long, am array<map<string,long>>, "
        "sm struct<m: map<string,long>>",
    )
    for col in ("am", "sm"):
        with pytest.raises(ValueError, match="MapType"):
            salted_skew_join(bn, s, "k", salt_cols=[col])
    # default path likewise skips the nested-map columns and still joins
    assert salted_skew_join(bn, s, "k", n_salts=2).count() == 1


@settings(max_examples=10, deadline=None)
@given(
    agg=st.dictionaries(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 48)),
        st.integers(1, 5),
        min_size=1,
        max_size=30,
    ),
)
def test_densify_buckets_matches_python_model(spark, agg):
    """Gap-fill must emit EXACTLY the |groups| x |global span| grid:
    every (group, bucket) combination over [min bucket, max bucket]
    present once, original counts preserved, every absent combination
    zero — including the single-group, single-bucket and
    all-groups-share-one-bucket shapes hypothesis finds."""
    from datetime import datetime, timedelta

    from github_event_etl_spark.operators.timeseries import (
        densify_buckets,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (g, base + timedelta(hours=h), int(n))
        for (g, h), n in agg.items()
    ]
    df = spark.createDataFrame(
        rows, "grp string, bucket timestamp, n long"
    )
    collected = densify_buckets(df, "grp", "bucket", "n").collect()
    got = {(r.grp, r.bucket): r.n for r in collected}
    # dict-ifying collapses duplicate rows silently — pin multiplicity
    # first so a fan-out regression cannot hide behind it
    assert len(collected) == len(got)

    offs = [h for (_, h) in agg]
    span = range(min(offs), max(offs) + 1)
    groups = {g for (g, _) in agg}
    want = {
        (g, base + timedelta(hours=h)): agg.get((g, h), 0)
        for g in groups
        for h in span
    }
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    agg=st.dictionaries(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 48)),
        st.floats(
            allow_nan=False,
            allow_infinity=False,
            min_value=-1e6,
            max_value=1e6,
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_densify_values_matches_python_model(spark, agg):
    """The READING flavor must emit the same |groups| x |span| grid as
    densify_buckets but keep missing combinations NULL (zero-filling a
    reading would corrupt it) and pass present values through
    bit-unchanged — the contract fill_forward/interpolate_linear
    build on."""
    from datetime import datetime, timedelta

    from github_event_etl_spark.operators.timeseries import (
        densify_values,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (g, base + timedelta(hours=h), float(v))
        for (g, h), v in agg.items()
    ]
    df = spark.createDataFrame(
        rows, "grp string, bucket timestamp, v double"
    )
    collected = densify_values(df, "grp", "bucket", "v").collect()
    got = {(r.grp, r.bucket): r.v for r in collected}
    assert len(collected) == len(got)

    offs = [h for (_, h) in agg]
    span = range(min(offs), max(offs) + 1)
    groups = {g for (g, _) in agg}
    want = {
        (g, base + timedelta(hours=h)): agg.get((g, h))
        for g in groups
        for h in span
    }

    def bits(v):
        # struct-level identity, not ==: -0.0 == 0.0 would hide a
        # sign-normalizing round-trip, and the hash-stable oracles
        # downstream compare bit patterns, not float equality
        import struct

        return None if v is None else struct.pack("<d", v)

    assert {k: bits(v) for k, v in got.items()} == {
        k: bits(v) for k, v in want.items()
    }


@settings(max_examples=10, deadline=None)
@given(
    data=st.dictionaries(
        st.sampled_from(["a", "b"]),
        st.lists(
            st.one_of(st.none(), st.integers(-10000, 10000)),
            min_size=1,
            max_size=40,
        ).filter(lambda vs: any(v is not None for v in vs)),
        min_size=1,
        max_size=2,
    ),
)
def test_winsorize_stats_matches_python_model(spark, data):
    """Differential for winsorize_stats vs a sequential Python model:
    discrete-percentile bounds at ceil(q*n) rank (the SQL-standard
    percentile_disc semantics both engines implement), clip counts
    strict-inequality, NULLs in n but nowhere else, clipped sum exact
    on cent-grid values. Values are generated as cents so the
    decimal(18,2) sum is exact and the double conversion is the same
    correctly-rounded rational in both the model and the engine."""
    import math

    from github_event_etl_spark.operators.profile import winsorize_stats

    rows = [
        (g, None if c is None else c / 100.0)
        for g, vals in data.items()
        for c in vals
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        r.g: (r.lo, r.hi, r.n, r.n_clip_low, r.n_clip_high, r.sum_clipped)
        for r in winsorize_stats(df, "g", "v", 0.05, 0.95).collect()
    }

    want = {}
    for g, vals in data.items():
        nonnull = sorted(c for c in vals if c is not None)
        k = len(nonnull)
        lo_c = nonnull[max(0, math.ceil(0.05 * k) - 1)]
        hi_c = nonnull[max(0, math.ceil(0.95 * k) - 1)]
        clip_lo = sum(1 for c in nonnull if c < lo_c)
        clip_hi = sum(1 for c in nonnull if c > hi_c)
        cents = sum(min(max(c, lo_c), hi_c) for c in nonnull)
        want[g] = (
            lo_c / 100.0,
            hi_c / 100.0,
            len(vals),
            clip_lo,
            clip_hi,
            float(cents) / 100.0,
        )
    assert got == want


def test_winsorize_null_readings_stay_null(spark):
    """The quantile-clip NULL policy (agg_quantile_clip's docstring):
    a NULL reading is MISSING, not an outlier — it counts in `n` but
    in neither clip count nor the clipped sum. Testdata carries no
    NULL readings, so this synthetic frame is the only thing standing
    between the policy and least/greatest's null-skipping turning
    NULLs into manufactured lo-bound data."""
    from github_event_etl_spark.operators.profile import winsorize_stats

    rows = [("a", float(v)) for v in range(1, 11)] + [
        ("a", None),
        ("a", None),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize_stats(df, "g", "v", lo_q=0.2, hi_q=0.8).collect()
    assert len(out) == 1
    r = out[0]
    # percentile_disc over 1..10 (nulls excluded by the aggregate):
    # ceil(0.2*10)=2 -> lo=2.0, ceil(0.8*10)=8 -> hi=8.0
    assert (r.lo, r.hi) == (2.0, 8.0)
    assert r.n == 12  # nulls ARE rows
    assert (r.n_clip_low, r.n_clip_high) == (1, 2)  # 1 | 9, 10
    # clipped sum over non-null readings only:
    # 2 + 2+3+4+5+6+7+8 + 8+8 = 53; NULLs contribute nothing
    assert r.sum_clipped == 53.0


def test_densify_buckets_empty_input_yields_empty(spark):
    """Degenerate contract (documented in the docstring): an EMPTY
    aggregate densifies to an EMPTY grid — the null-bounds row is
    filtered out, so no `sequence(null, null)` ever evaluates and the
    caller sees zero rows, not an error or a null-bucket row."""
    from github_event_etl_spark.operators.timeseries import (
        densify_buckets,
    )

    df = spark.createDataFrame([], "grp string, bucket timestamp, n long")
    out = densify_buckets(df, "grp", "bucket", "n")
    assert out.count() == 0
    assert out.columns == ["grp", "bucket", "n"]


def test_densify_buckets_alignment_validation(spark):
    """The alignment precondition is checkable: an input bucket OFF
    the min-anchored step grid (here :30 under an hourly step) is
    silently zero-replaced by default — the documented hazard — and
    `validate_alignment=True` turns it into a loud ValueError naming
    the offending bucket, while an on-grid input passes the same
    check unchanged."""
    from datetime import datetime

    import pytest as _pytest

    from github_event_etl_spark.operators.timeseries import (
        densify_buckets,
    )

    on_grid = spark.createDataFrame(
        [("a", datetime(2024, 1, 1, 0), 2), ("a", datetime(2024, 1, 1, 2), 3)],
        "grp string, bucket timestamp, n long",
    )
    ok = densify_buckets(
        on_grid, "grp", "bucket", "n", validate_alignment=True
    ).collect()
    assert {(r.bucket.hour, r.n) for r in ok} == {(0, 2), (1, 0), (2, 3)}

    off_grid = spark.createDataFrame(
        [
            ("a", datetime(2024, 1, 1, 0), 2),
            ("a", datetime(2024, 1, 1, 1, 30), 3),
        ],
        "grp string, bucket timestamp, n long",
    )
    # default: the off-grid count is LOST to a zero row (why the
    # precondition is documented — truncation-produced inputs can't
    # hit this, hand-built ones can)
    got = {
        (r.bucket, r.n)
        for r in densify_buckets(off_grid, "grp", "bucket", "n").collect()
    }
    assert got == {
        (datetime(2024, 1, 1, 0), 2),
        (datetime(2024, 1, 1, 1), 0),
    }
    with _pytest.raises(ValueError, match="off the min-anchored"):
        densify_buckets(
            off_grid, "grp", "bucket", "n", validate_alignment=True
        )


_VAL = st.one_of(
    st.none(),
    st.floats(
        allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
    ),
)


@settings(max_examples=10, deadline=None)
@given(
    grid=st.dictionaries(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(0, 30)),
        _VAL,
        min_size=1,
        max_size=25,
    ),
)
def test_fill_forward_and_interpolate_match_python_model(spark, grid):
    """locf must carry the nearest EARLIER observation per group (head
    nulls stay null); linear interpolation must reproduce the exact
    IEEE expression prev + (nxt-prev)*(t-prev)/(nxt_t-prev_t) between
    surrounding observations, extend observations into head/tail gaps,
    and leave observation-free groups null. The Python model mirrors
    the operand order, so comparisons are exact — no tolerance."""
    from datetime import datetime, timedelta

    from github_event_etl_spark.operators.timeseries import (
        fill_forward,
        interpolate_linear,
    )

    base = datetime(2024, 1, 1)
    rows = [
        (g, base + timedelta(hours=h), v) for (g, h), v in grid.items()
    ]
    df = spark.createDataFrame(
        rows, "grp string, bucket timestamp, val double"
    )

    def model(kind):
        out = {}
        for g in {g for (g, _) in grid}:
            pts = sorted(
                (h, v) for (gg, h), v in grid.items() if gg == g
            )
            obs = [(h, v) for h, v in pts if v is not None]
            for h, v in pts:
                if v is not None:
                    out[(g, h)] = v
                    continue
                prev = max(((t, x) for t, x in obs if t < h), default=None)
                if kind == "locf":
                    out[(g, h)] = prev[1] if prev else None
                    continue
                nxt = min(((t, x) for t, x in obs if t > h), default=None)
                if prev is None and nxt is None:
                    out[(g, h)] = None
                elif prev is None:
                    out[(g, h)] = nxt[1]
                elif nxt is None:
                    out[(g, h)] = prev[1]
                else:
                    pt, pv = prev
                    nt, nv = nxt
                    # ratio FIRST, mirroring the operator: with exact
                    # integer times the quotient is identical under any
                    # rescaling of the axis, so the hour-based model
                    # bit-matches the operator's microsecond arithmetic
                    out[(g, h)] = pv + (nv - pv) * ((h - pt) / (nt - pt))
        return out

    hours = lambda r: int((r.bucket - base).total_seconds()) // 3600
    got_locf = {
        (r.grp, hours(r)): r.val
        for r in fill_forward(df, "grp", "bucket", "val").collect()
    }
    assert got_locf == model("locf")
    got_interp = {
        (r.grp, hours(r)): r.val
        for r in interpolate_linear(df, "grp", "bucket", "val").collect()
    }
    assert got_interp == model("interp")


def test_connected_components_raises_when_rounds_exhausted(spark):
    """Exceeding the changing-round budget must raise, never return
    partial (non-minimal) labels — a silent partial result would
    corrupt every downstream min-id contract (dedup representatives,
    the leakage-safe split). The budget counts CHANGING rounds only:
    an already-converged star passes even at max_rounds=0, and the
    knob is plumbed through dedup_clusters so the error's remediation
    is actionable at every call site."""
    from github_event_etl_spark.operators.graph import (
        connected_components,
        dedup_clusters,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(chain, max_rounds=0)
    # already at the fixed point: the confirming round is free
    star = spark.createDataFrame([(0, 1), (0, 2)], "u long, v long")
    got = {r.node: r.component for r in connected_components(star, max_rounds=0).collect()}
    assert got == {0: 0, 1: 0, 2: 0}
    # the same chain converges fine with the default bound
    got = {r.node: r.component for r in connected_components(chain).collect()}
    assert got == {i: 0 for i in range(13)}
    # and dedup_clusters exposes the knob the error message names
    pairs = chain.select(F.col("u").alias("doc_a"), F.col("v").alias("doc_b"))
    ids = spark.range(13).select(F.col("id").alias("doc_id"))
    with pytest.raises(RuntimeError, match="max_rounds"):
        dedup_clusters(pairs, ids, max_rounds=0)


def test_incremental_classify_skeleton_matches_python_model(spark):
    """Differential check of `_incremental_classify_lsh` — the classify
    skeleton both incremental dedup twins share — in isolation from
    any real banding: a trivial one-bucket banding makes candidate
    recall exhaustive and a DISTANCE score (1 − |va−vb|/100, distinct
    per pair) makes every contract observable against a brute-force
    Python model: status partition, first-wins, min-id matching, the
    >= threshold boundary (a planted pair scores exactly 0.5 and must
    match; 0.49 must not), min_by semantics (the reported score is the
    MIN-ID match's, planted strictly worse than the best match on both
    the corpus and the batch path), and the finalize hook (a ×4 that
    a dropped hook would visibly miss). A second pass with the bucket
    cap below the side sizes pins the whole-bucket-drop semantics:
    every candidate path dies, everything classifies 'new'."""
    import numpy as np

    from github_event_etl_spark.operators.text_dedup import (
        _incremental_classify_lsh,
    )

    # seeded clustered background (docs within a cluster are mutual
    # matches at distinct scores; clusters are >100 apart so they
    # never cross) + planted edge cases. ids: %4 == 0 => batch.
    rng = np.random.default_rng(7)
    rows = [
        (int(i), int(rng.integers(0, 10) * 500 + rng.integers(0, 40)))
        for i in range(60)
    ]
    rows += [
        (100, 100_000), (101, 100_010), (102, 100_001),
        # corpus min-id match (101, s=0.9) is strictly worse than the
        # best match (102, s=0.99): pins min_by over max/first
        (104, 101_000), (105, 101_050),   # s exactly 0.50: >= keeps it
        (108, 102_000), (109, 102_051),   # s=0.49: must NOT match
        (112, 101_998),                   # first-wins: matches 108
        # (101_998 is 53 from corpus doc 109's 102_051 — below threshold)
        (116, 999_999),                   # isolated: new
        (120, 103_000), (124, 103_004), (128, 103_008),
        # 128's min-id batch match (120, s=0.92) is worse than its
        # best (124, s=0.96): pins the intra-path min_by too
    ]
    corpus_rows = sorted(r for r in rows if r[0] % 4 != 0)
    batch_rows = sorted(r for r in rows if r[0] % 4 == 0)
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, val long")
    batch = spark.createDataFrame(batch_rows, "doc_id long, val long")

    def banded(df, spread):
        return df.select(
            "doc_id", F.lit(0).alias("band"), F.lit("x").alias("bucket")
        )

    def score(a, b):
        return F.lit(1.0) - F.abs(a - b).cast("double") / F.lit(100.0)

    kwargs = dict(
        id_col="doc_id", payload_col="val",
        matched_col="matched_id", score_out="score_r",
    )
    out = {
        r.doc_id: (r.status, r.matched_id, r.score_r)
        for r in _incremental_classify_lsh(
            corpus, batch, banded, score, 0.5,
            max_bucket_size=10_000,
            finalize=lambda c: c * F.lit(4.0),
            **kwargs,
        ).collect()
    }

    # brute-force model: identical float expression, identical order
    def py_score(va, vb):
        return 1.0 - abs(va - vb) / 100.0

    expected = {}
    earlier = []
    for i, v in batch_rows:
        cm = [(j, w) for j, w in corpus_rows if py_score(v, w) >= 0.5]
        bm = [(j, w) for j, w in earlier if py_score(v, w) >= 0.5]
        if cm:
            j, w = min(cm)
            expected[i] = ("dup_corpus", j, py_score(v, w) * 4.0)
        elif bm:
            j, w = min(bm)
            expected[i] = ("dup_batch", j, py_score(v, w) * 4.0)
        else:
            expected[i] = ("new", None, None)
        earlier.append((i, v))
    assert out == expected
    assert {s for s, _, _ in out.values()} == {"new", "dup_batch", "dup_corpus"}
    # the plants landed as designed: boundary kept, min-id over best
    assert out[104] == ("dup_corpus", 105, 0.5 * 4.0)
    assert out[108][0] == "new" and out[112] == ("dup_batch", 108, 0.98 * 4.0)
    assert out[100] == ("dup_corpus", 101, 0.9 * 4.0)  # not 102's 0.99
    assert out[128] == ("dup_batch", 120, 0.92 * 4.0)  # not 124's 0.96

    # cap below both side sizes: the single bucket is dropped WHOLE on
    # every path, so nothing can match — all 'new'
    capped = {
        r.doc_id: r.status
        for r in _incremental_classify_lsh(
            corpus, batch, banded, score, 0.5,
            max_bucket_size=10, **kwargs,
        ).collect()
    }
    assert set(capped) == set(expected)
    assert set(capped.values()) == {"new"}


# ---------------------------------------- snapshot diff + index maintenance


# doc universe: id → (prev text | None, cur text | None); None = absent
# from that snapshot. Short texts over a tiny alphabet make shingle
# collisions (and thus genuinely shared bands) common; the empty string
# exercises the empty-shingle banding path.
_snap_doc = st.tuples(
    st.one_of(st.none(), st.text(alphabet="ab ", max_size=12)),
    st.one_of(st.none(), st.text(alphabet="ab ", max_size=12)),
).filter(lambda t: t[0] is not None or t[1] is not None)


@settings(max_examples=8, deadline=None)
@given(docs=st.lists(_snap_doc, min_size=1, max_size=25))
def test_snapshot_diff_and_maintenance_model(spark, docs):
    """Two invariants over ARBITRARY snapshot pairs: (1) snapshot_diff
    agrees with a direct Python model of the CDC classification
    (added / removed / changed / silent-when-unchanged), and (2) the
    maintained band index equals a from-scratch banding of the current
    snapshot — apply_index_diff's contract holds for every change-set
    shape hypothesis finds, not just the hand-built and residue-class
    fixtures."""
    from github_event_etl_spark.operators.index_maintenance import (
        apply_index_diff,
    )
    from github_event_etl_spark.operators.merge import snapshot_diff
    from github_event_etl_spark.operators.text_dedup import (
        _band_keys,
        minhash_band_buckets_vec,
    )

    universe = {i: pc for i, pc in enumerate(docs)}
    prev_rows = [(i, p) for i, (p, _) in universe.items() if p is not None]
    cur_rows = [(i, c) for i, (_, c) in universe.items() if c is not None]
    schema = "doc_id long, text string"
    prev = spark.createDataFrame(prev_rows or [], schema)
    cur = spark.createDataFrame(cur_rows or [], schema)

    model = {}
    for i, (p, c) in universe.items():
        if p is None and c is not None:
            model[i] = "added"
        elif p is not None and c is None:
            model[i] = "removed"
        elif p != c:
            model[i] = "changed"

    diff = snapshot_diff(prev, cur, "doc_id", ["text"])
    got = {r.doc_id: r.change_type for r in diff.collect()}
    assert got == model

    vec = minhash_band_buckets_vec(num_bands=2, rows_per_band=2, k=2)

    def band_fn(d):
        return _band_keys(d, vec)

    maintained = {
        tuple(r)
        for r in apply_index_diff(band_fn(prev), diff, cur, band_fn).collect()
    }
    rebuilt = {tuple(r) for r in band_fn(cur).collect()}
    assert maintained == rebuilt


# snapshot-CHAIN universe: id → one text-or-absent per snapshot in the
# chain; 3 snapshots compose two diffs, 4 compose three — the law must
# hold for any chain length, including keys that flap several times
# (added→removed→added, changed→changed→changed-back) inside one window
_snap_chain_doc = st.tuples(
    st.one_of(st.none(), st.text(alphabet="ab", max_size=6)),
    st.one_of(st.none(), st.text(alphabet="ab", max_size=6)),
    st.one_of(st.none(), st.text(alphabet="ab", max_size=6)),
    st.one_of(st.none(), st.text(alphabet="ab", max_size=6)),
).filter(lambda t: any(x is not None for x in t))


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(_snap_chain_doc, min_size=1, max_size=20),
    chain_len=st.sampled_from([3, 4]),
)
def test_reconcile_composes_snapshot_diffs(spark, docs, chain_len):
    """The diff-composition law, exactly as reconcile_change_log's
    docstring states it, over arbitrary snapshot CHAINS (2- and 3-diff
    windows): reconcile(diff(s0,s1) ∪ ... ∪ diff(sN-1,sN)) matches
    diff(s0,sN) exactly on added/removed verdicts and on upsert
    payloads, with 'changed' allowed to be spuriously present ONLY for
    keys whose content reverted (first == last) — and applying the
    reconciled log yields the same final index state as a from-scratch
    derivation of the last snapshot."""
    from github_event_etl_spark.operators.index_maintenance import (
        apply_index_diff,
    )
    from github_event_etl_spark.operators.merge import (
        reconcile_change_log,
        snapshot_diff,
    )
    from github_event_etl_spark.operators.text_dedup import (
        _band_keys,
        minhash_band_buckets_vec,
    )

    universe = dict(enumerate(docs))
    schema = "doc_id long, text string"

    def snap(ix):
        return spark.createDataFrame(
            [(i, t[ix]) for i, t in universe.items() if t[ix] is not None],
            schema,
        )

    chain = [snap(i) for i in range(chain_len)]
    a, c = chain[0], chain[-1]

    def with_payload(diff, snapshot, seq):
        return (
            diff.select("doc_id", "change_type")
            .join(snapshot, "doc_id", "left")
            .select("doc_id", "change_type", "text", F.lit(seq).alias("seq"))
        )

    log = None
    for i in range(chain_len - 1):
        step = with_payload(
            snapshot_diff(chain[i], chain[i + 1], "doc_id", ["text"]),
            chain[i + 1],
            i + 1,
        )
        log = step if log is None else log.unionByName(step)
    net = {
        r.doc_id: (r.change_type, r.text)
        for r in reconcile_change_log(log, "doc_id", "seq", ["text"]).collect()
    }
    direct = {
        r.doc_id: r.change_type
        for r in snapshot_diff(a, c, "doc_id", ["text"]).collect()
    }

    for i, texts in universe.items():
        ta, tc = texts[0], texts[chain_len - 1]
        net_t = net.get(i, (None, None))[0]
        if direct.get(i) in ("added", "removed"):
            assert net_t == direct[i], (i, net_t, direct.get(i))
        elif direct.get(i) == "changed":
            assert net_t == "changed", (i, net_t)
        elif net_t is not None:
            # spurious rows: only 'changed', only for reverted content
            assert net_t == "changed" and ta == tc and ta is not None, (
                i, net_t, ta, tc,
            )
        if net_t in ("added", "changed"):
            assert net[i][1] == tc  # payload is the final content

    # final-state equivalence: the net log drives the index to c
    vec = minhash_band_buckets_vec(num_bands=2, rows_per_band=2, k=2)

    def band_fn(d):
        return _band_keys(d, vec)

    net_df = spark.createDataFrame(
        [(i, t, x) for i, (t, x) in net.items()],
        "doc_id long, change_type string, text string",
    )
    maintained = {
        tuple(r)
        for r in apply_index_diff(
            band_fn(a), net_df, c, band_fn
        ).collect()
    }
    assert maintained == {tuple(r) for r in band_fn(c).collect()}


def test_pair_explode_matches_brute_force_at_chunk_boundaries(spark):
    """The chunked in-bucket pair expansion (r22 `_pair_explode`) must
    emit EXACTLY the (a, b), a-before-b pair set of each sorted member
    array — fuzzed across sizes straddling the `_PAIR_CHUNK` boundary
    (1, 2, 63, 64, 65, 128, 130, 200), where an off-by-one in the
    chunk base/suffix arithmetic would drop or duplicate pairs."""
    import random

    from pyspark.sql import functions as F  # noqa: F401

    from github_event_etl_spark.operators.text_dedup import _pair_explode

    random.seed(7)
    rows = [
        (sorted(random.sample(range(100_000), sz)),)
        for sz in (1, 2, 3, 5, 63, 64, 65, 100, 128, 130, 200)
    ]
    df = spark.createDataFrame(rows, "ids array<long>")
    got = sorted(
        tuple(r) for r in _pair_explode(df, "ids", "doc_a", "doc_b").collect()
    )
    want = sorted(
        (ids[i], ids[j])
        for (ids,) in rows
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
    )
    assert got == want and len(want) > 0
