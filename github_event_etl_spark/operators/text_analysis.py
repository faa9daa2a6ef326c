"""Text-analysis operators for training-data curation (SURVEY.md §2
B11): token counting, quality scoring, language ID, and document
fingerprinting.

All pure JVM-side column expressions (split / higher-order functions /
regexp) — no Python UDFs — so every one of these is a map-side
projection that scales embarrassingly: no shuffle at all until a query
aggregates the per-document results.

The marker/stopword lists live here as Python constants and are
interpolated into BOTH the Spark expressions and the DuckDB oracle SQL
(plans/queries_llm.py), keeping the two engines character-identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text_dedup import _let, word_shingles, word_shingles_tokens, words

# Tokens that vote for each language. Deterministic classification with
# a fixed preference order for ties (first list wins). Real pipelines
# swap in per-language frequency tables; the operator shape (vote +
# argmax over map-side token scans) is what matters at scale.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "和"),
}

STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "and", "to", "in", "is", "it", "on", "for",
)

PUNCT_CLASS = r"[.,!?;:]"
# Word-ish token regex shared with the oracle: letter runs, digit runs,
# or single non-alnum-non-space chars (a BPE-style pre-tokenizer split).
TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


# PII patterns, shared verbatim with the oracle SQL. Deliberately the
# portable subset of Java-regex ∩ RE2 (DuckDB): char classes, bounded
# repeats, \b word boundaries — no lookarounds, no backrefs. Order
# matters for redaction: emails first (their local parts can contain
# digit runs that would otherwise half-match the id pattern), then
# IPv4, then bare long digit runs. Replacement tokens contain no
# digits/@ so a later pattern can never re-match an earlier rewrite.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("long_id", r"\b\d{9,}\b", "[ID]"),
)


def pii_counts(text: Column) -> list[Column]:
    """One count column per PII kind (n_email, n_ipv4, n_long_id),
    computed on the ORIGINAL text. Map-side regexp_count — JVM regex,
    no Python."""
    return [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its class token, in PII_PATTERNS
    order. A chain of three map-side regexp_replace projections — the
    standard scrub step of a training-data pipeline, embarrassingly
    parallel at any scale."""
    out = text
    for _kind, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# URL/domain + boilerplate curation gates. The domain regex is the
# portable Java∩RE2 subset (like PII_PATTERNS); the marker phrases are
# plain substrings so both engines test them with LIKE/contains.
URL_DOMAIN_REGEX = r"https?://([A-Za-z0-9.-]+)"
BLOCKED_DOMAINS: tuple[str, ...] = ("spam.example", "ads.example")
BOILERPLATE_MARKERS: tuple[str, ...] = (
    "click here",
    "all rights reserved",
    "terms of service",
    "subscribe",
)


def url_domain(text: Column) -> Column:
    """Host of the first URL in the text ('' when none) — map-side
    regexp_extract of the capture group."""
    return F.regexp_extract(text, URL_DOMAIN_REGEX, 1)


def boilerplate_hits(text: Column) -> Column:
    """How many distinct boilerplate marker phrases appear in the
    (lowercased) text. A sum of contains() tests — pure map-side; a doc
    with >= 2 markers reads as chrome/footer, not content."""
    lowered = F.lower(text)
    hits = [
        F.when(lowered.contains(m), F.lit(1)).otherwise(F.lit(0))
        for m in BOILERPLATE_MARKERS
    ]
    out = hits[0]
    for h in hits[1:]:
        out = out + h
    return out


def ws_token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(words(text))


def regex_token_count(text: Column) -> Column:
    """BPE-style pre-tokenizer count via TOKEN_REGEX."""
    return F.regexp_count(text, F.lit(TOKEN_REGEX))


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, f"[^{PUNCT_CLASS[1:-1]}]", ""))


def mean_word_len(text: Column) -> Column:
    """Average token length, rounded to 6 (stable small-int ratio)."""
    toks = words(text)
    total = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return F.round(total.cast("double") / F.size(toks).cast("double"), 6)


def quality_score_tokens(text: Column, wl: Column) -> Column:
    """`quality_score` over a pre-split LOWERCASE token array `wl`
    (plus the raw text for the length/punctuation terms). Public so a
    fused multi-gate projection tokenizes once and feeds every gate;
    `quality_score` is the tokenize-then-delegate wrapper. Lowercase
    tokens serve both token terms: the count is case-blind and the
    stopword list is lowercase."""
    n = F.length(text).cast("double")
    toks = F.size(wl).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    stops = F.size(F.filter(wl, lambda t: t.isin(*STOPWORDS)))
    stop_score = F.least(F.lit(4.0) * stops.cast("double") / toks, F.lit(1.0))
    punct_ratio = punct_count(text).cast("double") / n
    punct_score = F.lit(1.0) - F.least(F.lit(10.0) * punct_ratio, F.lit(1.0))
    return F.round(
        F.lit(0.4) * len_score + F.lit(0.4) * stop_score + F.lit(0.2) * punct_score,
        6,
    )


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: rewards reasonable length and
    stopword density, penalizes punctuation soup. The exact formula is
    arbitrary (as in any curation pipeline); determinism and
    map-side-only evaluation are the contract.

        0.4·min(len/500, 1) + 0.4·min(4·stop_ratio, 1) + 0.2·(1 − min(10·punct_ratio, 1))

    The token array is let-bound so the text splits once per row
    (token count + stopword scan share it)."""
    return _let(
        words(F.lower(text)), lambda wl: quality_score_tokens(text, wl)
    )


def dup_word_fraction_tokens(wl: Column) -> Column:
    """`dup_word_fraction` over a pre-split lowercase token array."""
    return F.round(
        F.lit(1.0)
        - F.size(F.array_distinct(wl)).cast("double")
        / F.size(wl).cast("double"),
        6,
    )


def dup_word_fraction(text: Column) -> Column:
    """Repetition signal (Gopher-style curation rule): 1 − |distinct
    tokens| / |tokens| over lowercase words. 0 = no repeated word,
    → 1 as the doc degenerates into repetition. Map-side; the token
    array is let-bound so the split happens once per row."""
    return _let(words(F.lower(text)), dup_word_fraction_tokens)


def top_bigram_fraction_tokens(bg: Column) -> Column:
    """`top_bigram_fraction` over a pre-built 2-gram array (see
    text_dedup.word_shingles_tokens). Null for empty bigram lists.
    Quadratic in DISTINCT bigrams per doc, which is bounded by doc
    length — per-row work, never cross-row."""
    return F.when(
        F.size(bg) > 0,
        F.round(
            F.array_max(
                F.transform(
                    F.array_distinct(bg),
                    lambda x: F.size(F.filter(bg, lambda y: y == x)),
                )
            ).cast("double")
            / F.size(bg).cast("double"),
            6,
        ),
    )


def top_bigram_fraction(text: Column) -> Column:
    """Fraction of word-2-grams taken by the single most frequent one —
    the classic boilerplate detector (a doc dominated by one repeated
    phrase scores high). Null for docs under two words."""
    return _let(word_shingles(F.lower(text), k=2), top_bigram_fraction_tokens)


def lang_votes_tokens(wl: Column, lang: str) -> Column:
    """Number of tokens in a pre-split lowercase array matching
    `lang`'s marker list."""
    return F.size(F.filter(wl, lambda t: t.isin(*LANG_MARKERS[lang])))


def lang_id_tokens(wl: Column) -> Column:
    """`lang_id` over a pre-split lowercase token array — one marker
    scan per language over the shared array instead of one tokenize
    per language."""
    votes = {lg: lang_votes_tokens(wl, lg) for lg in LANG_MARKERS}
    mx = F.greatest(*votes.values())
    expr = None
    for lg in LANG_MARKERS:
        cond = (votes[lg] > 0) & (votes[lg] == mx)
        expr = F.when(cond, F.lit(lg)) if expr is None else expr.when(cond, F.lit(lg))
    return expr.otherwise(F.lit("und"))


def lang_id(text: Column) -> Column:
    """Argmax over marker votes as a first-match-wins CASE chain (ties
    broken by LANG_MARKERS order); zero votes everywhere ⇒ 'und'
    (undetermined, BCP-47). The lowercase token array is let-bound so
    the text splits once, not once per candidate language."""
    return _let(words(F.lower(text)), lang_id_tokens)


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int = 3, w: int = 4
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm): hash every word
    k-gram, slide a window of `w` consecutive k-gram hashes, keep the
    minimum of each window; the distinct selected hashes are the doc's
    fingerprint set. Guarantees every match of length >= w+k-1 tokens
    shares a fingerprint, while storing ~2/(w+1) of the hashes.

    Relational formulation (all JVM-side, ONE shuffle on doc_id):
    posexplode shingles -> md5 -> sliding min over a w-row window
    frame -> keep full windows (plus the truncated pos-0 window for
    docs shorter than w k-grams, so every doc with >= 1 shingle gets
    >= 1 fingerprint) -> per-doc distinct + sorted-set digest.

    The window's hash partitioning on doc_id is reused by the final
    groupBy (no second exchange), and the set-dedup happens INSIDE the
    aggregation (array_distinct over the collected window mins) rather
    than as a separate `.distinct()`, which would add a shuffle on
    (doc_id, fp_hash). Winnowing selects ~2/(w+1) of the hashes, so
    the collected list is ~n_windows small strings per doc. Docs with
    fewer than k words have no shingles and drop out (matching the
    oracle).
    """
    sh = docs.select(
        "doc_id",
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "sh"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    whole = Window.partitionBy("doc_id")
    # Frame window FIRST: its (doc_id, pos) sort satisfies the
    # unordered count window's doc_id grouping, so the plan carries one
    # Sort for both Window nodes (the reverse order plans two).
    picked = (
        sh.select("doc_id", "pos", F.md5(F.col("sh")).alias("h"))
        .withColumn("fp_hash", F.min("h").over(frame))
        .withColumn("m", F.count(F.lit(1)).over(whole))
        .filter(F.col("pos") <= F.greatest(F.col("m") - w, F.lit(0)))
        .select("doc_id", "fp_hash")
    )
    fps = F.array_sort(F.array_distinct(F.collect_list("fp_hash")))
    return (
        picked.groupBy("doc_id")
        .agg(fps.alias("_fps"))
        .select(
            "doc_id",
            F.size("_fps").cast("bigint").alias("n_fps"),
            F.md5(F.concat_ws(" ", F.col("_fps"))).alias("winnow_fp"),
        )
    )


def bow_fingerprint(text: Column) -> Column:
    """Bag-of-words document fingerprint: md5 of the sorted distinct
    lowercase tokens. Word-order-insensitive content identity — catches
    shuffled near-copies that exact hashing misses. md5 hex keeps it
    engine-portable for the oracle."""
    toks = F.array_sort(F.array_distinct(words(F.lower(text))))
    return F.md5(F.concat_ws(" ", toks))


def bpe_merge_pairs(
    docs: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """Candidate merge-pair statistics for one BPE tokenizer-training
    iteration: the frequency of every adjacent symbol pair across the
    corpus, weighted by word frequency, top-`top_k` by count. Returns
    (pair, pair_count) where `pair` is the two single-char symbols
    space-joined — exactly the ranking a byte-pair-encoding trainer
    consumes to pick its next merge (Sennrich et al., ACL'16 shape;
    symbols here are the pre-merge single characters, i.e. iteration 0).

    Scale shape — the classic BPE-trainer factoring, distributed:
      1. corpus → word histogram: one explode + groupBy(word) count.
         Vocabulary-sized shuffle (hot words collapse in the map-side
         partial aggregate), after which CORPUS SIZE DROPS OUT — a
         100 TB corpus and its 10 GB vocabulary produce the same
         downstream work.
      2. pair expansion over DISTINCT words only, weighted by freq:
         pure map-side higher-order transform (no Python).
      3. groupBy(pair) sum: the pair keyspace is bounded by
         alphabet², so this shuffle is tiny and skew-free after the
         map-side partial sums.
      4. top-K via orderBy+limit = TakeOrderedAndProject (per-partition
         heaps, no global sort), deterministic under the (count DESC,
         pair ASC) total order — `pair` is unique after the groupBy.

    Empty tokens are filtered (a blank doc trims to one empty string).
    The `length >= 2` filter is LOAD-BEARING, not belt-and-braces:
    Spark's sequence(1, 0) DESCENDS to [1, 0] (default step -1 when
    start > stop), so without the filter a single-char word would emit
    bogus substr(w, 0, 1) pairs — unlike the oracle's range(1,
    length(w)), which genuinely is empty there.
    """
    wf = (
        docs.select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pair_expr = F.transform(
        F.sequence(F.lit(1), F.length("w") - 1),
        lambda i: F.concat(
            F.col("w").substr(i, F.lit(1)),
            F.lit(" "),
            F.col("w").substr(i + F.lit(1), F.lit(1)),
        ),
    )
    return (
        wf.filter(F.length("w") >= 2)
        .select("freq", F.explode(pair_expr).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(top_k)
    )


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Full iterative BPE training (Sennrich et al., ACL'16),
    distributed and collect-free: returns the learned merge table
    (iteration, pair_a, pair_b, pair_count), one row per merge in
    learning order. `bpe_merge_pairs` is one iteration's candidate
    statistics; this runs the whole greedy loop.

    Loop shape per merge (the word histogram is the working set —
    corpus size dropped out before iteration 0):
      1. adjacent-pair counts over the symbolized words, weighted by
         word freq (map-side HOF expansion, alphabet-bounded shuffle);
      2. the argmax pair by (count DESC, a, b) as a ONE-ROW DataFrame
         (TakeOrdered) — never collected: it re-attaches to every word
         as a broadcast, the same no-driver-actions discipline as the
         k-means assign step (similarity.py);
      3. merge application as a left-to-right greedy fold
         (`aggregate` HOF): append each symbol, or replace the
         accumulator's tail when (tail, current) == (a, b). The fold
         IS greedy-non-overlapping: a just-merged tail equals a+b,
         which can never equal `a` (b is non-empty), so it cannot
         merge again with the next symbol as `a` would.

    Iterative-plan hygiene: the symbolized histogram re-checkpoints
    every `checkpoint_every` merges (graph.py's lineage-truncation
    pattern — each iteration otherwise nests another crossJoin +
    aggregate under the last). Eager localCheckpoint per round also
    pins the merge CHOICE, so ties broken identically on every
    re-execution.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    wf = (
        docs.select(F.explode(words(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("syms", F.split(F.col("w"), ""))
        .drop("w")
        .localCheckpoint(eager=True)
    )
    merges = []
    for it in range(n_merges):
        pair_expr = F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i).alias("a"),
                F.element_at("syms", i + F.lit(1)).alias("b"),
            ),
        )
        best = (
            wf.filter(F.size("syms") >= 2)
            .select("freq", F.explode(pair_expr).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .select(
                F.lit(it).alias("iteration"),
                F.col("a").alias("pair_a"),
                F.col("b").alias("pair_b"),
                "pair_count",
            )
            .localCheckpoint(eager=True)  # pin the choice (ties, replays)
        )
        merges.append(best)
        folded = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, s: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("pair_a"))
                & (s == F.col("pair_b")),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(F.col("pair_a"), F.col("pair_b"))),
                ),
            ).otherwise(F.concat(acc, F.array(s))),
        )
        wf = wf.crossJoin(F.broadcast(best.drop("iteration", "pair_count"))).select(
            "freq", folded.alias("syms")
        )
        if (it + 1) % checkpoint_every == 0 and it + 1 < n_merges:
            wf = wf.localCheckpoint(eager=True)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def bpe_segment(
    docs: DataFrame, merge_table: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Apply a learned merge table to a corpus: (doc_id, tokens) where
    tokens is each word's final BPE segmentation, space-joined per
    word. The pandas function re-implements the same greedy
    left-to-right fold as learn_bpe (parity-tested); merges apply in
    learning order, each over every word, exactly as at training time.

    DELIBERATE driver materialization of the merge table: it is the
    MODEL — bounded by the merge count (a tokenizer is tens of
    thousands of rows), never by data volume — and closure-capturing
    it ships ONE copy to each executor inside the serialized function,
    the same shape as broadcasting fitted ML-model coefficients. The
    two rejected alternatives are both wrong at scale: a crossJoin'd
    array column duplicates the whole tokenizer into EVERY Arrow row,
    and a collect_list aggregate's order is not guaranteed after a
    shuffle, so merges could apply out of learning order (the explicit
    driver-side sort pins it). This is the repo's one documented
    exception to the no-driver-collect rule, and it is exempt
    because the collected size is O(model), not O(data)."""
    merges = [
        (r.pair_a, r.pair_b)
        for r in merge_table.select("iteration", "pair_a", "pair_b")
        .orderBy("iteration")
        .collect()
    ]

    def seg_batches(it):
        import pandas as _pd

        for pdf in it:
            out_tokens = []
            for text in pdf[text_col]:
                toks = []
                for w in str(text).strip(" ").split():
                    syms = list(w)
                    for a, b in merges:
                        acc = []
                        for s in syms:
                            if acc and acc[-1] == a and s == b:
                                acc[-1] = a + b
                            else:
                                acc.append(s)
                        syms = acc
                    toks.append(" ".join(syms))
                out_tokens.append("|".join(toks))
            yield _pd.DataFrame(
                {"doc_id": pdf["doc_id"], "tokens": out_tokens}
            )

    import pyspark.sql.types as T_

    schema = T_.StructType(
        [
            T_.StructField("doc_id", T_.LongType()),
            T_.StructField("tokens", T_.StringType()),
        ]
    )
    return docs.select("doc_id", text_col).mapInPandas(
        seg_batches, schema=schema
    )


def chunk_tokens(
    docs: DataFrame,
    chunk_size: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking: split each doc into
    `chunk_size`-token windows starting every `stride` tokens — the
    context-construction step of a pretraining / RAG pipeline (long
    docs become overlapping model-sized windows; `stride < chunk_size`
    gives the overlap that keeps boundary context). One row per chunk:
    (id, chunk_id, start_tok, n_tok, chunk_text).

    Chunk-count convention: a doc of n <= chunk_size tokens is one
    chunk; otherwise starts run 0, stride, 2·stride, … up to the first
    start whose window reaches the end — ceil((n − chunk_size) /
    stride) + 1 chunks, so the final window always covers the tail and
    no window is fully contained in its predecessor. Docs whose token
    array is NULL (null text) produce no rows.

    Scale shape: pure map-side explode — the token array is let-bound
    (one split per row), the window starts come from a bounded
    `sequence`, and each output row materializes only its own slice.
    No shuffle at any corpus size; output volume is ~n/stride rows per
    doc, the expansion the chunking contract itself demands. The
    ceil is floor-division written over doubles, exact for any
    realistic token count (< 2^53).

    Requires 1 <= stride <= chunk_size: the count convention and the
    tail-coverage/containment guarantees above assume overlapping (or
    exactly abutting) windows — a gapped stride would emit windows
    past the document end (negative n_tok) rather than subsample it,
    so it is rejected instead of silently producing garbage."""
    if not 1 <= stride <= chunk_size:
        raise ValueError(
            f"chunk_tokens requires 1 <= stride <= chunk_size, got "
            f"stride={stride}, chunk_size={chunk_size}"
        )
    from .text_dedup import _let

    def chunks_of(w: Column) -> Column:
        n = F.size(w)
        nchunks = F.when(n <= chunk_size, F.lit(1)).otherwise(
            F.floor(
                (n - chunk_size + stride - 1) / F.lit(stride)
            ).cast("int")
            + 1
        )
        return F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda k: F.struct(
                k.cast("long").alias("chunk_id"),
                (k * stride).cast("long").alias("start_tok"),
                F.least(F.lit(chunk_size), n - k * stride)
                .cast("long")
                .alias("n_tok"),
                F.concat_ws(
                    " ", F.slice(w, k * stride + 1, chunk_size)
                ).alias("chunk_text"),
            ),
        )

    return (
        docs.select(
            F.col(id_col),
            # explode(NULL) emits no rows — null-text docs vanish in
            # both engines (range(0, NULL) unnests to nothing in SQL)
            F.explode(
                _let(
                    words(F.col(text_col)),
                    lambda w: F.when(w.isNotNull(), chunks_of(w)),
                )
            ).alias("c"),
        )
        .select(
            id_col, "c.chunk_id", "c.start_tok", "c.n_tok", "c.chunk_text"
        )
    )
