"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same pair writes
byte-identical files, a different seed writes different ones. Outputs are
cached under a directory keyed by workload, seed and size, and a
`_DONE` marker is written last so an interrupted build is redone, never
half-trusted. The program under test only ever sees the files written
here; the manifests beside them are ground truth for the correctness
gates and are never handed to the program.

`size` scales row/document counts linearly (1.0 is the benchmark size;
the self-test uses a tiny fraction).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# GH Archive event types; the scoring kinds are the reference's
# PushEvent/PullRequestEvent filter.
EVENT_TYPES = np.array([
    "PushEvent", "PullRequestEvent", "IssuesEvent", "WatchEvent",
    "CreateEvent", "ForkEvent", "IssueCommentEvent", "DeleteEvent",
])
EVENT_TYPE_P = np.array([0.38, 0.12, 0.08, 0.14, 0.10, 0.05, 0.10, 0.03])
SCORING_KINDS = ("PushEvent", "PullRequestEvent")

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
OPEN_FILE_LINES = 25  # lines per open-loop drop file at size 1.0


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _fresh(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.makedirs(path)


def _mark(path: str, manifest: dict) -> None:
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")


def _zipf_choice(rng: np.random.Generator, n_items: int, size: int, s: float):
    p = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    p /= p.sum()
    return rng.choice(n_items, size=size, p=p)


# --------------------------------------------------------------- ingest_stream


def _ndjson_lines(event_id, ts_us, user_id, etype, value) -> str:
    return "".join(
        f'{{"event_id":{e},"ts_us":{t},"user_id":{u},'
        f'"event_type":"{k}","value":{v}}}\n'
        for e, t, u, k, v in zip(
            event_id.tolist(), ts_us.tolist(), user_id.tolist(),
            etype.tolist(), value.tolist(),
        )
    )


def _render_drops(rng, path: str, n_files: int, per_file: int,
                  id_base: int, t_base: int, n_users: int) -> dict:
    """Write `n_files` NDJSON drop files. File i covers 20 s of event time
    after `t_base`; ~15% of its lines retransmit an event from the same
    file or one of the two before it (same id, same payload), and ~5% of
    its new events are late, stamped 60-200 s before the file's window —
    inside the 300 s watermark, so none may be dropped."""
    os.makedirs(path)
    step = 20_000_000
    recent: list[tuple[int, tuple]] = []
    n_events = n_lines = n_retx = n_late = 0
    for i in range(n_files):
        n_new = per_file - int(per_file * 0.15)
        ids = np.arange(n_new, dtype=np.int64) + id_base + n_events
        ts = t_base + i * step + rng.integers(0, step, size=n_new)
        late = rng.random(n_new) < 0.05
        ts = np.where(late, t_base + i * step - rng.integers(
            60_000_000, 200_000_000, size=n_new), ts)
        users = _zipf_choice(rng, n_users, n_new, 1.1).astype(np.int64) + 1
        etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n_new,
                                       p=EVENT_TYPE_P)]
        value = np.round(rng.random(n_new) * 100.0, 3)
        cur = (ids, ts, users, etype, value)
        pool = [(i, cur)] + recent[-2:]
        n_dup = per_file - n_new
        src = rng.integers(0, len(pool), size=n_dup)
        dup_parts = []
        for j, (f_idx, part) in enumerate(pool):
            # retransmit only on-time events (a late event's resend
            # could otherwise fall behind the watermark)
            ok = np.flatnonzero(part[1] >= t_base + f_idx * step)
            take = int((src == j).sum())
            if take and len(ok):
                pick = rng.choice(ok, size=take)
                dup_parts.append(tuple(c[pick] for c in part))
        cols = [np.concatenate([cur[c]] + [d[c] for d in dup_parts])
                for c in range(5)]
        order = rng.permutation(len(cols[0]))
        cols = [c[order] for c in cols]
        with open(os.path.join(path, f"part-{i:05d}.json"), "w") as f:
            f.write(_ndjson_lines(*cols))
        recent.append((i, cur))
        n_events += n_new
        n_lines += len(order)
        n_retx += n_dup
        n_late += int(late.sum())
    return {"files": n_files, "events": n_events, "lines": n_lines,
            "retransmits": n_retx, "late": n_late}


def ingest_drops(root: str, seed: int, size: float,
                 open_files: int, backlog_files: int) -> str:
    """Pre-rendered NDJSON drop files: `open/` (small files, one per
    offered tick) for the open-loop window and `backlog/` (larger files)
    for the capacity drain, with disjoint ids and event times."""
    out = os.path.join(
        root, f"ingest-{seed}-{size:g}-{open_files}-{backlog_files}"
    )
    if _done(out):
        return out
    _fresh(out)
    rng = np.random.default_rng([seed, 2])
    n_users = max(50, int(5000 * size))
    man = {
        "open": _render_drops(rng, os.path.join(out, "open"), open_files,
                              max(20, int(OPEN_FILE_LINES * size)), 1 << 40,
                              T0_US,
                              n_users),
        "backlog": _render_drops(rng, os.path.join(out, "backlog"),
                                 backlog_files, max(40, int(500 * size)),
                                 1 << 41, T0_US + 86_400_000_000, n_users),
    }
    _mark(out, man)
    return out


# ------------------------------------------------------------------- corpora

_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}
_LANGS = tuple(_LANG_MARKERS)
_BOILERPLATE = (
    "licensed under the apache license version two point zero you may "
    "not use this file except in compliance with the license"
).split()


def _vocab(rng: np.random.Generator, n: int = 6000) -> np.ndarray:
    syl = np.array([c + v for c in "bcdfgklmnprstvz" for v in "aeiou"])
    lens = rng.integers(2, 5, size=n)
    picks = rng.integers(0, len(syl), size=(n, 4))
    words = {"".join(syl[picks[i, : lens[i]]]) for i in range(n)}
    return np.array(sorted(words))


class _TextMaker:
    """Random documents: Zipf-distributed content words with the
    language's marker/stop words mixed in; a few carry a shared
    boilerplate passage (degenerate LSH buckets, duplicated spans) and
    a few are short punctuation-heavy junk (low quality)."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = _vocab(rng)
        p = 1.0 / np.arange(1, len(self.vocab) + 1) ** 0.9
        self.p = p / p.sum()

    def doc(self, lang: str) -> list[str]:
        rng = self.rng
        if rng.random() < 0.06:
            return self.junk()
        n = int(rng.integers(45, 90))
        toks = list(rng.choice(self.vocab, size=n, p=self.p))
        markers = _LANG_MARKERS[lang]
        for pos in rng.integers(0, n, size=n // 6):
            toks[pos] = markers[int(rng.integers(0, len(markers)))]
        if rng.random() < 0.04:
            at = int(rng.integers(0, n))
            toks[at:at] = _BOILERPLATE
        return toks

    def junk(self) -> list[str]:
        """A short punctuation-heavy doc the quality gate must reject."""
        n = int(self.rng.integers(6, 12))
        return [w + "!?;" for w in self.rng.choice(self.vocab, size=n, p=self.p)]

    def near(self, toks: list[str]) -> list[str]:
        """One word substituted: word-3-shingle Jaccard ~0.9 for a
        60-word doc, so a chain of edits links A~B~C while A and C may
        fall below the 0.8 verify threshold (CC must close the chain)."""
        out = list(toks)
        pos = int(self.rng.integers(3, max(4, len(out) - 3)))
        out[pos] = str(self.rng.choice(self.vocab))
        return out


def _docs_table(ids, texts, langs) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array([f"src{i % 3}" for i in ids], type=pa.string()),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _write_split(tbl: pa.Table, path: str, parts: int = 4) -> None:
    """Write a table as a directory of `parts` parquet files so scans
    split into several tasks."""
    os.makedirs(path)
    step = -(-tbl.num_rows // parts)
    for i in range(parts):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(path, f"part-{i}.parquet"))


def _unit(v: np.ndarray) -> np.ndarray:
    return (v / np.linalg.norm(v, axis=-1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(np.zeros(len(ids), dtype=np.int32)),
    })


def increment_corpus(root: str, seed: int, size: float) -> str:
    """A corpus snapshot (documents + 64-d clustered embeddings) and a
    ~20% increment. Increment docs are planted exact copies of corpus
    docs, one-word edits of them (near), re-worded docs with
    near-identical embeddings (semantic), second edits of a near doc
    (chain: may match only the near doc, so clustering must close the
    chain), short punctuation-heavy junk, and clean new docs. Doc ids
    and vec ids coincide. The manifest maps every planted duplicate to
    its source corpus doc."""
    out = os.path.join(root, f"increment-{seed}-{size:g}")
    if _done(out):
        return out
    _fresh(out)
    rng = np.random.default_rng([seed, 4])
    tm = _TextMaker(rng)
    n_c = max(200, int(1000 * size))
    n_b = n_c // 5
    centers = _unit(rng.normal(size=(24, 64)))

    def vecs(k: int) -> np.ndarray:
        c = centers[rng.integers(0, len(centers), size=k)]
        return _unit(c + rng.normal(scale=0.12, size=(k, 64)))

    def clean_doc(lang: str) -> list[str]:
        t = tm.doc(lang)
        while len(t) < 20:  # planted copies and new docs need real content
            t = tm.doc(lang)
        return t

    c_langs = [_LANGS[i] for i in rng.integers(0, len(_LANGS), size=n_c)]
    c_toks = [clean_doc(lang) for lang in c_langs]
    c_vec = vecs(n_c)
    # fixed counts per kind (a chain doc brings its parent near doc, so
    # chains take two slots) keep the batch size the same for every seed
    share = {"exact": 0.12, "near": 0.12, "semantic": 0.12, "chain": 0.06,
             "junk": 0.10}
    counts = {k: int(v * n_b) for k, v in share.items()}
    counts["new"] = n_b - sum(counts.values()) - counts["chain"]
    kinds = rng.permutation(np.repeat(list(counts), list(counts.values())))
    src = rng.choice(n_c, size=len(kinds), replace=False)
    b_ids = np.arange(len(kinds)) + n_c
    b_toks: list[list[str]] = []
    b_langs, b_vec = [], vecs(len(kinds))
    near_of: dict[int, list[str]] = {}
    for j, (kind, s) in enumerate(zip(kinds, src)):
        lang = c_langs[s]
        if kind == "exact":
            toks = c_toks[s]
        elif kind in ("near", "chain"):
            toks = near_of.setdefault(int(s), tm.near(c_toks[s]))
            if kind == "chain":
                toks = tm.near(toks)
        elif kind == "junk":
            toks = tm.junk()
        else:
            toks = clean_doc(lang)
        if kind in ("exact", "near", "semantic", "chain"):
            b_vec[j] = _unit(c_vec[s] + rng.normal(scale=0.004, size=64))
        b_toks.append(toks)
        b_langs.append(lang)
    # a chain doc needs its one-edit parent in the batch too
    for j in np.flatnonzero(kinds == "chain"):
        kinds = np.append(kinds, "near")
        src = np.append(src, src[j])
        b_ids = np.append(b_ids, n_c + len(b_toks))
        b_toks.append(near_of[int(src[j])])
        b_langs.append(b_langs[j])
        b_vec = np.vstack([b_vec, _unit(c_vec[src[j]] + rng.normal(
            scale=0.004, size=(1, 64)))])
    c_ids = np.arange(n_c)
    _write_split(_docs_table(c_ids, [" ".join(t) for t in c_toks], c_langs),
                 os.path.join(out, "corpus_docs.parquet"))
    _write_split(_emb_table(c_ids, c_vec),
                 os.path.join(out, "corpus_emb.parquet"))
    _write_split(_docs_table(b_ids, [" ".join(t) for t in b_toks], b_langs),
                 os.path.join(out, "batch_docs.parquet"), parts=2)
    _write_split(_emb_table(b_ids, b_vec),
                 os.path.join(out, "batch_emb.parquet"), parts=2)
    dup = np.isin(kinds, ["exact", "near", "semantic", "chain"])
    _mark(out, {
        "corpus": n_c,
        "batch": len(b_ids),
        "planted": {k: [int(i) for i in b_ids[kinds == k]]
                    for k in ("exact", "near", "semantic", "chain", "junk",
                              "new")},
        "source": {str(int(i)): int(s) for i, s in zip(b_ids[dup], src[dup])},
    })
    return out
