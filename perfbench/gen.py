"""Seeded inputs for the lake-search benchmark: the lake, the query pools
and every oracle answer, computed with numpy/pyarrow outside any timed
region. Everything is a pure function of the seed: the same seed gives
byte-identical Parquet files and identical query sequences.

The lake is log-like: one row per log line with a Zipf-skewed vocabulary,
a 32-hex request id unique per row (the oracle's row identity), a key
column and a clustered float32 embedding. The message
embeds the request id (``... rid=<hex>``), so one substring index over
``msg`` serves both word needles and hex-id substrings, and BM25 ranks the
same text.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Lake shape: 2 files x 4 row groups = 8 row-group units of 400 rows,
# far below the library's default brute_force_threshold of 1000. On a
# 4-core host a row-group index build costs seconds per file, and fetching
# a candidate unit costs one Python task of about a second of CPU, which
# bounds both counts within the benchmark's time budget. At 400 rows a unit
# holds ~12k hex-trigram occurrences over 4096 possible trigrams, so a
# 4-hex needle's probe names most, but rarely all, units.
LAKE_FILES = 2
LAKE_ROW_GROUPS = 4
RG_ROWS = 400
GRAM = 3  # SubstringIndex's default gram size
LAKE_ROWS = LAKE_FILES * LAKE_ROW_GROUPS * RG_ROWS
VOCAB = 3000
WORDS_PER_MSG = 6
ZIPF_S = 1.1
LEVELS = ("info", "warn", "error", "debug")
EMB_DIM = 16
EMB_CLUSTERS = 32
TAIL_ROWS = 1000  # scan's appended, unindexed batch
TOPK = 10

# BM25 constants, tokenization and score rounding of indices/bm25.py.
BM25_K1 = 1.2
BM25_B = 0.75
TOKEN_SPLIT_RE = re.compile("[^a-z0-9]+")
SCORE_ROUND = 4


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding a stream never
    shifts the values another stream draws."""
    tag = int.from_bytes(stream.encode(), "little") % (2**63)
    return np.random.default_rng([seed, tag])


def make_vocab(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase pseudo-words of 5-9 letters, in Zipf rank
    order (index 0 is the most frequent)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: dict[str, None] = {}
    while len(out) < n:
        ln = int(rng.integers(5, 10))
        out.setdefault("".join(rng.choice(letters, ln)), None)
    return list(out)


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def hex_ids(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    """n request ids (32 lowercase hex chars) unique among themselves and
    against `taken`, which is updated."""
    out: list[str] = []
    while len(out) < n:
        raw = rng.bytes(16 * (n - len(out)))
        for i in range(0, len(raw), 16):
            h = raw[i : i + 16].hex()
            if h not in taken:
                taken.add(h)
                out.append(h)
    return out


def log_rows(
    rng: np.random.Generator,
    vocab: list[str],
    centers: np.ndarray,
    n: int,
    ts_base: int,
    taken: set[str],
) -> pa.Table:
    """n log rows with a float32 embedding clustered around `centers`."""
    words = np.asarray(vocab, dtype=object)[
        rng.choice(len(vocab), size=(n, WORDS_PER_MSG), p=zipf_probs(len(vocab)))
    ]
    levels = np.asarray(LEVELS, dtype=object)[
        rng.choice(len(LEVELS), size=n, p=[0.7, 0.15, 0.05, 0.1])
    ]
    rids = hex_ids(rng, n, taken)
    msgs = [f"{lv} {' '.join(ws)} rid={r}" for lv, ws, r in zip(levels, words, rids)]
    cols = {
        "ts": pa.array(ts_base + np.arange(n, dtype=np.int64)),
        "key": pa.array(rng.integers(0, 1_000_000, n, dtype=np.int64)),
        "request_id": pa.array(rids, pa.string()),
        "level": pa.array(list(levels), pa.string()),
        "msg": pa.array(msgs, pa.string()),
    }
    emb = centers[rng.integers(0, len(centers), n)] + rng.normal(0, 0.35, (n, EMB_DIM))
    cols["embedding"] = pa.ListArray.from_arrays(
        np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32),
        pa.array(emb.astype(np.float32).ravel()),
    )
    return pa.table(cols)


def write_files(table: pa.Table, out_dir: str, n_files: int, prefix: str) -> list[str]:
    """Split `table` into n_files contiguous Parquet files of RG_ROWS-row
    row groups."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    paths = []
    for i in range(n_files):
        p = os.path.join(out_dir, f"{prefix}-{i:05d}.parquet")
        pq.write_table(table.slice(i * per, per), p, row_group_size=RG_ROWS)
        paths.append(p)
    return paths


def tokens(msg: str) -> list[str]:
    """The library's BM25 tokenization: lowercase, split on non-alnum."""
    return [t for t in TOKEN_SPLIT_RE.split(msg.lower()) if t]


@dataclass
class Rows:
    """Oracle view of a set of rows: ids, lowercased messages, embeddings
    and BM25 postings, all in row order."""

    ids: list[str]
    msgs_lower: list[str]
    emb: np.ndarray
    lens: np.ndarray
    postings: dict[str, dict[int, int]]

    @classmethod
    def of(cls, table: pa.Table) -> "Rows":
        msgs = table["msg"].to_pylist()
        postings: dict[str, dict[int, int]] = {}
        lens = np.empty(len(msgs), dtype=np.float64)
        for i, m in enumerate(msgs):
            toks = tokens(m)
            lens[i] = len(toks)
            for t in toks:
                row = postings.setdefault(t, {})
                row[i] = row.get(i, 0) + 1
        emb = (
            table["embedding"].combine_chunks().flatten().to_numpy()
            .reshape(len(msgs), EMB_DIM)
        )
        return cls(table["request_id"].to_pylist(), [m.lower() for m in msgs],
                   emb, lens, postings)

    def concat(self, other: "Rows") -> "Rows":
        off = len(self.ids)
        postings = {t: dict(d) for t, d in self.postings.items()}
        for t, d in other.postings.items():
            row = postings.setdefault(t, {})
            row.update({i + off: tf for i, tf in d.items()})
        return Rows(self.ids + other.ids, self.msgs_lower + other.msgs_lower,
                    np.concatenate([self.emb, other.emb]),
                    np.concatenate([self.lens, other.lens]), postings)

    def contains(self, needle: str) -> np.ndarray:
        """Row positions matching SubstringIndex semantics: lowercase
        containment of the needle in msg."""
        n = needle.lower()
        return np.array(
            [i for i, m in enumerate(self.msgs_lower) if n in m], dtype=np.int64
        )

    def bm25(self, query: str) -> dict[str, float]:
        """Exact Okapi BM25 of every row holding a query token, with the
        library's constants and rounding, keyed by request id."""
        n = len(self.ids)
        avg = self.lens.sum() / n
        acc: dict[int, float] = {}
        for q in sorted(set(tokens(query))):
            docs = self.postings.get(q, {})
            idf = np.log((n - len(docs) + 0.5) / (len(docs) + 0.5) + 1.0)
            for d, tf in docs.items():
                acc[d] = acc.get(d, 0.0) + idf * (tf * (BM25_K1 + 1)) / (
                    tf + BM25_K1 * (1 - BM25_B + BM25_B * self.lens[d] / avg)
                )
        return {self.ids[d]: round(float(s), SCORE_ROUND) for d, s in acc.items()}

    def l2(self, q: list[float]) -> dict[str, float]:
        """Exact L2 distance of every row to q, rounded like the library's
        l2_dist_col, keyed by request id."""
        d = self.emb.astype(np.float64) - np.asarray(q, dtype=np.float64)
        dist = np.round(np.sqrt((d * d).sum(axis=1)), SCORE_ROUND)
        return dict(zip(self.ids, dist.tolist()))


@dataclass
class Query:
    """One timed query plus its expected answer.

    kind: exact | substring | bm25 | knn. For exact types `expected` is the
    sorted list of matching request ids; for ranked types it is the exact
    top-K as (request id, score) in library order (score descending for
    bm25, distance ascending for knn, ties by id). `unit_fraction` is the
    share of the base lake's row-group units the index probe should name
    (exact and substring kinds)."""

    kind: str
    text: object
    family: str
    expected: list = field(default_factory=list)
    unit_fraction: float = 0.0
    scores: dict = field(default_factory=dict)  # ranked kinds: id -> exact score


def grams(text: str) -> set[str]:
    return {text[i : i + GRAM] for i in range(len(text) - GRAM + 1)}


@dataclass
class Lake:
    files: list[str]
    rows: Rows
    vocab: list[str]
    doc_freq: dict[str, int]  # rows holding each vocabulary word
    unit_grams: list[set[str]]  # grams of each base unit's lowercased msgs
    tail_file: str | None = None  # staged batch scan appends, unindexed
    tail_rows: Rows | None = None

    def probe_fraction(self, needle: str) -> float:
        """Share of the base units a row-group SubstringIndex probe names:
        units holding every gram of the needle (needles here have at most
        max_query_grams grams, so the probe intersects all of them)."""
        g = grams(needle.lower())
        return sum(1 for u in self.unit_grams if g <= u) / len(self.unit_grams)


def make_lake(seed: int, out_dir: str, for_scan: bool = False) -> Lake:
    """The base lake. `for_scan` adds the TAIL_ROWS batch that scan appends
    unindexed."""
    rng = rng_for(seed, "lake")
    vocab = make_vocab(rng_for(seed, "vocab"), VOCAB)
    centers = rng_for(seed, "centers").normal(0, 1, (EMB_CLUSTERS, EMB_DIM))
    taken: set[str] = set()
    table = log_rows(rng, vocab, centers, LAKE_ROWS, 0, taken)
    files = write_files(table, os.path.join(out_dir, "table"), LAKE_FILES, "part")
    rows = Rows.of(table)
    df: dict[str, int] = {w: 0 for w in vocab}
    for m in rows.msgs_lower:
        for w in set(m.split(" ")[1:-1]):
            df[w] += 1
    units = [set() for _ in range(LAKE_FILES * LAKE_ROW_GROUPS)]
    for i, m in enumerate(rows.msgs_lower):
        units[i // RG_ROWS] |= grams(m)
    lake = Lake(files, rows, vocab, df, units)
    if for_scan:
        tail = log_rows(rng_for(seed, "tail"), vocab, centers, TAIL_ROWS, LAKE_ROWS, taken)
        lake.tail_file = write_files(tail, os.path.join(out_dir, "tail"), 1, "tail")[0]
        lake.tail_rows = Rows.of(tail)
    return lake


def _substring(lake: Lake, rows: Rows, needle: str, family: str) -> Query:
    pos = rows.contains(needle)
    ids = sorted(rows.ids[i] for i in pos)
    return Query("substring", needle, family, ids, lake.probe_fraction(needle))


def _ranked(kind: str, text, family: str, scores: dict[str, float]) -> Query:
    sign = -1 if kind == "bm25" else 1
    ranked = sorted(scores.items(), key=lambda kv: (sign * kv[1], kv[0]))
    return Query(kind, text, family, ranked[:TOPK], scores=scores)


def _near_vector(rng: np.random.Generator, rows: Rows) -> Query:
    """IVF top-10 around a perturbed vector of one of `rows`."""
    base = rows.emb[int(rng.integers(0, len(rows.ids)))]
    q = [float(x) for x in (base + rng.normal(0, 0.2, EMB_DIM)).astype(np.float32)]
    return _ranked("knn", q, "near_vector", rows.l2(q))


def lookup_queries(seed: int, lake: Lake, n: int = 80) -> list[Query]:
    """Selective queries in a fixed rotation: an exact request-id probe
    (every fifth one for an id that does not exist), a substring needle on
    a rare vocabulary word, a BM25 top-10 on two rare words and an IVF
    top-10 around a perturbed lake vector."""
    rng = rng_for(seed, "lookup-queries")
    rows = lake.rows
    rare = [w for w in lake.vocab[len(lake.vocab) // 3 :] if 1 <= lake.doc_freq[w] <= 8]
    pos = {r: i for i, r in enumerate(rows.ids)}
    out: list[Query] = []
    for i in range(n):
        r = i % 4
        if r == 0:
            rid = rng.bytes(16).hex() if i % 20 == 0 else rows.ids[int(rng.integers(0, LAKE_ROWS))]
            hit = [rid] if rid in pos else []
            frac = len({pos[h] // RG_ROWS for h in hit}) / len(lake.unit_grams)
            out.append(Query("exact", rid, "request_id", hit, frac))
        elif r == 1:
            out.append(_substring(lake, rows, rare[int(rng.integers(0, len(rare)))], "rare_word"))
        elif r == 2:
            text = " ".join(rare[int(j)] for j in rng.choice(len(rare), 2, replace=False))
            out.append(_ranked("bm25", text, "rare_words", rows.bm25(text)))
        else:
            out.append(_near_vector(rng, rows))
    return out


#: probe fraction band of scan's dense needles: 7 of the 8 units, so every
#: dense query fetches the same unit count (a needle whose grams are in
#: every unit would escape to BRUTE_FORCE instead)
DENSE_BAND = (0.85, 0.9)


def scan_queries(seed: int, lake: Lake, n: int = 40) -> list[Query]:
    """Unselective queries in a fixed rotation: a vocabulary word and a
    4-hex request-id substring whose probes name most units (DENSE_BAND),
    so candidate fetch + refine does the work; a frequent word whose grams
    are in every unit, so the probe escapes to BRUTE_FORCE; and an IVF
    top-10 that also ranks the whole unindexed tail in situ. Answers cover
    the base lake and the appended tail."""
    rng = rng_for(seed, "scan-queries")
    rows = lake.rows.concat(lake.tail_rows) if lake.tail_rows else lake.rows
    lo, hi = DENSE_BAND
    words = [w for w in lake.vocab[:600] if lo <= lake.probe_fraction(w) <= hi]
    top = [w for w in lake.vocab[:40] if lake.probe_fraction(w) == 1.0]
    out: list[Query] = []
    while len(out) < n:
        r = len(out) % 4
        if r == 0:
            out.append(_substring(lake, rows, words[int(rng.integers(0, len(words)))], "dense_word"))
        elif r == 1:
            rid = rows.ids[int(rng.integers(0, LAKE_ROWS))]
            o = int(rng.integers(0, 28))
            if lo <= lake.probe_fraction(rid[o : o + 4]) <= hi:
                out.append(_substring(lake, rows, rid[o : o + 4], "dense_hex"))
        elif r == 2:
            out.append(_substring(lake, rows, top[int(rng.integers(0, len(top)))], "brute_force_word"))
        else:
            out.append(_near_vector(rng, rows))
    return out


def ranked_recall(got_ids: list[str], query: Query) -> float:
    """Tie-aware recall@K: a returned id counts when its EXACT score is at
    least as good as the K-th exact score, so every tie at the cut is a
    valid answer."""
    if not query.expected:
        return 1.0
    cut = query.expected[-1][1]
    higher = query.kind == "bm25"
    ok = 0
    for i in got_ids:
        s = query.scores.get(i)
        if s is not None and (s >= cut - 1e-9 if higher else s <= cut + 1e-9):
            ok += 1
    return min(ok, len(query.expected)) / len(query.expected)
