"""BM25 index — inverted postings + corpus statistics.

Reference semantics (src/lava/bm25/bm25.rs:83-110,477-489 and
indices/bm25_index.py:104-135): Okapi BM25 with k1=1.2, b=0.75,
idf = ln((N - df + 0.5)/(df + 0.5) + 1); index prunes to candidate pages,
then candidates are re-scored and top-K'd.

Tokenizer: the reference serializes a HuggingFace tokenizer into the index
header (src/lava/tokenizer_utils.rs:14-80); here the tokenizer is a
pluggable `indices.tokenizers.Tokenizer` whose `ident` is recorded in the
catalog config — the probe must match the build, which the config guard
enforces. Default: the deterministic regex tokenizer (lowercase, split on
[^a-z0-9]+ — ANSI-SQL-replicable, which is what lets the DuckDB oracle
reproduce scores). `WordPieceTokenizer(vocab)` supplies BERT wordpiece
parity for deployments with a vocab file (X2).

Exactness upgrade over the reference: the reference re-scores only the
*fetched pages* with DuckDB FTS, so document frequencies come from the
candidate subset and the result is approximate (hence its quality_factor·K
oversampling, bm25_index.py:158). We persist **global** stats in the index —
per-token df (rows containing the token) and (n_docs, total_len) — so the
refine scores candidate rows with true corpus statistics. Because every row
with a nonzero BM25 score contains ≥1 query token, and candidates are
exactly the units containing ≥1 query token, the top-K is EXACT (no
quality_factor needed).

Index layout (per entry, under out_path/):
    postings/  (token, file_path, row_group) distinct, sorted by token
    stats/     (token, df)
    meta/      (n_docs, total_len) single row

All three merge by union + re-aggregation (the reference's 160-line k-way
plist merge, bm25.rs:246-408, becomes one shuffle).

Scale: postings/stats build is one explode→distinct shuffle; probe filters
postings by query tokens (row-group pruned via the token sort); scoring joins
candidates against a broadcast of the ≤|query| stats rows; top-K is
TakeOrderedAndProject — no global sort.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.core.refine import union_all
from rottnest_spark.indices.base import SparkIndex
from rottnest_spark.indices.substring import provenance_file_col
from rottnest_spark.sources.reader import read_parquet

K1 = 1.2
B = 0.75
TOKEN_SPLIT_RE = "[^a-z0-9]+"


def tokens_col(col):
    """array of tokens — MUST match the oracle SQL's
    regexp_split_to_array(lower(x), '[^a-z0-9]+') with empties removed."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def tokenize_query(query: str) -> list[str]:
    import re

    return sorted({t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t})


class BM25Index(SparkIndex):
    index_type = "bm25"

    def __init__(
        self,
        granularity: str = "file",
        tokenizer=None,
        tokenizer_vocab_path: str | None = None,
    ):
        from rottnest_spark.indices.tokenizers import (
            RegexTokenizer,
            Tokenizer,
            WordPieceTokenizer,
        )

        assert granularity in ("file", "row_group")
        self.granularity = granularity
        # X2: the tokenizer is part of the index identity (the reference
        # serializes the HF tokenizer into the index header,
        # src/lava/tokenizer_utils.rs:48-54); `ident` lands in the catalog
        # config, so the existing config guard enforces probe == build.
        if tokenizer is None:
            tokenizer = RegexTokenizer(TOKEN_SPLIT_RE)
        elif isinstance(tokenizer, str):
            # catalog round-trip (index_from_config passes the ident back,
            # plus the recorded vocab path for wordpiece)
            if tokenizer.startswith("regex:"):
                tokenizer = RegexTokenizer(tokenizer.split(":", 1)[1])
            elif (
                tokenizer.startswith(("wordpiece:", "bpe:"))
                and tokenizer_vocab_path
            ):
                from rottnest_spark.indices.tokenizers import BPETokenizer

                cls = (
                    BPETokenizer
                    if tokenizer.startswith("bpe:")
                    else WordPieceTokenizer
                )
                wp = cls(tokenizer_vocab_path)
                if wp.ident != tokenizer:
                    raise ValueError(
                        f"vocab at {tokenizer_vocab_path!r} hashes to "
                        f"{wp.ident!r}, but the index was built with "
                        f"{tokenizer!r} — the vocab file changed since "
                        "build; probing with it would silently mis-score"
                    )
                tokenizer = wp
            else:
                raise ValueError(
                    f"tokenizer {tokenizer!r} cannot be reconstructed from "
                    "its ident alone (the vocab is deployment-supplied) — "
                    "pass the Tokenizer instance used at build time, or "
                    "build from a vocab file path so the catalog records it"
                )
        assert isinstance(tokenizer, Tokenizer)
        self.tokenizer = tokenizer

    def config(self) -> dict:
        cfg = {
            "tokenizer": self.tokenizer.ident,
            "k1": K1,
            "b": B,
            "granularity": self.granularity,
        }
        vocab_path = getattr(self.tokenizer, "vocab_path", None)
        if vocab_path:
            cfg["tokenizer_vocab_path"] = vocab_path
        return cfg

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        tok_col = self.tokenizer.tokens_col
        if self.granularity == "row_group":
            from rottnest_spark.core.layout import rows_with_rg_provenance

            rows = rows_with_rg_provenance(spark, files, column).select(
                "file_path", "row_group", tok_col(F.col(column)).alias("toks")
            )
        else:
            rows = read_parquet(spark, files).select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                tok_col(F.col(column)).alias("toks"),
            )
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        rows = rows.persist()
        # postings, stats and meta all derive from the persisted rows and
        # write to disjoint subdirs — run the three chains as concurrent
        # jobs so each one's stage tail back-fills the others (guide §2.6)
        from concurrent.futures import ThreadPoolExecutor

        pool = ThreadPoolExecutor(max_workers=3)
        try:
            per_row = rows.select(
                "file_path",
                "row_group",
                F.explode(F.array_distinct("toks")).alias("token"),
            )
            postings = per_row.select("token", "file_path", "row_group").distinct()
            fut_postings = pool.submit(
                self._write_index,
                postings,
                f"{out_path}/postings",
                sort_cols=["token"],
            )
            stats = per_row.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
            fut_stats = pool.submit(
                self._write_index,
                stats,
                f"{out_path}/stats",
                sort_cols=["token"],
            )
            meta = rows.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum(F.size("toks")), F.lit(0)).alias("total_len"),
            )
            meta.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/meta")
            fut_postings.result()
            fut_stats.result()
        finally:
            pool.shutdown(wait=True)
            rows.unpersist()

    def search(self, spark: SparkSession, index_paths: list[str], query: str):
        """Candidates = units containing ANY query token (union semantics —
        BM25 scores rows with any overlap, unlike substring's all-grams)."""
        return self.search_tokens(
            spark, index_paths, self.tokenizer.query_tokens(query)
        )

    def search_tokens(
        self, spark: SparkSession, index_paths: list[str], toks: list[str]
    ):
        """Probe with an explicit token list (the expansion path already
        holds tokens — re-joining and re-tokenizing would mangle wordpiece
        '##' continuations)."""
        postings = spark.read.parquet(*[f"{p}/postings" for p in index_paths])
        return (
            postings.filter(F.col("token").isin(list(toks)))
            .select("file_path", "row_group")
            .distinct()
        )

    def stats(self, spark: SparkSession, index_paths: list[str], query_tokens):
        """(df per query token, n_docs, total_len) merged across entries."""
        st = (
            spark.read.parquet(*[f"{p}/stats" for p in index_paths])
            .filter(F.col("token").isin(list(query_tokens)))
            .groupBy("token")
            .agg(F.sum("df").alias("df"))
        )
        meta = (
            spark.read.parquet(*[f"{p}/meta" for p in index_paths])
            .agg(F.sum("n_docs"), F.sum("total_len"))
            .collect()[0]
        )
        return st, int(meta[0] or 0), int(meta[1] or 0)

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        """Self-contained exact BM25 over the given rows (stats derived from
        df itself). Used for recall tests / ad-hoc scoring; lake-level search
        goes through bm25_topk which uses global index stats."""
        toks = self.tokenizer.query_tokens(query)
        row_id = "__bm25_row__"
        # localCheckpoint: the id-ed rows are branched three ways (stats,
        # scoring, final join); monotonically_increasing_id is only stable
        # if the partitioning is — a recompute with different task placement
        # would mis-join. Materializing once pins the ids.
        with_id = df.withColumn(
            row_id, F.monotonically_increasing_id()
        ).localCheckpoint(eager=True)
        tc = self.tokenizer.tokens_col
        stats = derive_stats(with_id, column, toks, tok_col_fn=tc)
        scored = score_rows(
            with_id, column, toks, *stats, id_col=row_id, tok_col_fn=tc
        )
        out = with_id.join(scored, row_id).drop(row_id, "score")
        return out.limit(k) if k is not None else out

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        postings = spark.read.parquet(*[f"{p}/postings" for p in index_paths])
        self._write_index(postings.distinct(), f"{out_path}/postings", sort_cols=["token"])
        stats = (
            spark.read.parquet(*[f"{p}/stats" for p in index_paths])
            .groupBy("token")
            .agg(F.sum("df").alias("df"))
        )
        self._write_index(stats, f"{out_path}/stats", sort_cols=["token"])
        meta = (
            spark.read.parquet(*[f"{p}/meta" for p in index_paths])
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("total_len").alias("total_len"),
            )
        )
        meta.coalesce(1).write.mode("overwrite").parquet(f"{out_path}/meta")


# --------------------------------------------------------------------------
# X7: query expansion (reference indices/bm25_index.py:12-95,140-158)
# --------------------------------------------------------------------------
#
# The reference embeds the tokenizer vocabulary with BGE-M3/OpenAI and
# expands the query to its `expansion_tokens`=20 nearest vocab tokens,
# weighted by cosine similarity. No embedding model ships in this container,
# so the embedder below is a clearly-marked deterministic STUB (md5-byte
# vectors) — swap `token_embedding_col`/`embed_token` for a real model and
# nothing else changes. The expansion mechanics (vocab = index stats tokens,
# cosine top-N, similarity weights multiplying the per-token BM25 partials,
# bm25.rs:547-555) are the real, tested machinery.

EMB_DIM = 16
DEFAULT_EXPANSION_TOKENS = 20


def token_embedding_col(col):
    """STUB embedder as a JVM expression: e_i = byte_i(md5(token)) - 127.5.
    Deterministic, reproducible in SQL/DuckDB; cosine is scale-invariant so
    no normalization is needed."""
    return F.expr(
        f"transform(sequence(0, {EMB_DIM - 1}), i -> "
        f"cast(conv(substr(md5({col}), 2 * i + 1, 2), 16, 10) AS double) - 127.5)"
    )


def embed_token(token: str) -> list[float]:
    import hashlib

    dig = hashlib.md5(token.encode()).hexdigest()
    return [int(dig[2 * i : 2 * i + 2], 16) - 127.5 for i in range(EMB_DIM)]


def expand_query(
    spark: SparkSession,
    query: str,
    vocab: DataFrame,
    expansion_tokens: int = DEFAULT_EXPANSION_TOKENS,
    embed_token_fn=None,
    embed_col_fn=None,
    qtoks: list[str] | None = None,
) -> dict[str, float]:
    """{token: weight}: the query's own tokens at weight 1.0 plus the
    `expansion_tokens` nearest vocab tokens by embedding cosine (weight =
    similarity, clipped to [0, 1]). `vocab` is any DataFrame with a `token`
    column — the lake path passes the index's stats tokens.

    EMBEDDER SWAP CONTRACT: `embed_token_fn(token) -> list[float]`
    (driver-side, for the query tokens) and `embed_col_fn(col_name) ->
    array<double> Column` (vocab-side, codegen or Pandas-UDF) replace the
    md5 stub pair as one unit; a swap changes WEIGHTS only — original
    query tokens still win at 1.0, weights stay clipped to [0, 1], and
    the ranking machinery (cosine + deterministic tie-break) is
    embedder-independent (tests/test_embedder_contract.py)."""
    if qtoks is None:
        qtoks = tokenize_query(query)
    if not qtoks:
        return {}
    import numpy as np

    embed_token_fn = embed_token_fn or embed_token
    embed_col_fn = embed_col_fn or token_embedding_col
    qv = np.mean([embed_token_fn(t) for t in qtoks], axis=0)
    qn = float(np.linalg.norm(qv)) or 1.0
    q_lit = "array(" + ", ".join(f"{x!r}D" for x in qv.tolist()) + ")"
    scored = (
        vocab.select("token").distinct()
        .withColumn("e", embed_col_fn("token"))
        .withColumn(
            "cos",
            F.expr(
                f"aggregate(zip_with(e, {q_lit}, (a, b) -> a * b), 0D, (s, x) -> s + x)"
                f" / (sqrt(aggregate(e, 0D, (s, x) -> s + x * x)) * {qn!r}D)"
            ),
        )
        .orderBy(F.desc("cos"), F.asc("token"))
        .limit(expansion_tokens)
        .collect()
    )
    weights = {r["token"]: max(0.0, min(1.0, float(r["cos"]))) for r in scored}
    for t in qtoks:  # original tokens always win at full weight
        weights[t] = 1.0
    return weights


def derive_stats(
    df: DataFrame, column: str, query_tokens: list[str], tok_col_fn=None
):
    """(stats_df(token, df), n_docs, total_len) computed from raw rows —
    the in-situ analog for unindexed data. `tok_col_fn` (default: the
    regex tokenizer) must match the tokenizer the scores will use."""
    toks = df.select((tok_col_fn or tokens_col)(F.col(column)).alias("toks"))
    st = (
        toks.select(F.explode(F.array_distinct("toks")).alias("token"))
        .filter(F.col("token").isin(query_tokens))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    glob = toks.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.size("toks")), F.lit(0)).alias("tl"),
    ).collect()[0]
    return st, int(glob[0]), int(glob[1])


def score_rows(
    df: DataFrame,
    column: str,
    query_tokens: list[str],
    stats_df: DataFrame,
    n_docs: int,
    total_len: int,
    id_col: str,
    k: int | None = None,
    round_to: int = 4,
    weights: dict[str, float] | None = None,
    tok_col_fn=None,
) -> DataFrame:
    """Exact Okapi BM25 of each row against the query tokens.

    Returns (id_col, score) with score rounded (cross-engine float hygiene);
    ties broken by id_col when k is set. Rows with no query token are
    excluded (score would be 0). `weights` (X7 expansion) multiply each
    token's partial score, mirroring the reference's weighted accumulation
    (bm25.rs:547-555)."""
    if not query_tokens or n_docs == 0:
        return df.select(id_col).limit(0).withColumn("score", F.lit(0.0))
    avg_len = total_len / n_docs if n_docs else 1.0
    # idf per token — tiny; compute driver-side then broadcast-join
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    ).alias("idf")
    stats_small = stats_df.select("token", idf)
    if weights:
        wmap = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in kv]
        )
        stats_small = stats_small.withColumn(
            "idf", F.col("idf") * F.coalesce(wmap[F.col("token")], F.lit(0.0))
        )

    toks = df.select(
        id_col, (tok_col_fn or tokens_col)(F.col(column)).alias("toks")
    )
    exploded = toks.select(
        id_col, F.size("toks").alias("len"), F.explode("toks").alias("token")
    ).filter(F.col("token").isin(list(query_tokens)))
    tf = exploded.groupBy(id_col, "token", "len").agg(
        F.count(F.lit(1)).alias("tf")
    )
    per_token = tf.join(F.broadcast(stats_small), "token").select(
        id_col,
        (
            F.col("idf")
            * (F.col("tf") * (K1 + 1))
            / (F.col("tf") + K1 * (1 - B + B * F.col("len") / F.lit(avg_len)))
        ).alias("partial"),
    )
    scored = per_token.groupBy(id_col).agg(
        F.round(F.sum("partial"), round_to).alias("score")
    )
    if k is not None:
        scored = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    return scored


def bm25_topk(
    lake,
    index: BM25Index,
    column: str,
    query: str,
    k: int,
    id_col: str,
    expansion_tokens: int = 0,
) -> DataFrame:
    """Lake-level exact BM25 top-K: global stats = index stats (covered
    files) + derived stats (unindexed files); candidate rows = postings hits
    + unindexed rows. Exact because candidates ⊇ every row containing ≥1
    query token. With expansion_tokens > 0 (X7), the query grows to its
    nearest index-vocabulary tokens, similarity-weighted — exact for the
    expanded token set."""
    spark = lake.spark
    toks = index.tokenizer.query_tokens(query)
    weights = None
    plan = lake._plan(index, column)
    cols = list(dict.fromkeys([id_col, column]))
    if expansion_tokens and plan.entries:
        vocab = spark.read.parquet(*[f"{p}/stats" for p in plan.index_paths])
        weights = expand_query(
            spark, query, vocab, expansion_tokens, qtoks=toks
        )
        toks = sorted(weights)  # downstream candidate probes use all tokens

    stat_parts, n_docs, total_len = [], 0, 0
    cand_parts: list[DataFrame] = []

    if plan.entries:
        st, n, tl = index.stats(spark, plan.index_paths, toks)
        stat_parts.append(st)
        n_docs += n
        total_len += tl
        cands = index.search_tokens(spark, plan.index_paths, toks)
        fetched = lake._fetch(
            cands, plan.covered_files, plan.entry_files, cols
        )
        if fetched is not None:
            cand_parts.append(fetched)

    if plan.unindexed_files:
        raw = lake.read(plan.unindexed_files)
        st, n, tl = derive_stats(
            raw, column, toks, tok_col_fn=index.tokenizer.tokens_col
        )
        stat_parts.append(st)
        n_docs += n
        total_len += tl
        cand_parts.append(raw.select(*cols))

    if not cand_parts:
        return lake._empty().select(id_col).withColumn("score", F.lit(0.0))

    stats_df = (
        union_all(stat_parts).groupBy("token").agg(F.sum("df").alias("df"))
    )
    return score_rows(
        union_all(cand_parts), column, toks, stats_df, n_docs, total_len,
        id_col=id_col, k=k, weights=weights,
        tok_col_fn=index.tokenizer.tokens_col,
    )


def bm25_topk_many(
    lake,
    index: BM25Index,
    column: str,
    queries: list[str],
    k: int,
    id_col: str,
) -> DataFrame:
    """Batched exact BM25: N queries share ONE stats scan, ONE postings
    probe, and ONE unindexed stats derivation — only the per-query
    candidate fetch and scoring remain per query (they touch per-query
    data by construction). Per-query results ≡ bm25_topk(query), tagged
    `__query__`. The bulk-retrieval shape (RAG eval sets, alert sweeps)
    where at 100 TB the index scans dominate a single query's cost."""
    spark = lake.spark
    toks_by_q = {q: index.tokenizer.query_tokens(q) for q in queries}
    union_toks = sorted({t for ts in toks_by_q.values() for t in ts})
    plan = lake._plan(index, column)
    cols = list(dict.fromkeys([id_col, column]))

    def no_rows() -> DataFrame:
        return (
            lake._empty()
            .select(id_col)
            .withColumn("score", F.lit(0.0))
            .withColumn("__query__", F.lit(""))
        )

    stat_parts, n_docs, total_len = [], 0, 0
    probe = None
    if plan.entries:
        st, n, tl = index.stats(spark, plan.index_paths, union_toks)
        stat_parts.append(st)
        n_docs += n
        total_len += tl
        postings = spark.read.parquet(
            *[f"{p}/postings" for p in plan.index_paths]
        )
        # one probe scan serves every query's candidate intersection
        probe = (
            postings.filter(F.col("token").isin(union_toks))
            .select("token", "file_path", "row_group")
            .distinct()
            .localCheckpoint(eager=True)
        )

    raw = lake.read(plan.unindexed_files) if plan.unindexed_files else None
    if raw is not None:
        st, n, tl = derive_stats(
            raw, column, union_toks, tok_col_fn=index.tokenizer.tokens_col
        )
        stat_parts.append(st)
        n_docs += n
        total_len += tl

    if not stat_parts:
        return no_rows()
    stats_df = (
        union_all(stat_parts)
        .groupBy("token")
        .agg(F.sum("df").alias("df"))
        .localCheckpoint()
    )

    outs: list[DataFrame] = []
    for q in queries:
        toks = toks_by_q[q]
        cand_parts: list[DataFrame] = []
        if probe is not None and toks:
            cands = (
                probe.filter(F.col("token").isin(toks))
                .select("file_path", "row_group")
                .distinct()
            )
            fetched = lake._fetch(
                cands, plan.covered_files, plan.entry_files, cols
            )
            if fetched is not None:
                cand_parts.append(fetched)
        if raw is not None:
            cand_parts.append(raw.select(*cols))
        if not cand_parts:
            continue
        scored = score_rows(
            union_all(cand_parts), column, toks, stats_df, n_docs, total_len,
            id_col=id_col, k=k, tok_col_fn=index.tokenizer.tokens_col,
        )
        outs.append(scored.withColumn("__query__", F.lit(q)))
    return union_all(outs) if outs else no_rows()
