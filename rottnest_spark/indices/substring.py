"""Substring index — character n-gram posting lists.

Semantics cloned from the reference's SubstringIndex
(indices/substring_index.py:19-21): the exact predicate is case-insensitive
literal containment `lower(col) CONTAINS lower(query)`, and the index is only
a candidate-pruning device (SURVEY §0 invariant).

Design (SURVEY §7.3): the reference builds a BWT/FM-index over tokenized text
(src/lava/substring/build.rs:307-547). We instead store the **distinct
character n-grams per (file, row_group)** as a Parquet table sorted by gram.
Pruning guarantee: if `lower(query)` occurs in some row of a unit, then every
character n-gram of `lower(query)` occurs in that unit → a unit missing any
query gram can be skipped with zero false negatives. False positives are
removed by the exact refine, same as the reference's plist→refine flow
(backends/utils.py:227-230).

Why this scales to 100 TB:
- build is one shuffle: explode distinct grams per unit → `distinct` →
  range-partition by gram → sorted Parquet (map-side combine via per-row
  `array_distinct` keeps the explode bounded by text length, and the unit
  granularity caps cardinality at |grams| × |units|, NOT |grams| × |rows|);
- probe reads only the row groups of the index whose gram range intersects
  the query grams (Parquet min/max pruning on the sort key — the analog of
  the reference fetching only the plist chunks containing query tokens,
  src/lava/bm25/bm25.rs:494-545);
- the candidate count is bounded by units, so the hits→refine join is
  metadata-scale.

Query-gram cap: `max_query_grams` mirrors `token_viable_limit`
(indices/substring_index.py:9-12) — fewer probe grams = cheaper probe, more
candidates, never wrong results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.indices.base import BRUTE_FORCE, SparkIndex
from rottnest_spark.sources.reader import read_parquet


def provenance_file_col():
    """Normalized data-file path of each row (native reader provenance):
    scheme stripped AND percent-decoded (sources/reader.uri_path_col —
    Spark tags a URI, so escaped dir names would otherwise never match
    the file lists indexes are keyed by)."""
    from rottnest_spark.sources.reader import uri_path_col

    return uri_path_col(F.col("_metadata.file_path"))


#: regex metacharacters; escaping one of these yields a literal char
_RE_SPECIAL = set(".^$*+?()[]{}|\\/-")


def required_literal_runs(pattern: str) -> list[str] | None:
    """Literal substrings every match of `pattern` MUST contain, or None
    when the pattern has top-level alternation (nothing is required).

    Conservative by construction — the runs gate index pruning, so a
    false "required" would cause false negatives while a dropped run only
    costs pruning power:

    - only depth-0 characters are collected; group contents are ignored
      entirely (a trailing `?`/`*` could make them optional);
    - a literal followed by `?`, `*`, or `{0,...}` is dropped; `+` and
      `{1+,...}` keep a single copy;
    - classes, `.`, and escape classes (\\d, \\w, ...) break the run;
    - escaped metacharacters (\\., \\+, ...) are literals.
    """
    runs: list[str] = []
    cur: list[str] = []

    def close() -> None:
        if cur:
            runs.append("".join(cur))
            cur.clear()

    def quant(j: int) -> tuple[int, bool, bool]:
        """(index after any quantifier at j, atom-required?, quantified?).

        A quantified-but-required atom (x+, x{2,...}) contributes ONE copy
        and then BREAKS the run: in `ab+c` the repeats sit between b and c,
        so "ab" and "c" are required but "abc" is not."""
        if j < len(pattern):
            c = pattern[j]
            if c in "?*":
                return j + 1, False, True
            if c == "+":
                return j + 1, True, True
            if c == "{":
                k = pattern.find("}", j)
                if k != -1:
                    body = pattern[j + 1 : k].split(",")[0].strip()
                    required = body.isdigit() and int(body) >= 1
                    return k + 1, required, True
        return j, True, False

    i, n, depth = 0, len(pattern), 0
    while i < n:
        c = pattern[i]
        if c == "(":
            depth += 1
            close()
            i += 1
            continue
        if c == ")":
            depth = max(0, depth - 1)
            i, _, _ = quant(i + 1)
            close()
            continue
        if depth > 0:
            i += 1
            continue
        if c == "|":
            return None  # top-level alternation: nothing is required
        if c == "\\":
            nxt = pattern[i + 1] if i + 1 < n else ""
            i, keep, quantified = quant(i + 2)
            if nxt in _RE_SPECIAL and keep:
                cur.append(nxt)
            if not (nxt in _RE_SPECIAL) or not keep or quantified:
                close()
            continue
        if c == "[":
            j = i + 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1
            while j < n and pattern[j] != "]":
                j += 2 if pattern[j] == "\\" else 1
            i, _, _ = quant(j + 1)
            close()
            continue
        if c in ".^$":
            i, _, _ = quant(i + 1)
            close()
            continue
        # plain literal char
        i, keep, quantified = quant(i + 1)
        if keep:
            cur.append(c)
        if not keep or quantified:
            close()
    close()
    return runs


class SubstringIndex(SparkIndex):
    index_type = "substring"
    sort_cols = ["gram"]
    unit_meta = True

    def __init__(
        self,
        gram: int = 3,
        max_query_grams: int = 10,
        granularity: str = "file",
        unselective_frac: float | None = 1.0,
        skip_chars: str | None = None,
        salt_write="auto",
    ):
        assert granularity in ("file", "row_group")
        assert salt_write in (True, False, "auto")
        self.gram = gram
        self.max_query_grams = max_query_grams
        self.granularity = granularity
        # Skew guard for the sorted write (round-4 verdict item 9): the
        # gram table is range-partitioned by gram before writing, and a
        # DEGENERATE gram (all-spaces runs, repeated chars in log text)
        # can account for a huge share of postings — with gram as the
        # only range key, all of them land in ONE writer task (straggler +
        # one giant row group). salt_write adds (file_path, row_group) as
        # secondary range keys: equal-gram runs split across partitions at
        # file boundaries while the table stays globally gram-sorted, so
        # min/max row-group pruning is untouched. The dedup shuffle itself
        # needs no salting — distinct()'s map-side partial aggregation is
        # automatic per-partition salting. Physical-layout knob only:
        # probes are unaffected, so it is NOT part of config().
        #
        # "auto" (default, round-6 cost knob): only degenerate corpora
        # need the salt, and the 3-key repartitionByRange costs ~1.5× the
        # single-key write (its sampling pass re-runs the explode chain
        # per extra key) — so build() first measures the max gram share
        # on a bounded row sample (one cheap job, no shuffle) and salts
        # only when it exceeds SALT_SKEW_SHARE. True/False force either
        # layout.
        self.salt_write = salt_write
        # instance-level so the generic compact() path writes the same
        # salted layout as build(); under "auto", compaction stays salted
        # (inputs may union entries built under either decision, and the
        # union's skew is unknown without re-sampling)
        self.sort_cols = (
            ["gram", "file_path", "row_group"] if salt_write else ["gram"]
        )
        # per-instance auto-salt probe memo (see build): one probe per
        # corpus/column, shared across concurrent binpack-group builds
        import threading as _threading

        self._salt_memo: dict = {}
        self._salt_memo_lock = _threading.Lock()
        # F7 skip-char normalization (reference SKIP set,
        # src/lava/substring/constants.rs:2): characters stripped from the
        # text at BUILD and from the query at PROBE/refine, so punctuation
        # variations don't break containment ("foo, bar" matches "foo bar"
        # when ",. " ⊆ skip_chars). None = lowercase-only (the default
        # contract of `substring_search`; a build-knob, recorded in config
        # so probes are guaranteed normalization-compatible).
        self.skip_chars = skip_chars
        # Search-time escape (NOT a build knob, so not in config()): declare
        # BRUTE_FORCE when even the rarest query gram appears in >= frac of
        # all indexed units — the probe then provably returns (nearly) every
        # unit and is pure overhead. frac=1.0 fires only on the provable
        # "rarest gram is in EVERY unit" case; None disables the escape.
        # Reference analog: token-viability selection gating which tokens are
        # worth probing (src/lava/substring/search.rs:397-428) and the
        # "Brute Force Everything Please" escape (backends/utils.py:224-225).
        self.unselective_frac = unselective_frac

    def config(self) -> dict:
        return {
            "gram": self.gram,
            "max_query_grams": self.max_query_grams,
            "granularity": self.granularity,
            "skip_chars": self.skip_chars,
        }

    #: set by build() from the column dtype; probes detect bytes queries
    #: independently, so a fresh index object still probes correctly
    _is_binary = False

    def _norm_col(self, col):
        """lower + skip-char strip — identical at build, probe and refine.
        Binary columns hex-encode instead (normalization is text-only)."""
        if self._is_binary:
            return F.hex(col)
        out = F.lower(col)
        if self.skip_chars:
            import re as _re

            out = F.regexp_replace(
                out, "[" + _re.escape(self.skip_chars) + "]", ""
            )
        return out

    def _norm_str(self, s: str) -> str:
        s = s.lower()
        if self.skip_chars:
            for ch in self.skip_chars:
                s = s.replace(ch, "")
        return s

    # -- binary payloads -------------------------------------------------------
    # The reference feeds binary columns through the same substring
    # builders (indices/index_interface.py:10-16). Here a BinaryType
    # column is hex-encoded (uppercase) into the gram table with grams
    # taken at EVEN hex offsets and 2x width, so one gram == self.gram
    # raw bytes and odd-offset hex coincidences can't produce candidates;
    # a bytes probe hex-encodes the same way and the refine compares the
    # RAW binary column (F.contains supports BINARY), keeping results
    # exact. Normalization (lowercase/skip-chars) is a text concept and
    # is bypassed for bytes.

    # -- build ----------------------------------------------------------------

    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        from pyspark.sql.types import BinaryType

        probe_df = read_parquet(spark, files[:1])
        self._is_binary = isinstance(
            probe_df.schema[column].dataType, BinaryType
        )
        if self.granularity == "row_group":
            # pyarrow row-group reader tags sub-file provenance — pruning
            # then works WITHIN large files (the reference's page-uid analog)
            from rottnest_spark.core.layout import rows_with_rg_provenance

            src = rows_with_rg_provenance(spark, files, column)
            rows = src.select(
                "file_path",
                "row_group",
                self._norm_col(F.col(column)).alias("__norm__"),
            )
        else:
            df = read_parquet(spark, files)
            # Materialize provenance BEFORE repartitioning (hidden _metadata
            # only exists on the scan), then spread rows across the cluster so
            # the gram explode isn't bottlenecked by the input file count.
            rows = df.select(
                provenance_file_col().alias("file_path"),
                F.lit(WHOLE_FILE).alias("row_group"),
                self._norm_col(F.col(column)).alias("__norm__"),
            )
        rows = rows.repartition(spark.sparkContext.defaultParallelism)
        # flat-position extraction: explode start positions, then substring()
        # as a plain codegen'd projection — 4x faster than a transform()
        # lambda building the gram array per row (HOF lambdas run
        # interpreted). distinct()'s map-side partial aggregation dedups
        # before the shuffle, so shuffle volume stays ≈ |grams| x |units|.
        # Binary columns (hexed by _norm_col): gram width doubles and
        # positions stride 2 so every gram is byte-aligned.
        n, step = self.gram, 1
        if self._is_binary:
            n, step = 2 * self.gram, 2
        index_df = (
            rows.select(
                "file_path",
                "row_group",
                "__norm__",
                F.explode(
                    F.expr(
                        f"CASE WHEN length(__norm__) >= {n} THEN "
                        f"sequence(1, length(__norm__) - {n - 1}, {step}) "
                        f"ELSE array() END"
                    )
                ).alias("p"),
            )
            .select(
                F.expr(f"substring(__norm__, p, {n})").alias("gram"),
                "file_path",
                "row_group",
            )
            .distinct()
        )
        salt = self.salt_write
        probe_sec = 0.0
        if salt == "auto":
            # probe the RAW column (plain one-file scan + limit), not the
            # provenance-tagged `rows` chain — the row-group reader is a
            # pandas pass that would cost more than the salt decision saves.
            # Memoized per (column, n, step) on the instance: binpack-group
            # builds call build() once PER GROUP over the same corpus, and
            # the skew decision is a corpus/column property — 3 groups were
            # paying 3 identical probe jobs (guide §2.4). The lock keeps
            # concurrent group threads from racing the first probe; layout
            # is the only thing salt changes, so even a stale decision on a
            # reused instance stays result-correct.
            import time as _time

            key = (column, n, step)
            with self._salt_memo_lock:
                if key in self._salt_memo:
                    salt = self._salt_memo[key]
                else:
                    _t0 = _time.time()
                    salt = self._gram_skew_needs_salt(
                        read_parquet(spark, files[:1]).select(
                            self._norm_col(F.col(column)).alias("__norm__")
                        ),
                        n,
                        step,
                    )
                    probe_sec = _time.time() - _t0
                    self._salt_memo[key] = salt
        # build stats: the auto-salt decision and its cost, on the
        # instance AND as a sidecar in the index dir — a bench regression
        # on the build entry must be attributable without re-running
        self.last_build_info = {
            "salt_write": self.salt_write
            if isinstance(self.salt_write, str)
            else bool(self.salt_write),
            "salted": bool(salt),
            "salt_probe_sec": round(probe_sec, 3),
        }
        sort_cols = ["gram", "file_path", "row_group"] if salt else ["gram"]
        self._write_index(index_df, out_path, sort_cols=sort_cols, unit_meta=True)
        import json as _json
        import os as _os

        with open(_os.path.join(out_path, "_build_info.json"), "w") as fh:
            _json.dump(self.last_build_info, fh)

    #: auto-salt trigger: max single-gram share of the estimated postings
    #: table. The index stores DISTINCT (gram, unit) rows, so a gram's
    #: postings share is bounded by 1 / (avg distinct grams per unit) —
    #: diverse corpora (prose, JSON with varying values: hundreds of
    #: distinct grams per row) sit well under 2%, while a degenerate
    #: corpus (runs of one character → a handful of distinct grams per
    #: row) concentrates tens of percent of postings in one gram. 5%
    #: separates the regimes with margin on both sides.
    SALT_SKEW_SHARE = 0.05
    #: bounded sample for the skew probe. Degenerate skew (runs of one
    #: character) is a corpus-wide per-row property, so a few thousand
    #: rows expose it as surely as tens of thousands — and the round-6
    #: 20k-row probe measurably cost what auto-salting saved on diverse
    #: corpora (bench: substring_rg_build_events +0.35 s for a probe
    #: whose answer was "don't salt"). 4k rows keeps ~32 pseudo-units.
    SALT_SAMPLE_ROWS = 4_096

    #: rows per pseudo-unit in the skew probe — scaled with the sample so
    #: the probe still aggregates over ~32 units, matching the postings
    #: structure the written table will have
    SALT_PROBE_UNIT_ROWS = 128

    def _gram_skew_needs_salt(self, rows, n: int, step: int) -> bool:
        """One cheap bounded job estimating the postings-table share of
        the most common gram. The index stores DISTINCT (gram, unit)
        rows, so the probe reproduces that structure on a sample: group
        the first SALT_SAMPLE_ROWS rows into pseudo-units of
        SALT_PROBE_UNIT_ROWS, distinct (unit, gram), and compare the top
        gram's unit count against the sampled postings total. A diverse
        corpus (hundreds of distinct grams per unit, even when every one
        of them is ubiquitous) lands near 1/|grams-per-unit| ≪ 5%; a
        degenerate run corpus (a handful of grams per unit) concentrates
        tens of percent in one gram. Degenerate grams are corpus-wide
        properties, so a prefix sample sees them."""
        top = (
            rows.select("__norm__")
            .limit(self.SALT_SAMPLE_ROWS)
            .select(
                (
                    F.monotonically_increasing_id()
                    / self.SALT_PROBE_UNIT_ROWS
                ).cast("long").alias("u"),
                "__norm__",
            )
            .select(
                "u",
                F.explode(
                    F.expr(
                        f"CASE WHEN length(__norm__) >= {n} THEN "
                        f"sequence(1, length(__norm__) - {n - 1}, {step}) "
                        f"ELSE array() END"
                    )
                ).alias("p"),
                "__norm__",
            )
            .select(
                "u", F.expr(f"substring(__norm__, p, {n})").alias("gram")
            )
            .groupBy("gram")
            .agg(F.count_distinct("u").alias("c"))
            .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
            .collect()[0]
        )
        if not top["tot"]:
            return False
        return top["mx"] / top["tot"] > self.SALT_SKEW_SHARE

    # -- search ---------------------------------------------------------------

    def query_grams(self, query) -> list[str]:
        """All distinct grams of the normalized query (selection of which to
        probe happens in search(), ranked by document frequency). Bytes
        queries hex-encode with byte-aligned (even-offset, double-width)
        grams, mirroring the build side."""
        if isinstance(query, (bytes, bytearray)):
            q = bytes(query).hex().upper()
            n = 2 * self.gram
            if len(q) < n:
                return []
            return list(
                dict.fromkeys(
                    q[i : i + n] for i in range(0, len(q) - n + 1, 2)
                )
            )
        q = self._norm_str(query)
        if len(q) < self.gram:
            return []
        return list(
            dict.fromkeys(q[i : i + self.gram] for i in range(len(q) - self.gram + 1))
        )

    def search(self, spark: SparkSession, index_paths: list[str], query: str):
        """Two-pass probe, the analog of the reference's token-viability
        selection (src/lava/substring/search.rs:397-428):

        1. df pass — aggregate the per-gram unit counts for ALL query grams
           (column-pruned, min/max-pruned read of the sorted gram table;
           output is ≤ |query| rows — driver-safe at any scale).
           * any gram absent from the index → NO unit can contain the query
             → empty candidate set, zero data touched (absence proof);
           * rarest gram in ≥ unselective_frac of units → the probe cannot
             prune → BRUTE_FORCE escape.
        2. postings pass — fetch (file, row_group) only for the
           `max_query_grams` RAREST grams and intersect. Rarest-first keeps
           both the index read and the candidate set minimal; stride-spread
           selection (the previous design) probes frequent grams that prune
           nothing on log-style text."""
        grams = self.query_grams(query)
        if not grams:
            return BRUTE_FORCE  # query shorter than gram size — index can't prune
        idx = spark.read.parquet(*index_paths)
        df_rows = (
            idx.filter(F.col("gram").isin(grams)).groupBy("gram").count().collect()
        )
        gram_df = {r["gram"]: r["count"] for r in df_rows}
        if len(gram_df) < len(grams):
            # some query gram occurs in no indexed unit → provably no hits
            return spark.createDataFrame([], "file_path string, row_group int")
        probe = sorted(grams, key=lambda g: gram_df[g])[: self.max_query_grams]
        if self.unselective_frac is not None:
            n_units = self.read_unit_meta(spark, index_paths)
            if n_units and gram_df[probe[0]] >= self.unselective_frac * n_units:
                return BRUTE_FORCE
        return (
            idx.filter(F.col("gram").isin(probe))
            .groupBy("file_path", "row_group")
            .agg(F.count_distinct("gram").alias("ngrams"))
            .filter(F.col("ngrams") == len(probe))
            .select("file_path", "row_group")
        )

    def search_many(
        self, spark: SparkSession, index_paths: list[str], queries: list[str]
    ) -> dict:
        """Batched probe: N queries share ONE df pass and ONE postings pass
        over the gram table instead of 2N index scans — the amortization a
        bulk evaluation workload (eval-set leak scans, alert rule sweeps)
        needs at 100 TB, where each index scan is the dominant cost.
        Returns {query: candidates DataFrame | BRUTE_FORCE} with identical
        per-query semantics to search()."""
        per_q = {q: self.query_grams(q) for q in queries}
        out: dict = {q: BRUTE_FORCE for q, g in per_q.items() if not g}
        batched = {q: g for q, g in per_q.items() if g}
        if not batched:
            return out
        all_grams = sorted({g for gs in batched.values() for g in gs})
        idx = spark.read.parquet(*index_paths)
        df_rows = (
            idx.filter(F.col("gram").isin(all_grams))
            .groupBy("gram")
            .count()
            .collect()
        )
        gram_df = {r["gram"]: r["count"] for r in df_rows}
        n_units = (
            self.read_unit_meta(spark, index_paths)
            if self.unselective_frac is not None
            else None
        )
        empty = spark.createDataFrame([], "file_path string, row_group int")
        probes: dict[str, list[str]] = {}
        for q, grams in batched.items():
            if any(g not in gram_df for g in grams):
                out[q] = empty  # absence proof, per-query
                continue
            probe = sorted(grams, key=lambda g: gram_df[g])[
                : self.max_query_grams
            ]
            if (
                self.unselective_frac is not None
                and n_units
                and gram_df[probe[0]] >= self.unselective_frac * n_units
            ):
                out[q] = BRUTE_FORCE
                continue
            probes[q] = probe
        if not probes:
            return out
        probe_union = sorted({g for gs in probes.values() for g in gs})
        # one postings scan for every query; the (gram, unit) table is
        # |probe grams| x |units| — metadata-scale — and feeds N per-query
        # intersections, so materialize it once
        postings = (
            idx.filter(F.col("gram").isin(probe_union))
            .select("gram", "file_path", "row_group")
            .distinct()
            .localCheckpoint(eager=True)
        )
        for q, probe in probes.items():
            out[q] = (
                postings.filter(F.col("gram").isin(probe))
                .groupBy("file_path", "row_group")
                .agg(F.count_distinct("gram").alias("ngrams"))
                .filter(F.col("ngrams") == len(probe))
                .select("file_path", "row_group")
            )
        return out

    # -- exact refine (F1, indices/substring_index.py:19-21) -------------------

    def predicate(self, column: str, query):
        if isinstance(query, (bytes, bytearray)):
            # raw byte containment — exact, regardless of how the index
            # tables encode (F.contains supports BINARY since Spark 3.5)
            return F.contains(F.col(column), F.lit(bytes(query)))
        return F.contains(
            self._norm_col(F.col(column)), F.lit(self._norm_str(query))
        )

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out


class RegexSearch(SubstringIndex):
    """Regex predicate accelerated by the SAME substring index tables.

    `index_type`/`config()` are inherited, so a RegexSearch probe reuses
    catalog entries built by SubstringIndex — no extra index. Pruning: any
    match must contain every `required_literal_runs` literal, and the index
    stores lowercase grams, so probing with the lowercased runs' grams can
    never lose a match (case-folding only widens candidates); the rlike
    refine restores exact case-SENSITIVE regex semantics. Patterns whose
    extraction yields no usable run (top-level alternation, all-wildcard)
    fall back to BRUTE_FORCE — still exact, just unpruned."""

    def query_grams(self, pattern: str) -> list[str]:
        runs = required_literal_runs(pattern)
        if not runs:
            return []
        grams: list[str] = []
        for r in runs:
            r = r.lower()
            grams.extend(
                r[i : i + self.gram] for i in range(len(r) - self.gram + 1)
            )
        return list(dict.fromkeys(grams))

    def predicate(self, column: str, pattern: str):
        return F.col(column).rlike(pattern)

    def brute_force(
        self, df: DataFrame, column: str, pattern: str, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, pattern))
        return out.limit(k) if k is not None else out


class PhraseSearch(SubstringIndex):
    """Token-boundary phrase predicate accelerated by the SAME substring
    index tables (the RegexSearch pattern: `index_type`/`config()` are
    inherited, so a probe reuses catalog entries built by SubstringIndex —
    no extra index).

    Semantics: a row matches when its normalized token stream (lowercase,
    split on [^a-z0-9]+, empties dropped — the BM25 tokenizer) contains the
    phrase's token sequence CONTIGUOUSLY. "emerge sort" does NOT match the
    phrase "merge sort" even though it contains the substring, and
    "merge,  sort" DOES — token boundaries, not bytes.

    Pruning soundness: every match contains each phrase token as a literal
    substring of the lowercased text, so probing with the union of the
    tokens' char grams can never lose a match; the refine restores exact
    adjacency. Tokens shorter than the gram size contribute no grams
    (conservative); a phrase with no gram-sized token is BRUTE_FORCE."""

    @staticmethod
    def phrase_tokens(query: str) -> list[str]:
        import re

        from rottnest_spark.indices.bm25 import TOKEN_SPLIT_RE

        return [t for t in re.split(TOKEN_SPLIT_RE, query.lower()) if t]

    def query_grams(self, query: str) -> list[str]:
        grams: list[str] = []
        for t in self.phrase_tokens(query):
            grams.extend(
                t[i : i + self.gram] for i in range(len(t) - self.gram + 1)
            )
        return list(dict.fromkeys(grams))

    def predicate(self, column: str, query: str):
        from rottnest_spark.indices.bm25 import tokens_col

        toks = self.phrase_tokens(query)
        if not toks:
            return F.lit(False)  # empty phrase matches nothing
        hay = F.concat(
            F.lit(" "), F.array_join(tokens_col(F.col(column)), " "), F.lit(" ")
        )
        return F.contains(hay, F.lit(" " + " ".join(toks) + " "))

    def brute_force(
        self, df: DataFrame, column: str, query: str, k: int | None
    ) -> DataFrame:
        out = df.filter(self.predicate(column, query))
        return out.limit(k) if k is not None else out
