"""ParquetLake — the user-facing lifecycle API, mirroring the reference's
backend surface (backends/parquet.py, backends/iceberg.py):

    L1 build_index   Plan (anti-join unindexed, binpack) → Build per group →
                     Commit catalog records            (iceberg.py:98-254)
    L2 search        Plan (covering entries + in-situ remainder) → probe index
                     → fetch candidates → exact refine → union in-situ → K
                                                        (utils.py:215-282)
    L3 compact       binpack small entries → merge index tables → commit
                     append-then-delete                 (iceberg.py:386-493)
    L4 vacuum        drop entries covering no live file; delete orphan index
                     dirs                               (iceberg.py:307-384)

A "lake" is an append-only set of Parquet files (a directory or explicit
list). Storage is any Hadoop-FS path; tests use the local FS. All heavy work
(index build, candidate fetch, refine) is Spark jobs; only catalog-scale
metadata (file lists, candidate unit lists) touches the driver.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rottnest_spark.core.catalog import IndexCatalog
from rottnest_spark.core.fs import LakeFS, LocalFS
from rottnest_spark.core.layout import WHOLE_FILE, file_row_counts
from rottnest_spark.core.planner import (
    SearchPlan,
    binpack,
    group_mergeable,
    plan_search,
    unindexed_files,
)
from rottnest_spark.core.refine import (
    collect_candidates_bounded,
    read_candidates,
    union_all,
)
from rottnest_spark.sources.reader import read_parquet
from rottnest_spark.indices.base import BRUTE_FORCE, SparkIndex


class ParquetLake:
    def __init__(
        self,
        spark: SparkSession,
        data: str | list[str],
        index_dir: str,
        brute_force_threshold: int = 1000,
        retain_history: bool = False,
        fs: LakeFS | None = None,
    ):
        self.spark = spark
        self._data = data
        self.index_dir = index_dir
        # storage abstraction for the METADATA plane (listing, commit
        # renames, manifests, vacuum deletes) — supply a LakeFS for
        # non-POSIX stores; Spark's own Hadoop-FS layer still moves the
        # Parquet bytes. See core/fs.py.
        self.fs = fs or LocalFS()
        self.catalog = IndexCatalog(
            os.path.join(index_dir, "_catalog"), fs=self.fs
        )
        # candidate-unit count above which the index is deemed unselective
        # (reference brute_force_threshold=1000, utils.py:224-225)
        self.brute_force_threshold = brute_force_threshold
        # time travel: when True, every rewriting operation (merge_into,
        # compact_files, delete_matching) snapshots the pre-op live file
        # list under _snapshots/ and MOVES replaced files into _history/
        # (invisible to live reads) instead of deleting them — as_of()
        # then reconstructs any snapshot; vacuum_history() bounds the
        # retention. The plain-prefix analog of Delta/Iceberg time travel.
        self.retain_history = retain_history

    @property
    def data_dir(self) -> str:
        """Lake root directory (required by the streaming file source)."""
        if isinstance(self._data, str) and self.fs.isdir(self._data):
            return self._data
        raise ValueError("streaming maintenance needs a directory-backed lake")

    def partition_pruned(self, **partition_values) -> "ParquetLake":
        """A view of this lake restricted to the files under the given hive
        partition values (e.g. `lake.partition_pruned(lang="en",
        dt="2024-01-01")`). Shares the same catalog, so index entries keep
        covering the restricted files and every search plan prunes to the
        partition's files BEFORE any index probe — partition pruning
        composes with index pruning, the same layering Spark gives scans.
        Raises if nothing matches (a typo'd value silently searching zero
        files would read as 'no results')."""
        pats = [f"{k}={v}" for k, v in partition_values.items()]
        sub = [f for f in self.files if all(f"{os.sep}{p}{os.sep}" in f for p in pats)]
        if not sub:
            raise ValueError(
                f"no lake files under partition(s) {pats} — "
                f"{len(self.files)} files total"
            )
        view = ParquetLake(
            self.spark, sub, self.index_dir, self.brute_force_threshold,
            fs=self.fs,
        )
        return view

    @property
    def files(self) -> list[str]:
        if isinstance(self._data, list):
            return sorted(self._data)
        if self.fs.isdir(self._data):
            # recursive: hive-partitioned layouts (dt=2024-01-01/part.parquet)
            # are the normal 100 TB shape. Underscore/dot-prefixed dirs and
            # files stay invisible (Spark convention — also keeps compaction
            # staging dirs, _history/ and _delta_log out of the lake).
            # NOTE: partition VALUES stay path-encoded; the lake reads the
            # files' physical columns only (uniform-schema invariant).
            out = []
            for p in self.fs.list_files(self._data):
                parts = os.path.relpath(p, self._data).split(os.sep)
                if any(s.startswith(("_", ".")) for s in parts[:-1]):
                    continue
                fn = parts[-1]
                if fn.endswith(".parquet") and not fn.startswith(("_", ".")):
                    out.append(p)
            return sorted(out)
        return sorted(self.fs.glob(self._data))

    def read(self, files: list[str] | None = None) -> DataFrame:
        use = files or self.files
        if not use:
            raise ValueError(
                f"lake at {self._data!r} has no data files (empty snapshot "
                f"or wrong path)"
            )
        return read_parquet(self.spark, use)

    # -- merge-on-read search hooks -------------------------------------------
    # Format-backed lakes in merge-on-read state (Iceberg positional
    # deletes, Delta deletion vectors) refuse `.files` (paths that treat
    # files as fully live would surface ghost rows). PREDICATE-style search
    # stays exact anyway: index candidates are a superset, and refine
    # applies BOTH the predicate and the delete state; top-K search, whose
    # corpus statistics would count deleted rows, refuses in `_plan`.
    # These two hooks carry that contract —
    # `_search_files()` is the plan's file universe (deletes ignored:
    # files stay live), `_search_row_filter()` is None or a df→df function
    # that drops row-deleted rows (requires __path/__pos tags from
    # read_candidates(tag_positions=True), or self.read()'s own handling).

    def _search_files(self) -> list[str]:
        return self.files

    def _search_row_filter(self):
        return None

    def _physical_column(self, column: str) -> str:
        """The data files' physical name for a logical column — identity
        here; column-mapped Delta snapshots translate (the build reads
        physical, everything above the scan layer speaks logical)."""
        return column

    def _indexable_files(self, column: str, files: list[str]) -> list[str]:
        """Files whose DATA physically carries `column` as the build
        will read it — identity here. Schema-evolved Iceberg snapshots
        override: a file written before a rename/promotion of `column`
        carries the old name/narrow type, the raw per-file build cannot
        extract it, and covering it anyway would mis-prune; those files
        stay UNCOVERED (the anti-join planner routes them through the
        exact in-situ scan) until a physical rewrite."""
        return files

    def _whole_file_units(self, columns: list[str] | None = None) -> bool:
        """Whether candidate units must be fetched as whole files through
        `read()` to surface `columns` (None: every column) — identity
        here; Iceberg/Delta override for partition columns (path-encoded)
        and column mapping (physical names in the data files)."""
        return False

    def _read_candidate_units(
        self, cand_list, columns: list[str] | None = None
    ) -> DataFrame:
        """Candidate-unit fetch with the lake's delete state applied,
        projected to `columns` (None: every column)."""
        if self._whole_file_units(columns):
            df = self.read(sorted({f for f, _rg in cand_list}))
        else:
            rf = self._search_row_filter()
            df = read_candidates(
                self.spark, cand_list, tag_positions=rf is not None
            )
            df = rf(df) if rf is not None else df
        return df.select(*columns) if columns else df

    # -- L1: build ------------------------------------------------------------

    def build_index(
        self,
        index: SparkIndex,
        column: str,
        name: str | None = None,
        binpack_row_threshold: int = 100_000_000,
        timeout: float | None = None,
    ) -> list[str]:
        """Index all not-yet-covered lake files. Returns new index names.
        Idempotent: a second call is a no-op unless new files appeared.

        `timeout` (seconds, per binpack group) is the analog of the
        reference's index_timeout worker-thread guard
        (backends/iceberg.py:178-211): a hung build raises TimeoutError,
        its Spark jobs are cancelled, NO catalog entry is committed, and
        any partially-written dir is an orphan that vacuum() reclaims."""
        # _search_files: merge-on-read tables stay indexable — the index
        # is a SUPERSET over row-deleted rows, and every search path
        # refines through the delete state (`_search_row_filter`)
        todo = unindexed_files(
            self.catalog, index.index_type, column, self._search_files()
        )
        todo = self._indexable_files(column, todo)
        if not todo:
            return []
        counts = file_row_counts(self.spark, todo)
        groups = binpack([(f, counts[f]) for f in todo], binpack_row_threshold)
        base = name or f"{index.index_type}_{column}"

        def build_group(group) -> str | None:
            gfiles = [f for f, _ in group]
            index_name = f"{base}_{uuid.uuid4().hex[:8]}"
            index_path = os.path.join(self.index_dir, index_name)
            # Build fully before committing the catalog record: a crash leaves
            # an orphan dir (cleaned by vacuum), never a catalog entry pointing
            # at a half-built index (reference cleanup-on-failure, iceberg.py:205-211).
            # the catalog records the LOGICAL column; the build reads the
            # PHYSICAL one (identical except under column mapping —
            # _physical_column, overridden by DeltaSnapshotLake)
            if timeout is None:
                index.build(
                    self.spark, gfiles, self._physical_column(column),
                    index_path,
                )
            else:
                self._build_with_timeout(
                    index, gfiles, self._physical_column(column),
                    index_path, timeout,
                )
            # conditional commit: a concurrent build_index may have
            # covered some of gfiles since our plan — commit_build keeps
            # only still-uncovered files (losing the whole race leaves
            # this build's dir as an orphan for vacuum())
            committed = self.catalog.commit_build(
                {
                    "index_name": index_name,
                    "index_type": index.index_type,
                    "column_name": column,
                    "index_path": index_path,
                    "file_paths": gfiles,
                    "record_counts": [counts[f] for f in gfiles],
                    "config": IndexCatalog.config_json(**index.config()),
                }
            )
            return index_name if committed else None

        # Overlap independent group builds (optimization guide §2.6):
        # each group is its own chain of small Spark jobs, and a
        # sequential loop leaves the cluster idle in every chain's
        # driver-side gaps and stage tails. Spark's scheduler runs
        # concurrent jobs FIFO (later jobs back-fill freed executors),
        # and commit_build already resolves concurrent commits to
        # disjoint coverage under the catalog lock. A small pool is
        # enough to fill the tail; results keep group order.
        if len(groups) > 1:
            from concurrent.futures import ThreadPoolExecutor

            workers = min(len(groups), int(
                os.environ.get("ROTTNEST_BUILD_GROUP_PARALLELISM", "3")
            ))
            with ThreadPoolExecutor(max_workers=workers) as pool:
                results = list(pool.map(build_group, groups))
        else:
            results = [build_group(g) for g in groups]
        created = [r for r in results if r]
        self.catalog.validate()
        return created

    def _build_with_timeout(
        self,
        index: SparkIndex,
        files: list[str],
        column: str,
        index_path: str,
        timeout: float,
    ) -> None:
        self._run_with_timeout(
            lambda: index.build(self.spark, files, column, index_path),
            f"index build for {index_path}",
            timeout,
        )

    def _run_with_timeout(self, fn, desc: str, timeout: float) -> None:
        """Run a Spark-jobs-producing callable in a worker thread with a
        deadline. PySpark pins Python threads to JVM threads, so the job
        group set inside the worker scopes exactly this work — cancelling
        it on timeout frees the cluster instead of leaking a runaway job."""
        import threading

        sc = self.spark.sparkContext
        tag = f"rottnest-guard-{uuid.uuid4().hex[:8]}"
        err: list[BaseException] = []

        def run():
            try:
                sc.setJobGroup(tag, desc, interruptOnCancel=True)
                fn()
            except BaseException as e:  # surfaced to the caller below
                err.append(e)

        t = threading.Thread(target=run, daemon=True, name=tag)
        t.start()
        t.join(timeout)
        if t.is_alive():
            sc.cancelJobGroup(tag)
            t.join(5.0)
            raise TimeoutError(
                f"{desc} exceeded {timeout}s — Spark jobs cancelled, no "
                f"catalog entry committed; any partial output is an orphan "
                f"dir reclaimed by vacuum()"
            )
        if err:
            raise err[0]

    # -- L2: search -----------------------------------------------------------
    # Every search variant composes the same stages:
    #   _plan   which catalog entries cover which files (+ in-situ remainder)
    #   probe   the variant's own: one query, a batched probe, the conj
    #           intersection, the disj union, footer zone maps
    #   _fetch  bounded collect of the candidate units, then their read
    #   refine  the index's exact predicate (`brute_force`) on every part

    def _plan(
        self,
        index: SparkIndex,
        column: str,
        files: list[str] | None = None,
        check_config: bool = True,
    ) -> SearchPlan:
        """Plan stage: the lake's one `plan_search` call, over `files`
        (default: the search universe, `_search_files()`). Indexes without
        a row predicate (top-K: BM25, vector) refuse on delete-bearing
        snapshots (see `search`). `check_config=False` skips the
        probe-vs-build config check, for IVF probes whose `nprobes` is a
        query-time knob."""
        if (
            type(index).predicate is SparkIndex.predicate
            and self._search_row_filter() is not None
        ):
            raise ValueError(
                f"{index.index_type} has top-K semantics — its scores "
                "depend on corpus statistics that would include "
                "row-deleted rows; compact the merge-on-read state first "
                "(iceberg_rewrite_deletes / delta_rewrite_deletes)"
            )
        return plan_search(
            self.catalog,
            index.index_type,
            column,
            self._search_files() if files is None else files,
            expect_config=(
                IndexCatalog.config_json(**index.config())
                if check_config
                else None
            ),
        )

    def _fetch(
        self,
        cands,
        files: list[str],
        entry_files: set[str] = frozenset(),
        columns: list[str] | None = None,
    ) -> DataFrame | None:
        """Fetch stage: the rows of `files` that may match, projected to
        `columns` (None: every column), or None when no unit is a
        candidate. `cands` is a probe's result — BRUTE_FORCE, or a
        candidate frame collected here under `brute_force_threshold` from
        at most threshold+1 rows (`entry_files`, the files the probed
        entries name, decide the stale-entry liveness join) — or a unit
        list a multi-index variant collected itself. BRUTE_FORCE and an
        over-threshold collect (None) scan `files` whole."""
        if isinstance(cands, DataFrame):
            cands = collect_candidates_bounded(
                cands, entry_files, set(files), self.brute_force_threshold
            )
        if cands is None or cands is BRUTE_FORCE:
            df = self.read(files)
            return df.select(*columns) if columns else df
        return self._read_candidate_units(cands, columns) if cands else None

    def _empty(self) -> DataFrame:
        """A zero-row frame with the lake's columns."""
        return self.read(self._search_files()[:1]).limit(0)

    def search(
        self,
        index: SparkIndex,
        column: str,
        query,
        k: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Index-accelerated exact search ≡ brute_force(full scan).limit(k).

        Merge-on-read state (Iceberg positional deletes / Delta deletion
        vectors) is search-transparent for PREDICATE indexes: candidates
        are a superset and the refine applies the delete state
        (`_search_row_filter`). Top-K indexes refuse — their scores
        depend on corpus statistics that would include deleted rows."""
        plan = self._plan(index, column)
        cands = (
            index.search(self.spark, plan.index_paths, query)
            if plan.entries
            else None
        )
        return self._search_query(
            index, column, query, plan, cands, k, columns, early_stop=True
        )

    def _search_query(
        self,
        index: SparkIndex,
        column: str,
        query,
        plan: SearchPlan,
        cands,
        k: int | None,
        columns: list[str] | None,
        early_stop: bool,
    ) -> DataFrame:
        """One query's result from its plan and probe result (search,
        search_many): the fetched candidates and the in-situ scan of the
        unindexed files, each refined by the index's exact predicate.
        `early_stop` (search) lets a k-bounded predicate search stop its
        in-situ scan at k rows; search_many keeps the lazy scan."""
        parts: list[DataFrame] = []
        if plan.entries:
            fetched = self._fetch(cands, plan.covered_files, plan.entry_files)
            if fetched is not None:
                parts.append(fetched)
        if plan.unindexed_files:
            # in-situ scan of unindexed files (utils.py:248-275). With a
            # row budget k and a predicate-style index, `search` scans
            # newest-first file BATCHES and stops as soon as k rows are
            # found — the reference's reverse-batch early stop
            # (indices/logcloud_index.py:85-88): a huge unindexed tail
            # costs opens only until the budget fills. Top-K indexes
            # (BM25/vector) rank globally, so any-k early stop would be
            # wrong for them — they take the full lazy path.
            if (
                early_stop
                and k is not None
                and index.predicate(column, query) is not None
            ):
                parts.append(
                    self._insitu_topk(
                        plan.unindexed_files, index, column, query, k
                    )
                )
            else:
                parts.append(self.read(plan.unindexed_files))
        out = union_all(
            [
                index.brute_force(p, column, query, None)
                for p in parts or [self._empty()]
            ]
        )
        if columns:
            out = out.select(*columns)
        return out.limit(k) if k is not None else out

    #: files per early-stop in-situ batch — one batch is one Spark job;
    #: larger = fewer jobs on sparse queries, smaller = tighter open bound
    insitu_batch_files = 32

    def _insitu_topk(
        self,
        files: list[str],
        index: SparkIndex,
        column: str,
        query,
        k: int,
    ) -> DataFrame:
        """Scan `files` newest-first in batches, refining each batch and
        stopping once `k` matching rows are in hand (limit semantics: ANY
        k matches are a correct answer). Returns a local DataFrame of the
        collected rows — row-budget-bounded by construction. Records the
        files actually opened in `_insitu_files_scanned` (test/telemetry
        observability for the open bound)."""

        def mtime(f: str) -> float:
            try:
                return self.fs.getmtime(f)
            except OSError:
                return 0.0

        ordered = sorted(files, key=mtime, reverse=True)
        rows: list = []
        scanned: list[str] = []
        schema = None
        for i in range(0, len(ordered), self.insitu_batch_files):
            batch = ordered[i : i + self.insitu_batch_files]
            scanned.extend(batch)
            got = index.brute_force(
                self.read(batch), column, query, None
            ).limit(k - len(rows))
            if schema is None:
                schema = got.schema
            rows.extend(got.collect())
            if len(rows) >= k:
                break
        self._insitu_files_scanned = scanned
        from rottnest_spark.core.smalldf import local_df

        return local_df(self.spark, rows, schema)

    def search_many(
        self,
        index: SparkIndex,
        column: str,
        queries: list[str],
        k: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Batched search: one result frame for N queries, tagged with a
        `__query__` column; per-query rows ≡ search(query). The search
        plan is computed once, and indexes exposing `search_many` (e.g.
        SubstringIndex) amortize their index scans across all queries —
        the loop below only assembles per-query candidate fetches."""
        plan = self._plan(index, column)
        if not plan.entries:
            cands_by_q = dict.fromkeys(queries)
        elif hasattr(index, "search_many"):
            cands_by_q = index.search_many(self.spark, plan.index_paths, queries)
        else:
            cands_by_q = {
                q: index.search(self.spark, plan.index_paths, q) for q in queries
            }
        return union_all(
            [
                self._search_query(
                    index, column, q, plan, cands_by_q[q], k, columns,
                    early_stop=False,
                ).withColumn("__query__", F.lit(q))
                for q in queries
            ]
        )

    def search_conj(
        self,
        specs: list[tuple[SparkIndex, str, object]],
        k: int | None = None,
        columns: list[str] | None = None,
        exclude: list[tuple[SparkIndex, str, object]] | None = None,
    ) -> DataFrame:
        """Conjunctive multi-index search: rows satisfying EVERY
        (index, column, query) predicate, accelerated by INTERSECTING the
        candidate units of each index that covers a file.

        Unit semantics per file: a spec that covers the file contributes its
        candidate unit set ({WHOLE_FILE} admits every row group); a spec
        that does not cover it, or that returns BRUTE_FORCE, contributes no
        constraint. A file with an empty intersection is skipped entirely.
        The refine applies ALL predicates, so composition never loses
        exactness (each index alone is already only a pruning device).

        This is how the reference's time-windowed log search composes here
        (X9): LogIndex on the message column ∩ ExactIndex zone maps on the
        timestamp column.

        Execution shape (scale notes): every constraining spec's candidate
        DataFrame is UNIONED with a spec tag and the per-file intersection is
        one Spark aggregation — the per-spec probes become independent
        subtrees of a single job (scheduled concurrently), and no per-spec
        candidate list is ever materialized on the driver. The final unit
        list is collected with the same bounded limit as single-index search."""
        cand_list, _ = self._conj_candidates(specs)
        out = self._fetch(cand_list, self._search_files())
        if out is None:
            out = self._empty()
        for index, column, query in specs:
            out = index.brute_force(out, column, query, None)
        # NOT-composition: exclusions cannot prune (the complement of a
        # candidate set is everything else), so they are refine-only —
        # the positive specs' pruning still bounds the scan, completing
        # the boolean algebra (AND here, OR in search_disj, NOT here).
        # NULL predicate results keep the row (a null text doesn't
        # "contain" the excluded pattern).
        for index, column, query in exclude or []:
            p = index.predicate(column, query)
            if p is None:
                raise ValueError(
                    f"{index.index_type} has top-K semantics and cannot "
                    "be an exclusion (no row predicate)"
                )
            out = out.filter(~F.coalesce(p, F.lit(False)))
        if columns:
            out = out.select(*columns)
        return out.limit(k) if k is not None else out

    def search_disj(
        self,
        specs: list[tuple[SparkIndex, str, object]],
        k: int | None = None,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Disjunctive multi-index search: rows satisfying ANY
        (index, column, query) predicate, accelerated by UNIONING the
        candidate units of the probes. A file is skipped only when EVERY
        spec's index covers it and prunes it — sound, because a row
        matching spec i must lie in one of spec i's candidate units.

        OR-composition needs boolean-Column predicates, so every spec's
        index must be predicate-style (`SparkIndex.predicate`); top-K
        indexes (BM25, vector) cannot join a disjunction and raise. If
        ANY spec cannot prune (no covering entries, or BRUTE_FORCE), its
        matches could be anywhere and the whole disjunction degrades to
        one full refine scan — still exact, and the refine applies all
        predicates in a single pass either way.

        The same bounded-collect discipline as everywhere: the unioned
        unit list is LIMIT-checked before any driver materialization.

        Execution shape: specs sharing an (index type, column, config) are
        grouped so they share ONE plan lookup and — when the index exposes
        `search_many` — ONE batched probe job for all their queries (the
        common OR-of-terms case runs a single index pass, mirroring
        `_conj_candidates`' single-job treatment). Candidate units are
        semi-joined against the LIVE covered files before the bounded
        collect, so index entries that still reference files replaced by
        compact/merge/delete (routine before vacuum) can never surface
        dead paths to the reader."""
        preds = []
        for index, column, query in specs:
            p = index.predicate(column, query)
            if p is None:
                raise ValueError(
                    f"{index.index_type} has top-K semantics and cannot "
                    "join a disjunction (no row predicate)"
                )
            preds.append(p)
        disj = preds[0]
        for p in preds[1:]:
            disj = disj | p

        files = self._search_files()
        live = set(files)
        union_cands: DataFrame | None = None
        whole_files: set[str] = set()  # files some spec leaves uncovered
        all_entry_files: set[str] = set()  # every file any probed entry names
        full_scan = False

        # group same-index specs: one plan + one batched probe per group
        grouped: dict[tuple, tuple[SparkIndex, str, list]] = {}
        for index, column, query in specs:
            gk = (
                index.index_type,
                column,
                IndexCatalog.config_json(**index.config()),
            )
            if gk not in grouped:
                grouped[gk] = (index, column, [])
            grouped[gk][2].append(query)

        for index, column, queries in grouped.values():
            plan = self._plan(index, column, files)
            if not plan.entries:
                full_scan = True
                break
            # search_many handles point probes only — tuple (range)
            # queries keep the per-query search path
            if (
                len(queries) > 1
                and hasattr(index, "search_many")
                and not any(isinstance(q, tuple) for q in queries)
            ):
                by_q = index.search_many(self.spark, plan.index_paths, queries)
                cand_frames = [by_q[q] for q in queries]
            else:
                cand_frames = [
                    index.search(self.spark, plan.index_paths, q)
                    for q in queries
                ]
            if any(c is BRUTE_FORCE for c in cand_frames):
                full_scan = True
                break
            all_entry_files |= plan.entry_files
            whole_files |= live - set(plan.covered_files)
            for c in cand_frames:
                union_cands = (
                    c if union_cands is None else union_cands.unionByName(c)
                )

        units = None  # full scan
        if not full_scan:
            units = collect_candidates_bounded(
                union_cands.distinct(),
                all_entry_files,
                live - whole_files,
                self.brute_force_threshold,
            )
        if units is not None:
            # whole-file admissions dominate row-group units of the
            # same file (reading both would duplicate rows)
            wholes = whole_files | {f for f, rg in units if rg == WHOLE_FILE}
            units = [(f, WHOLE_FILE) for f in sorted(wholes)] + [
                (f, rg) for f, rg in units if rg != WHOLE_FILE and f not in wholes
            ]
        out = self._fetch(units, files)
        if out is None:
            out = self._empty()
        out = out.filter(disj)
        if columns:
            out = out.select(*columns)
        return out.limit(k) if k is not None else out

    def explain_search_conj(
        self, specs: list[tuple[SparkIndex, str, object]]
    ) -> dict:
        """Structured decision report for the conjunctive path, mirroring
        explain_search: how many specs constrained, how many files escaped
        all constraints, the intersected candidate count, and the final
        execution decision."""
        cand_list, diag = self._conj_candidates(specs)
        if cand_list is None:
            diag["decision"] = "brute_force_threshold"
            diag["n_candidates"] = None
        elif not cand_list:
            diag["decision"] = "empty"
            diag["n_candidates"] = 0
        else:
            diag["decision"] = "index_scan"
            diag["n_candidates"] = len(cand_list)
        return diag

    def _conj_candidates(
        self, specs: list[tuple[SparkIndex, str, object]]
    ) -> tuple[list[tuple[str, int]] | None, dict]:
        """Shared candidate computation for search_conj/explain_search_conj:
        (unit list | None when over threshold, diagnostics dict)."""
        # probe each spec; keep only the constraining ones
        files = self._search_files()
        constraining: list[tuple[set[str], DataFrame]] = []
        for index, column, query in specs:
            plan = self._plan(index, column, files)
            if not plan.entries:
                continue
            cands = index.search(self.spark, plan.index_paths, query)
            if cands is BRUTE_FORCE:
                continue
            constraining.append((set(plan.covered_files), cands))

        # files no spec constrains are scanned whole (metadata-scale list)
        live = set(files)
        n_specs: dict[str, int] = {}
        for covered, _ in constraining:
            for f in covered & live:
                n_specs[f] = n_specs.get(f, 0) + 1
        unconstrained = [(f, WHOLE_FILE) for f in sorted(live - n_specs.keys())]

        cand_list: list[tuple[str, int]] | None = list(unconstrained)
        if constraining:
            tagged = None
            for i, (_, cands) in enumerate(constraining):
                t = cands.select(
                    "file_path", "row_group", F.lit(i).alias("spec")
                )
                tagged = t if tagged is None else tagged.unionByName(t)
            from rottnest_spark.core.smalldf import local_df

            k_df = F.broadcast(
                local_df(
                    self.spark,
                    list(n_specs.items()),
                    "file_path string, n_specs int",
                )
            )
            # drop stale (dead-file) candidates + attach the per-file number
            # of constraining specs in one broadcast join
            tagged = tagged.join(k_df, "file_path")
            # per (file, spec): did the spec admit the whole file?
            per_spec = tagged.groupBy("file_path", "n_specs", "spec").agg(
                F.max((F.col("row_group") == WHOLE_FILE).cast("int")).alias("wild")
            )
            # a file survives only if EVERY spec covering it admitted it
            admitted = (
                per_spec.groupBy("file_path", "n_specs")
                .agg(F.count("*").alias("seen"), F.sum("wild").alias("n_wild"))
                .filter(F.col("seen") == F.col("n_specs"))
            )
            whole = admitted.filter(F.col("n_wild") == F.col("n_specs")).select(
                "file_path", F.lit(WHOLE_FILE).alias("row_group")
            )
            # row-group intersection across the non-wildcard specs
            rg_rows = (
                tagged.filter(F.col("row_group") != WHOLE_FILE)
                .join(
                    per_spec.filter(F.col("wild") == 0).select("file_path", "spec"),
                    ["file_path", "spec"],
                    "semi",
                )
                .join(
                    admitted.select(
                        "file_path",
                        (F.col("n_specs") - F.col("n_wild")).alias("n_nonwild"),
                    ),
                    "file_path",
                )
                .groupBy("file_path", "row_group", "n_nonwild")
                .agg(F.count_distinct("spec").alias("n_present"))
                .filter(F.col("n_present") == F.col("n_nonwild"))
                .select("file_path", "row_group")
            )
            inter = whole.unionByName(rg_rows)
            # stale candidates are already gone (inner join on n_specs)
            rows = collect_candidates_bounded(
                inter, set(), live, self.brute_force_threshold
            )
            # over threshold → unselective, scan everything live
            cand_list = None if rows is None else cand_list + rows

        diag = {
            "n_specs": len(specs),
            "n_constraining_specs": len(constraining),
            "n_constrained_files": len(n_specs),
            "n_unconstrained_files": len(unconstrained),
        }
        return cand_list, diag

    def explain_search(self, index: SparkIndex, column: str, query) -> dict:
        """Structured plan introspection (the reference prints its tier
        decisions at search time; this returns them): coverage split,
        candidate count, pruning ratio, and the execution decision."""
        plan = self._plan(index, column)
        out = {
            "index_type": index.index_type,
            "column": column,
            "n_entries": len(plan.entries),
            "n_covered_files": len(plan.covered_files),
            "n_unindexed_files": len(plan.unindexed_files),
            "decision": "in_situ_only",
            "n_candidates": None,
            "total_units": None,
            "pruning_ratio": None,
        }
        if not plan.entries:
            return out
        cands = index.search(self.spark, plan.index_paths, query)
        if cands is BRUTE_FORCE:
            out["decision"] = "brute_force_flag"
            return out
        # one aggregate — never materializes the candidate list driver-side
        stat = cands.agg(
            F.count("*").alias("n"),
            F.max((F.col("row_group") != WHOLE_FILE).cast("int")).alias("has_rg"),
        ).collect()[0]
        n = stat["n"]
        if stat["has_rg"]:
            from rottnest_spark.core.layout import extract_layout

            total = extract_layout(self.spark, plan.covered_files).count()
        else:
            total = sum(len(e["file_paths"]) for e in plan.entries)
        out["n_candidates"] = n
        out["total_units"] = total
        out["pruning_ratio"] = round(n / total, 4) if total else None
        out["decision"] = (
            "brute_force_threshold"
            if n > self.brute_force_threshold
            else "index_scan"
        )
        return out

    # -- summary estimates ----------------------------------------------------

    def distinct_estimate(
        self,
        column: str,
        files: list[str] | None = None,
        index=None,
    ) -> dict:
        """Distinct-count estimate for `column` over the given (default: all
        live) files, answered ENTIRELY from the hll_stats summary index —
        no data scan, metadata-scale. Uncovered files are reported in
        `uncovered_files` (build_index(StatsSketchIndex(), column) to close
        the gap); the estimate spans only covered files."""
        from rottnest_spark.indices.sketches import StatsSketchIndex

        idx = index or StatsSketchIndex()
        plan = self._plan(idx, column, files)
        if not plan.entries:
            return {
                "estimate": None,
                "n_rows": 0,
                "n_nonnull": 0,
                "n_files": 0,
                "uncovered_files": len(plan.unindexed_files),
            }
        out = StatsSketchIndex.estimate_distinct(
            self.spark,
            plan.index_paths,
            files=plan.covered_files,
        )
        out["uncovered_files"] = len(plan.unindexed_files)
        return out

    def quantile_estimate(
        self,
        column: str,
        quantiles: list[float],
        files: list[str] | None = None,
        index=None,
    ) -> dict:
        """Quantile estimates for a numeric column over (a subset of) live
        files from the kll_quantiles summary index — metadata-only, any
        file subset. Requires build_index(QuantileSketchIndex(), column)."""
        from rottnest_spark.indices.sketches import QuantileSketchIndex

        idx = index or QuantileSketchIndex()
        plan = self._plan(idx, column, files)
        if not plan.entries:
            return {
                "quantiles": {},
                "n_rows": 0,
                "n_files": 0,
                "uncovered_files": len(plan.unindexed_files),
            }
        out = QuantileSketchIndex.estimate_quantiles(
            self.spark,
            plan.index_paths,
            quantiles,
            files=plan.covered_files,
        )
        out["uncovered_files"] = len(plan.unindexed_files)
        return out

    def key_overlap_estimate(
        self,
        column: str,
        files_a: list[str],
        files_b: list[str],
        index=None,
    ) -> dict:
        """Estimated distinct-key overlap between two file subsets from the
        theta_keys summary index (dedup/ingest planning: skip or scope the
        expensive dedup join when the overlap is ~0)."""
        from rottnest_spark.indices.sketches import ThetaSketchIndex

        idx = index or ThetaSketchIndex()
        plan = self._plan(idx, column, list(files_a) + list(files_b))
        if not plan.entries:
            return {
                "a": 0,
                "b": 0,
                "overlap": 0,
                "uncovered_files": len(plan.unindexed_files),
            }
        covered = set(plan.covered_files)
        out = idx.estimate_overlap(
            self.spark,
            plan.index_paths,
            [f for f in files_a if f in covered],
            [f for f in files_b if f in covered],
        )
        out["uncovered_files"] = len(plan.unindexed_files)
        return out

    # -- hot-index caching (the reference's Redis cache-ranges analog, S5:
    # backends/utils.py:128-145 pins .lava byte ranges; we pin the index
    # DataFrames in Spark's block manager) ------------------------------------

    def cache_indices(
        self, index_type: str | None = None, column: str | None = None
    ) -> list[str]:
        """persist() every index table of the matching catalog entries and
        materialize them; repeated searches then probe memory instead of
        re-reading Parquet. Returns the cached paths."""
        cached = []
        for e in self.catalog.entries():
            if index_type and e["index_type"] != index_type:
                continue
            if column and e["column_name"] != column:
                continue
            tables = [
                d
                for d in self.fs.glob(os.path.join(e["index_path"], "*"))
                if self.fs.isdir(d)
            ] or [e["index_path"]]
            for t in tables:
                df = self.spark.read.parquet(t).persist()
                df.count()  # materialize now
                self._cached = getattr(self, "_cached", {})
                self._cached[t] = df
                cached.append(t)
        return cached

    def uncache_indices(self) -> None:
        for df in getattr(self, "_cached", {}).values():
            df.unpersist()
        self._cached = {}

    def count_matches(self, index: SparkIndex, column: str, query) -> int:
        """Exact `count(*) WHERE column == query` with the covering-index
        fast path: covered files are counted from the index's per-key row
        counts alone (ExactIndex.count_key — no data fetch); only
        unindexed files pay a refine scan. Falls back to a refine count
        over covered files for indexes without index-only counting."""
        plan = self._plan(index, column)
        total = 0
        if plan.entries:
            n = None
            # index-ONLY counts include row-deleted rows — under
            # merge-on-read state fall back to the refine count, which
            # self.read() makes delete-exact
            if hasattr(index, "count_key") and self._search_row_filter() is None:
                stale_possible = bool(plan.entry_files - set(plan.covered_files))
                n = index.count_key(
                    self.spark,
                    plan.index_paths,
                    query,
                    live_files=set(plan.covered_files)
                    if stale_possible
                    else None,
                )
            if n is None:
                n = index.brute_force(
                    self.read(plan.covered_files), column, query, None
                ).count()
            total += n
        if plan.unindexed_files:
            total += index.brute_force(
                self.read(plan.unindexed_files), column, query, None
            ).count()
        return total

    def key_histogram(
        self, index: SparkIndex, column: str, k: int | None = None
    ) -> DataFrame:
        """`SELECT key, count(*) GROUP BY key` answered INDEX-ONLY for the
        covered files (ExactIndex per-key counts aggregated — no data
        reads) plus a refine aggregation over unindexed files. Top-k by
        (count desc, key asc) when `k` is given, the full histogram
        otherwise. The 100 TB win: a GROUP BY over the whole lake becomes
        an aggregation of the key table (≤ one row per distinct
        (key, unit)) — data-proportional only in distinct keys."""
        plan = self._plan(index, column)
        parts: list[DataFrame] = []
        covered_counted = False
        # index-only key counts include row-deleted rows — merge-on-read
        # state routes covered files through the delete-exact scan instead
        if (
            plan.entries
            and getattr(index, "store_keys", False)
            and self._search_row_filter() is None
        ):
            keys = self.spark.read.parquet(
                *[f"{p}/keys" for p in plan.index_paths]
            )
            if plan.entry_files - set(plan.covered_files):
                from rottnest_spark.core.smalldf import local_df

                live_df = local_df(
                    self.spark,
                    [(f,) for f in sorted(plan.covered_files)],
                    "file_path string",
                )
                keys = keys.join(F.broadcast(live_df), "file_path", "semi")
            parts.append(keys.select(F.col("key"), F.col("cnt")))
            covered_counted = True
        scan_files = list(plan.unindexed_files)
        if not covered_counted:
            scan_files += list(plan.covered_files)
        if scan_files:
            parts.append(
                self.read(scan_files).select(
                    F.col(column).alias("key"), F.lit(1).alias("cnt")
                )
            )
        hist = union_all(parts).groupBy("key").agg(F.sum("cnt").alias("n_rows"))
        if k is not None:
            hist = hist.orderBy(F.desc("n_rows"), F.asc("key")).limit(k)
        return hist

    def search_range_virtual(
        self,
        column: str,
        lo,
        hi,
        columns: list[str] | None = None,
    ) -> DataFrame:
        """Range search with VIRTUAL zone maps: prune row groups from
        Parquet FOOTER statistics (no index build, no data scan for the
        pruning step), then exact BETWEEN refine — identical results to a
        full scan. The no-catalog fallback path for lakes that haven't
        built an ExactIndex yet (reference virtual mode,
        backends/utils.py:110-126)."""
        return self._footer_zone_search(
            column, lo, hi, F.col(column).between(F.lit(lo), F.lit(hi)), columns
        )

    def _footer_zone_search(
        self, column: str, lo, hi, pred, columns, prefix: bool = False
    ) -> DataFrame:
        """search_range_virtual's body, shared with lookup_prefix: footer
        zone maps name the candidate units, `pred` refines."""
        from rottnest_spark.core.layout import footer_zone_candidates

        files = self._search_files()
        cands = footer_zone_candidates(
            self.spark, files, column, lo, hi, prefix=prefix
        )
        rows = self._fetch(cands, files)
        out = (self._empty() if rows is None else rows).filter(pred)
        return out.select(*columns) if columns else out

    def maintenance_report(
        self,
        compact_row_threshold: int = 1_000_000,
        small_file_rows: int | None = None,
    ) -> dict:
        """What maintenance this lake needs, in one metadata-scale dict:

        - `unindexed`: per (index_type, column), how many live files lack
          coverage (run build_index to close);
        - `mergeable_entries`: per (index_type, column), entry groups the
          compactor would merge at `compact_row_threshold`;
        - `stale_entries`: entries referencing deleted files (run vacuum);
        - `small_files`: live data files under `small_file_rows` rows
          (candidates for compact_files; default threshold = the median
          file's rows / 2, None-safe for empty lakes).

        No data reads: catalog + footers only."""
        from rottnest_spark.core.planner import group_mergeable

        live = set(self._search_files())
        entries = self.catalog.entries()
        combos = sorted({(e["index_type"], e["column_name"]) for e in entries})
        unindexed = {}
        mergeable = {}
        for it, col in combos:
            covered = self.catalog.indexed_files(it, col)
            unindexed[f"{it}:{col}"] = len([f for f in live if f not in covered])
            groups = group_mergeable(
                self.catalog.entries_for(it, col), compact_row_threshold
            )
            mergeable[f"{it}:{col}"] = [
                [e["index_name"] for e in g] for g in groups
            ]
        stale = [
            e["index_name"]
            for e in entries
            if any(f not in live for f in e["file_paths"])
        ]
        counts = file_row_counts(self.spark, self.files) if self.files else {}
        if small_file_rows is None and counts:
            med = sorted(counts.values())[len(counts) // 2]
            small_file_rows = max(1, med // 2)
        small = (
            [f for f, n in counts.items() if n < small_file_rows]
            if small_file_rows
            else []
        )
        return {
            "n_files": len(live),
            "unindexed": unindexed,
            "mergeable_entries": mergeable,
            "stale_entries": stale,
            "small_files": sorted(small),
        }

    def describe_indices(self) -> list[dict]:
        """Operational report, one dict per catalog entry: index type,
        column, config, files covered, on-disk size, and the size ratio vs
        the covered data files. Pure filesystem metadata — no Spark jobs —
        so it's safe to call on a hot production lake."""

        def du(path: str) -> int:
            total = 0
            if not self.fs.isdir(path):
                return 0
            for f in self.fs.list_files(path):
                try:
                    total += self.fs.getsize(f)
                except OSError:
                    pass
            return total

        def fsize(path: str) -> int:
            try:
                return self.fs.getsize(path)
            except OSError:
                return 0

        out = []
        for e in self.catalog.entries():
            data_bytes = sum(fsize(f) for f in e["file_paths"])
            idx_bytes = du(e["index_path"])
            out.append(
                {
                    "index_type": e["index_type"],
                    "column": e["column_name"],
                    "config": e.get("config"),
                    "n_files": len(e["file_paths"]),
                    "index_bytes": idx_bytes,
                    "data_bytes": data_bytes,
                    "size_ratio": (
                        round(idx_bytes / data_bytes, 4) if data_bytes else None
                    ),
                    "index_path": e["index_path"],
                }
            )
        return out

    # -- L3: compact ----------------------------------------------------------

    def compact_indices(
        self,
        index: SparkIndex,
        column: str,
        row_threshold: int = 100_000_000,
        timeout: float | None = None,
    ) -> list[str]:
        """Merge small index entries. Commit is append-then-delete in one
        atomic catalog swap (crash-safe ordering, iceberg.py:471-479).
        `timeout` guards each merge like build_index's guard: on expiry the
        merge's jobs are cancelled, the catalog keeps the ORIGINAL entries,
        and the half-written merged dir is an orphan vacuum reclaims."""
        entries = self.catalog.entries_for(index.index_type, column)
        # never merge entries built under different configs: the merged entry
        # would claim one config while containing data built under another,
        # and probes would silently under-match (mixed configs arise
        # naturally — new files indexed after the index class's knobs change)
        by_config: dict[str | None, list[dict]] = {}
        for e in entries:
            by_config.setdefault(e.get("config"), []).append(e)
        groups = [
            g
            for cfg_entries in by_config.values()
            for g in group_mergeable(cfg_entries, row_threshold)
        ]
        created = []
        for group in groups:
            index_name = f"{index.index_type}_{column}_c{uuid.uuid4().hex[:8]}"
            index_path = os.path.join(self.index_dir, index_name)
            paths = [e["index_path"] for e in group]
            if timeout is None:
                index.compact(self.spark, paths, index_path)
            else:
                self._run_with_timeout(
                    lambda p=paths, o=index_path: index.compact(self.spark, p, o),
                    f"compaction into {index_path}",
                    timeout,
                )
            record = {
                "index_name": index_name,
                "index_type": index.index_type,
                "column_name": column,
                "index_path": index_path,
                "file_paths": [f for e in group for f in e["file_paths"]],
                "record_counts": [c for e in group for c in e["record_counts"]],
                "rows_indexed": int(sum(e["rows_indexed"] for e in group)),
                "config": group[0]["config"],
            }
            self.catalog.replace([record], {e["index_name"] for e in group})
            for e in group:
                self.fs.rmtree(e["index_path"])
            created.append(index_name)
        self.catalog.validate()
        return created

    # -- L3b: data-file compaction (small-file problem) -----------------------

    def compact_files(
        self,
        target_rows: int = 4_000_000,
        small_row_threshold: int | None = None,
        per_directory: bool = False,
        group_key=None,
    ) -> list[str]:
        """Rewrite small DATA files into ~target_rows files (the small-file
        problem: a 100 TB lake fed by streaming ingest accumulates millions
        of tiny parquet files whose per-file open/footer cost dominates
        scans). Returns the new file paths; [] when no rewrite pays off.

        One Spark job: every small file (< small_row_threshold rows,
        default target_rows/2 — footer-only counts) is read once and
        round-robin repartitioned into ceil(rows/target) writer tasks, so
        the rewrite parallelism is the output file count, not the input's.

        Swap protocol (plain-prefix lakes have no metadata log, so the
        multi-file swap cannot be atomic — this is the honest best-effort
        ordering, with a manifest making every crash state recoverable):
          1. stage outputs in a non-*.parquet dir INSIDE the lake dir
             (invisible to the lake glob, same filesystem for atomic rename)
          2. write a manifest (new names + replaced files) under
             index_dir/_compactions
          3. publish each staged part via atomic rename
          4. delete the replaced files, then the manifest
        A crash before 3 leaves originals intact (stale manifest discarded
        by repair_files); a crash between 3 and 4 double-counts until
        `repair_files()` completes the deletes — run it on recovery before
        trusting scans, the same way Delta/Iceberg replay their logs.

        Index composition: replaced files disappear from every search plan
        (stale candidates are dropped by the bounded collect); new files are
        unindexed until the next build_index(), and entries left covering
        only replaced files are reclaimed by vacuum().

        `per_directory=True` compacts WITHIN each parent directory and
        publishes each group's outputs into that directory — the mode
        partitioned format-backed lakes need (a hive `col=value/` file
        must stay inside its partition dir so the commit's
        partitionValues parse correctly). Still ONE Spark job for all
        groups: rows route to a global writer slot (group offset +
        round-robin within group) and one partitionBy write stages every
        output, so the job count never scales with partition count.
        """
        import json
        import math

        lake_dir = self.data_dir  # raises for non-directory lakes
        pre_op = self.files
        counts = file_row_counts(self.spark, pre_op)
        thresh = small_row_threshold or max(target_rows // 2, 1)
        small = [f for f in pre_op if counts[f] < thresh]
        if per_directory:
            return self._compact_grouped(
                small, counts, target_rows, pre_op, group_key
            )
        total = sum(counts[f] for f in small)
        n_out = max(1, math.ceil(total / target_rows))
        if len(small) < 2 or n_out >= len(small):
            return []

        cid = uuid.uuid4().hex[:12]
        stage = os.path.join(lake_dir, f"_compact_stage_{cid}")
        read_parquet(self.spark, small).repartition(n_out).write.parquet(stage)
        parts = self.fs.glob(os.path.join(stage, "part-*.parquet"))
        new_files = [
            os.path.join(lake_dir, f"compacted_{cid}_{i:05d}.parquet")
            for i in range(len(parts))
        ]
        man_dir = os.path.join(self.index_dir, "_compactions")
        self.fs.makedirs(man_dir)
        man_path = os.path.join(man_dir, f"{cid}.json")
        self.fs.write_text(
            man_path, json.dumps({"new_files": new_files, "replaces": small})
        )
        for part, dst in zip(parts, new_files):
            self.fs.rename(part, dst)
        self._retire(small, pre_op)
        self.fs.remove(man_path)
        self.fs.rmtree(stage)
        return new_files

    def _compact_grouped(
        self,
        small: list[str],
        counts: dict,
        target_rows: int,
        pre_op: list[str],
        group_key=None,
    ) -> list[str]:
        """Directory-grouped compaction (see compact_files per_directory).
        One job: provenance → (slot offset, group width) broadcast map,
        row slot = offset + round-robin, partitionBy('__slot__') stages
        one output file per slot, published into the slot's group dir.

        `group_key(file) -> hashable` overrides the grouping (default:
        parent directory). Format-backed lakes group by hive partition
        TUPLE instead, so the same partition split across two layout
        roots (e.g. Iceberg's `data/lang=x` plus an appended `lang=x`)
        still compacts together; outputs publish into the group's first
        file's directory, preserving its hive segments."""
        import json
        import math

        from rottnest_spark.indices.substring import provenance_file_col

        lake_dir = self.data_dir
        key_of = group_key or os.path.dirname
        groups: dict = {}
        for f in small:
            groups.setdefault(key_of(f), []).append(f)
        plan = []  # (publish dir, files, n_out)
        for gkey in sorted(groups, key=str):
            gfiles = sorted(groups[gkey])
            g_out = max(
                1, math.ceil(sum(counts[f] for f in gfiles) / target_rows)
            )
            if len(gfiles) >= 2 and g_out < len(gfiles):
                plan.append((os.path.dirname(gfiles[0]), gfiles, g_out))
        if not plan:
            return []

        slot_dst: dict[int, str] = {}
        file_rows = []  # (file, slot offset of its group, group width)
        off = 0
        for gdir, gfiles, g_out in plan:
            for f in gfiles:
                file_rows.append((f, off, g_out))
            for s in range(g_out):
                slot_dst[off + s] = gdir
            off += g_out
        all_small = [f for _, gf, _ in plan for f in gf]
        from rottnest_spark.core.smalldf import local_df

        map_df = local_df(
            self.spark, file_rows, "__mf__ string, __off__ int, __n__ int"
        )
        cid = uuid.uuid4().hex[:12]
        stage = os.path.join(lake_dir, f"_compact_stage_{cid}")
        (
            read_parquet(self.spark, all_small)
            .withColumn("__prov__", provenance_file_col())
            .withColumn("__rix__", F.col("_metadata.row_index"))
            .join(F.broadcast(map_df), F.col("__prov__") == F.col("__mf__"))
            .withColumn(
                "__slot__",
                (
                    F.col("__off__")
                    # DETERMINISTIC slot key (provenance, row index): a
                    # nondeterministic id feeding a shuffle loses or
                    # duplicates rows when a task retry recomputes the
                    # map side (SPARK-23207) — fatal here because the
                    # originals are deleted after the swap
                    + F.pmod(
                        F.xxhash64(F.col("__prov__"), F.col("__rix__")),
                        F.col("__n__").cast("long"),
                    ).cast("int")
                ),
            )
            .drop("__prov__", "__rix__", "__mf__", "__off__", "__n__")
            .repartition("__slot__")
            .write.partitionBy("__slot__")
            .parquet(stage)
        )
        swaps = []  # (staged part, destination)
        new_files = []
        for s, gdir in sorted(slot_dst.items()):
            parts = self.fs.glob(
                os.path.join(stage, f"__slot__={s}", "part-*.parquet")
            )
            for j, p in enumerate(parts):
                dst = os.path.join(
                    gdir, f"compacted_{cid}_{s:05d}_{j:02d}.parquet"
                )
                swaps.append((p, dst))
                new_files.append(dst)
        man_dir = os.path.join(self.index_dir, "_compactions")
        self.fs.makedirs(man_dir)
        man_path = os.path.join(man_dir, f"{cid}.json")
        self.fs.write_text(
            man_path,
            json.dumps({"new_files": new_files, "replaces": all_small}),
        )
        for p, dst in swaps:
            self.fs.rename(p, dst)
        self._retire(all_small, pre_op)
        self.fs.remove(man_path)
        self.fs.rmtree(stage)
        return new_files

    def repair_files(self) -> list[str]:
        """Complete file-compaction swaps interrupted by a crash (see
        compact_files). Idempotent; safe to run at every startup. Returns
        the replaced files it finished deleting."""
        import json

        man_dir = os.path.join(self.index_dir, "_compactions")
        finished: list[str] = []
        for man_path in self.fs.glob(os.path.join(man_dir, "*.json")):
            m = json.loads(self.fs.read_text(man_path))
            if all(self.fs.exists(n) for n in m["new_files"]):
                # published but deletes may be incomplete — finish the swap
                for f in m["replaces"]:
                    if self.fs.exists(f):
                        self.fs.remove(f)
                        finished.append(f)
            # else: crashed before (or mid-) publish with originals intact —
            # discard the attempt; a partially-published prefix of new files
            # is removed so rows are never double-counted
            else:
                for n in m["new_files"]:
                    if self.fs.exists(n):
                        self.fs.remove(n)
            self.fs.remove(man_path)
            # leftover stage dirs are invisible to the lake glob; sweep them
            cid = os.path.splitext(os.path.basename(man_path))[0]
            self.fs.rmtree(
                os.path.join(self.data_dir, f"_compact_stage_{cid}")
            )
        return finished

    # -- auto-routed lookups (catalog picks the access path) ------------------

    #: point-lookup routing preference when several index types cover the
    #: column: exact (sorted keys + zone maps) beats bloom (membership
    #: only) beats logcloud/substring (containment, not equality-tight)
    _POINT_ROUTE = ["exact", "bloom"]

    def lookup(
        self, column: str, value, columns: list[str] | None = None
    ) -> DataFrame:
        """Point lookup with AUTOMATIC access-path selection, mirroring the
        reference's catalog-driven search (the user names a column, the
        engine picks the index): the best cataloged index for `column`
        routes the probe; with no index at all, footer zone maps prune the
        scan (virtual mode). Exact refine either way — identical results
        to a full `col == value` scan, only the I/O differs."""
        from rottnest_spark.indices import index_from_config

        import json as _json

        for itype in self._POINT_ROUTE:
            entries = self.catalog.entries_for(itype, column)
            if entries:
                idx = index_from_config(
                    itype, _json.loads(entries[0].get("config") or "{}")
                )
                return self.search(idx, column, value, columns=columns)
        return self.search_range_virtual(column, value, value, columns=columns)

    def lookup_range(
        self, column: str, lo, hi, columns: list[str] | None = None
    ) -> DataFrame:
        """Range lookup with automatic access-path selection: the exact
        index's per-unit zone maps when cataloged, else virtual footer
        zones. (Bloom cannot serve ranges — membership only.)"""
        import json as _json

        from rottnest_spark.indices import index_from_config

        entries = self.catalog.entries_for("exact", column)
        if entries:
            idx = index_from_config(
                "exact", _json.loads(entries[0].get("config") or "{}")
            )
            return self.search(idx, column, (lo, hi), columns=columns)
        return self.search_range_virtual(column, lo, hi, columns=columns)

    def lookup_prefix(
        self, column: str, prefix: str, columns: list[str] | None = None
    ) -> DataFrame:
        """Prefix lookup with automatic access-path selection: the exact
        index's zone maps when cataloged (PrefixSearch rides them), else
        virtual footer zones over the prefix's key range."""
        from rottnest_spark.indices.exact import PrefixSearch

        if self.catalog.entries_for("exact", column):
            return self.search(PrefixSearch(), column, prefix, columns=columns)
        return self._footer_zone_search(
            column, prefix, None, F.col(column).startswith(F.lit(prefix)),
            columns, prefix=True,
        )

    def refresh_indices(
        self, orphan_min_age_sec: float = 0.0, timeout: float | None = None
    ) -> dict:
        """One-call index upkeep after data churn (appends, compact_files,
        merge_into): vacuum entries orphaned by replaced files, then
        re-index every not-yet-covered live file for EVERY (index_type,
        column) combo the catalog knows — index instances are
        reconstructed from their recorded build configs, so the refresh
        build is guaranteed probe-compatible with the existing entries.
        A combo whose index cannot be reconstructed (e.g. a WordPiece BM25
        whose vocab artifact is gone) is SKIPPED with a warning and a
        report entry — one broken combo must never block maintenance of
        the rest of the lake.
        Returns {"vacuumed": [...], "built": {"type:column": [names]},
        "skipped": {"type:column": reason}}."""
        import json
        import warnings

        from rottnest_spark.indices import index_from_config

        # snapshot combos BEFORE vacuum: when data churn replaced EVERY
        # file a combo covered, all its entries are orphans — vacuum-first
        # would forget the combo existed and silently stop maintaining it
        combos: dict = {}
        for e in self.catalog.entries():
            combos.setdefault(
                (e["index_type"], e["column_name"]),
                json.loads(e.get("config") or "{}"),
            )
        vacuumed = self.vacuum(orphan_min_age_sec=orphan_min_age_sec)
        built = {}
        skipped = {}
        for (itype, column), cfg in sorted(combos.items()):
            try:
                idx = index_from_config(itype, cfg)
            except Exception as exc:  # noqa: BLE001 — report, don't block
                skipped[f"{itype}:{column}"] = str(exc)
                warnings.warn(
                    f"refresh_indices: skipping {itype}:{column} — "
                    f"index not reconstructable from catalog config: {exc}"
                )
                continue
            names = self.build_index(idx, column, timeout=timeout)
            if names:
                built[f"{itype}:{column}"] = names
        return {"vacuumed": vacuumed, "built": built, "skipped": skipped}

    def optimize(
        self,
        target_rows: int = 4_000_000,
        index_row_threshold: int = 100_000_000,
        orphan_min_age_sec: float = 0.0,
        timeout: float | None = None,
    ) -> dict:
        """One-call table maintenance (the OPTIMIZE entry point): the four
        upkeep passes in the one order that never leaves the table worse
        than it found it —

        1. data compaction (small files → ~target_rows files; atomic
           manifest swap, searches exact throughout);
        2. index refresh (vacuum entries orphaned by the rewrite, then
           re-index every uncovered live file per recorded config);
        3. index compaction (merge small same-config entries so probes
           scan one sorted table per combo);
        4. vacuum (reclaim orphan dirs past the age guard).

        Works on plain, Delta-backed, and Iceberg-backed lakes alike: the
        writable format lakes commit the data rewrite to their logs
        through the same choke points every mutation uses. Returns a
        report of what each pass did."""
        import json

        from rottnest_spark.indices import index_from_config

        new_files = self.compact_files(target_rows=target_rows)
        refreshed = self.refresh_indices(
            orphan_min_age_sec=orphan_min_age_sec, timeout=timeout
        )
        combos: dict = {}
        for e in self.catalog.entries():
            combos.setdefault(
                (e["index_type"], e["column_name"]),
                json.loads(e.get("config") or "{}"),
            )
        index_compacted = {}
        skipped = dict(refreshed.get("skipped") or {})
        for (itype, column), cfg in sorted(combos.items()):
            try:
                idx = index_from_config(itype, cfg)
            except Exception as exc:  # noqa: BLE001 — report, don't block
                skipped.setdefault(f"{itype}:{column}", str(exc))
                continue
            merged = self.compact_indices(
                idx, column, row_threshold=index_row_threshold, timeout=timeout
            )
            if merged:
                index_compacted[f"{itype}:{column}"] = merged
        vacuumed = self.vacuum(orphan_min_age_sec=orphan_min_age_sec)
        return {
            "data_files_compacted": new_files,
            "indices_refreshed": refreshed,
            "indices_compacted": index_compacted,
            "vacuumed": vacuumed,
            "skipped": skipped,
        }

    # -- time travel (plain-prefix snapshots) ---------------------------------

    def _retire(
        self, files_to_remove: list[str], pre_op_files: list[str]
    ) -> None:
        """Remove replaced data files — by deletion, or (retain_history)
        by snapshotting the PRE-OPERATION live list (passed explicitly:
        by the time deletes run, the operation's new files are already
        published) and moving the replaced ones into _history/ (relative
        paths preserved, so hive-partitioned basenames can't collide)."""
        if not files_to_remove:
            return
        if self.retain_history:
            import json

            lake_dir = self.data_dir
            snap_dir = os.path.join(lake_dir, "_snapshots")
            self.fs.makedirs(snap_dir)
            # max+1, not count: after vacuum_history() drops older
            # manifests a count-derived id could collide with (and
            # silently overwrite) a KEPT snapshot, corrupting time travel.
            existing = [
                int(os.path.splitext(os.path.basename(p))[0])
                for p in self.fs.glob(os.path.join(snap_dir, "*.json"))
            ]
            sid = max(existing) + 1 if existing else 0
            self.fs.write_text(
                os.path.join(snap_dir, f"{sid:06d}.json"),
                json.dumps({"files": sorted(pre_op_files)}),
            )
            for f in files_to_remove:
                rel = os.path.relpath(f, lake_dir)
                dst = os.path.join(lake_dir, "_history", rel)
                self.fs.makedirs(os.path.dirname(dst))
                self.fs.rename(f, dst)
        else:
            for f in files_to_remove:
                self.fs.remove(f)

    def snapshots(self) -> list[int]:
        """Available time-travel snapshot ids, oldest first."""
        snap_dir = os.path.join(self.data_dir, "_snapshots")
        return sorted(
            int(os.path.splitext(os.path.basename(p))[0])
            for p in self.fs.glob(os.path.join(snap_dir, "*.json"))
        )

    def as_of(self, snapshot_id: int) -> "ParquetLake":
        """A read view of the lake as it was when `snapshot_id` was taken
        (just before that snapshot's rewriting operation). Files still
        live resolve to themselves; replaced ones resolve into _history/.
        Raises if a needed file was reclaimed by vacuum_history()."""
        import json

        lake_dir = self.data_dir
        wanted = json.loads(
            self.fs.read_text(
                os.path.join(lake_dir, "_snapshots", f"{snapshot_id:06d}.json")
            )
        )["files"]
        resolved = []
        for f in wanted:
            if self.fs.exists(f):
                resolved.append(f)
                continue
            hist = os.path.join(
                lake_dir, "_history", os.path.relpath(f, lake_dir)
            )
            if self.fs.exists(hist):
                resolved.append(hist)
            else:
                raise FileNotFoundError(
                    f"snapshot {snapshot_id} needs {f}, which "
                    "vacuum_history() has reclaimed"
                )
        return ParquetLake(
            self.spark, resolved, self.index_dir,
            brute_force_threshold=self.brute_force_threshold,
            fs=self.fs,
        )

    def vacuum_history(self, keep_last: int = 1) -> list[str]:
        """Bound time-travel retention: keep the newest `keep_last`
        snapshots, drop older manifests, and delete _history files no
        kept snapshot references. Returns the reclaimed files."""
        import json

        lake_dir = self.data_dir
        snap_dir = os.path.join(lake_dir, "_snapshots")
        ids = self.snapshots()
        keep = set(ids[len(ids) - keep_last :]) if keep_last > 0 else set()
        referenced: set[str] = set()
        for sid in keep:
            snap = json.loads(
                self.fs.read_text(os.path.join(snap_dir, f"{sid:06d}.json"))
            )
            for f in snap["files"]:
                referenced.add(
                    os.path.join(
                        lake_dir, "_history", os.path.relpath(f, lake_dir)
                    )
                )
        removed = []
        hist_dir = os.path.join(lake_dir, "_history")
        if self.fs.isdir(hist_dir):
            for p in self.fs.list_files(hist_dir):
                if p not in referenced:
                    self.fs.remove(p)
                    removed.append(p)
        for sid in ids:
            if sid not in keep:
                self.fs.remove(os.path.join(snap_dir, f"{sid:06d}.json"))
        return sorted(removed)

    # -- DML: append / delete -------------------------------------------------

    def append(self, df: DataFrame) -> list[str]:
        """Insert rows as new data files (stage → atomic rename, same
        pattern as every other multi-file publish here). The files are
        unindexed until the next build_index()/refresh_indices() — searches
        stay exact meanwhile via the in-situ remainder scan. Returns the
        new file paths."""
        lake_dir = self.data_dir
        cid = uuid.uuid4().hex[:12]
        stage = os.path.join(lake_dir, f"_compact_stage_{cid}")
        df.write.parquet(stage)
        parts = self.fs.glob(os.path.join(stage, "part-*.parquet"))
        new_files = []
        for i, part in enumerate(parts):
            dst = os.path.join(lake_dir, f"appended_{cid}_{i:05d}.parquet")
            self.fs.rename(part, dst)
            new_files.append(dst)
        self.fs.rmtree(stage)
        return new_files

    def delete_matching(
        self, index: SparkIndex, column: str, query
    ) -> dict:
        """Row-level DELETE of every row matching the index's predicate
        (the takedown/opt-out workflow): the INDEX prunes the rewrite to
        candidate files — exactly the files search() would touch — and
        each is rewritten without the matching rows (copy-on-write,
        manifest + atomic renames, `repair_files()` completes interrupted
        swaps). Unindexed files are scanned by the refine predicate like
        any in-situ search, so deletion is exact regardless of coverage.

        Files whose rewrite removes no rows are left untouched (their
        staged copy is discarded), so false-positive candidate units cost
        I/O but never churn. Returns {"rewritten": n, "pruned": n,
        "n_deleted": n}."""
        import json

        pred = index.predicate(column, query)
        if pred is None:
            raise ValueError(
                f"{index.index_type} has top-K semantics — deletion needs "
                "a row predicate"
            )
        lake_dir = self.data_dir
        files = self.files
        # candidate FILES via the search plan (row groups widen to files:
        # rewrites are per-file)
        plan = self._plan(index, column, files)
        touched = set(files) - set(plan.covered_files)  # in-situ: must check
        if plan.entries:
            cands = index.search(self.spark, plan.index_paths, query)
            if cands is BRUTE_FORCE:
                touched = set(files)
            else:
                # rewrites are per-FILE: dedupe units to files BEFORE the
                # collect, so a row-group-granular index with many units
                # still ships only a file list to the driver
                from rottnest_spark.core.smalldf import local_df

                live_df = local_df(
                    self.spark, [(f,) for f in files], "file_path string"
                )
                file_rows = (
                    cands.select("file_path")
                    .distinct()
                    .join(F.broadcast(live_df), "file_path", "semi")
                    .collect()
                )
                touched |= {r["file_path"] for r in file_rows}
        else:
            touched = set(files)
        touched = sorted(touched)
        if not touched:
            return {"rewritten": 0, "pruned": len(files), "n_deleted": 0}

        # per-file kept rows; provenance (mapped to an integer partition id
        # via a broadcast join — paths don't survive partition-dir
        # encoding) decides each staged part's target
        from rottnest_spark.indices.substring import provenance_file_col

        src = read_parquet(self.spark, touched)
        n_before = {f: c for f, c in file_row_counts(self.spark, touched).items()}
        kept = src.filter(~F.coalesce(pred, F.lit(False)))
        from rottnest_spark.core.smalldf import local_df

        map_df = local_df(
            self.spark,
            [(f, i) for i, f in enumerate(touched)],
            "__mf__ string, __sidx__ int",
        )
        cid = uuid.uuid4().hex[:12]
        stage = os.path.join(lake_dir, f"_compact_stage_{cid}")
        (
            kept.withColumn("__prov__", provenance_file_col())
            .join(F.broadcast(map_df), F.col("__prov__") == F.col("__mf__"))
            .drop("__prov__", "__mf__")
            .repartition("__sidx__")
            .write.partitionBy("__sidx__")
            .parquet(stage)
        )
        n_deleted = 0
        man_dir = os.path.join(self.index_dir, "_compactions")
        self.fs.makedirs(man_dir)
        swaps = []
        for i, f in enumerate(touched):
            part_dir = os.path.join(stage, f"__sidx__={i}")
            parts = self.fs.glob(os.path.join(part_dir, "part-*.parquet"))
            kept_rows = sum(
                file_row_counts(self.spark, [p])[p] for p in parts
            ) if parts else 0
            if kept_rows == n_before.get(f, 0):
                continue  # false-positive candidate: no row matched
            n_deleted += n_before.get(f, 0) - kept_rows
            # publish NEXT TO the file being replaced, not at the lake
            # root: a hive-partitioned layout keeps its col=value path
            # segments, so format-backed lakes commit correct
            # partitionValues for the rewrite (and plain lakes are
            # unaffected — their files live at the root anyway)
            news = [
                os.path.join(
                    os.path.dirname(f),
                    f"deleted_{cid}_{len(swaps):05d}_{j:02d}.parquet",
                )
                for j in range(len(parts))
            ]
            swaps.append((f, parts, news))
        man_path = os.path.join(man_dir, f"{cid}.json")
        self.fs.write_text(
            man_path,
            json.dumps(
                {
                    "new_files": [n for _, _, ns in swaps for n in ns],
                    "replaces": [f for f, _, _ in swaps],
                }
            ),
        )
        for f, parts, news in swaps:
            for p, n in zip(parts, news):
                self.fs.rename(p, n)
        self._retire([f for f, _, _ in swaps], files)
        self.fs.remove(man_path)
        self.fs.rmtree(stage)
        return {
            "rewritten": len(swaps),
            "pruned": len(files) - len(touched),
            "n_deleted": int(n_deleted),
        }

    # -- CDC merge (copy-on-write, file-pruned) -------------------------------

    def _merge_touched(
        self,
        final: DataFrame,
        key_col: str,
        max_change_keys: int,
        files: list[str],
    ) -> list[str]:
        """Files a CDC changeset can touch: footer key ranges vs the
        (driver-collected, bounded) changed-key set. Over the bound, the
        prune degrades to rewrite-everything rather than collecting an
        unbounded key list."""
        import bisect

        from rottnest_spark.core.layout import footer_key_ranges

        key_rows = final.select(key_col).limit(max_change_keys + 1).collect()
        # NULL-key detection rides the same bounded collect (a NULL key
        # forms its own group in `final`, so it is visible here) — one
        # change-batch pass instead of a separate isNull action per merge
        if any(r[0] is None for r in key_rows):
            raise ValueError(
                f"merge_into: changeset contains NULL values in key "
                f"column {key_col!r}; a CDC row must carry a non-null key"
            )
        if len(key_rows) > max_change_keys:
            # fall back: rewrite everything — but the bounded collect no
            # longer proves null-freedom, so check explicitly here
            if not final.filter(F.col(key_col).isNull()).isEmpty():
                raise ValueError(
                    f"merge_into: changeset contains NULL values in key "
                    f"column {key_col!r}; a CDC row must carry a non-null "
                    f"key"
                )
            return list(files)
        keys = sorted(r[0] for r in key_rows)
        touched = []
        for f, (lo, hi) in footer_key_ranges(
            self.spark, files, key_col
        ).items():
            if lo is None:
                touched.append(f)  # no stats: could contain anything
                continue
            i = bisect.bisect_left(keys, lo)
            if i < len(keys) and keys[i] <= hi:
                touched.append(f)
        return touched

    def merge_into(
        self,
        changes: DataFrame,
        key_col: str,
        seq_col: str = "seq",
        op_col: str = "op",
        max_change_keys: int = 100_000,
        update_cols: list[str] | None = None,
    ) -> dict:
        """Apply a CDC changeset (MERGE INTO) with file-granular
        copy-on-write: only files whose footer key range can contain a
        changed key are rewritten; every other data file is untouched on
        disk. The lakehouse analog of Delta/Iceberg MERGE for plain-prefix
        lakes — at 100 TB a small CDC batch rewrites a handful of files,
        never the lake.

        Plan:
          1. collapse the feed to final-state-per-key (`latest_changes`,
             one max_by agg);
          2. prune: collect the changed keys (bounded by
             `max_change_keys`; an oversized feed falls back to
             rewrite-everything, reported, never silent) and keep files
             whose footer [min, max] contains at least one key — files
             with unusable stats are always kept (sound);
          3. rewrite the touched files merged with the changeset in one
             Spark job; upserts for keys outside every touched file land
             as inserts in the same output;
          4. swap via the compact_files manifest protocol (stage →
             manifest → atomic publish → delete originals), so a crash at
             any point is recoverable by `repair_files()`.

        Index entries covering replaced files go stale exactly as in
        compact_files: they drop out of search plans (dead candidates are
        discarded by the bounded collect) and are reclaimed by vacuum();
        the new files are picked up by the next build_index().

        Returns {"rewritten": [...], "new_files": [...], "pruned": n}.
        """
        import json

        from rottnest_spark.ops.merge import DELETE_OP, latest_changes

        lake_dir = self.data_dir
        # NULL merge keys have no row identity: they would sort-crash the
        # driver-side prune and silently join nothing in merge_changes —
        # rejected inside _merge_touched, whose bounded key collect sees
        # every distinct key (no separate isNull pass over the batch).
        final = latest_changes(changes, [key_col], seq_col, op_col)
        files = self.files
        touched = self._merge_touched(final, key_col, max_change_keys, files)
        if not touched and final.filter(
            F.col(op_col) != DELETE_OP
        ).isEmpty():
            return {"rewritten": [], "new_files": [], "pruned": len(files)}

        from rottnest_spark.ops.merge import merge_changes

        if touched:
            base = read_parquet(self.spark, touched)
        elif files:
            base = read_parquet(self.spark, files).limit(0)
        else:
            # empty lake: a merge is a pure insert; the target schema is
            # the change schema minus the CDC bookkeeping columns
            base = changes.drop(seq_col, op_col).limit(0)
        # the pure-DataFrame apply handles full-row AND partial-column
        # (`update_cols`) semantics; pre-collapsing via `final` is shared
        # with the pruning step, but merge_changes re-derives it — the
        # aggregation is change-scale, not worth threading through
        merged = merge_changes(
            base, changes, [key_col], seq_col, op_col, update_cols
        )

        cid = uuid.uuid4().hex[:12]
        stage = os.path.join(lake_dir, f"_compact_stage_{cid}")
        merged.write.parquet(stage)
        parts = self.fs.glob(os.path.join(stage, "part-*.parquet"))
        new_files = [
            os.path.join(lake_dir, f"merged_{cid}_{i:05d}.parquet")
            for i in range(len(parts))
        ]
        man_dir = os.path.join(self.index_dir, "_compactions")
        self.fs.makedirs(man_dir)
        man_path = os.path.join(man_dir, f"{cid}.json")
        self.fs.write_text(
            man_path, json.dumps({"new_files": new_files, "replaces": touched})
        )
        for part, dst in zip(parts, new_files):
            self.fs.rename(part, dst)
        self._retire(touched, files)
        self.fs.remove(man_path)
        self.fs.rmtree(stage)
        return {
            "rewritten": touched,
            "new_files": new_files,
            "pruned": len(files) - len(touched),
        }

    # -- L4: vacuum -----------------------------------------------------------

    def vacuum(
        self,
        live_files: set[str] | None = None,
        orphan_min_age_sec: float = 0.0,
    ) -> list[str]:
        """Drop catalog entries covering no live lake file; delete index dirs
        not referenced by the catalog (≈ iceberg.py:307-384). `live_files`
        widens the liveness set beyond the current snapshot (history-aware
        vacuum — see IcebergSnapshotLake.vacuum).

        `orphan_min_age_sec` guards CONCURRENT builds: an uncommitted index
        dir belonging to an in-flight build looks identical to a crash
        orphan, so production vacuums should pass an age comfortably above
        the build timeout — only unreferenced dirs whose mtime is older get
        reclaimed (the reference's list-with-age-filter,
        backends/s3_utils.py:11-38). Catalog-dead entries are always
        reclaimed regardless of age (they were committed, then orphaned by
        snapshot drift — no build still owns them)."""
        import time as _time

        live = set(self._search_files()) if live_files is None else set(live_files)
        dead = [
            e["index_name"]
            for e in self.catalog.entries()
            if not any(f in live for f in e["file_paths"])
        ]
        if dead:
            dead_set = set(dead)
            for e in self.catalog.entries():
                if e["index_name"] in dead_set:
                    self.fs.rmtree(e["index_path"])
            self.catalog.delete(dead_set)
        referenced = {e["index_path"] for e in self.catalog.entries()}
        removed = list(dead)
        cutoff = _time.time() - orphan_min_age_sec
        for d in self.fs.glob(os.path.join(self.index_dir, "*")):
            if d.endswith("_catalog") or d in referenced or not self.fs.isdir(d):
                continue
            try:
                if self.fs.getmtime(d) > cutoff:
                    continue  # possibly an in-flight build — leave it
            except OSError:
                continue  # vanished mid-scan (concurrent cleanup)
            self.fs.rmtree(d)
            removed.append(os.path.basename(d))
        return removed
