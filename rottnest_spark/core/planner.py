"""Index-aware planning: the only genuinely custom "optimizer" in this engine
(SURVEY §4 conclusion). Three decisions, all mirrored from the reference:

1. **Incremental build plan** — which lake files lack an index → anti-join of
   lake files vs catalog-covered files (backends/iceberg.py:133,
   backends/delta.py:31-32).
2. **Binpack** — group files so each index build covers ≤ binpack_row_threshold
   rows (backends/iceberg.py:139-158, backends/utils.py:284-331). Sequential
   driver-side fold over a catalog-scale list (order-dependent by design).
3. **Search plan** — split lake files into (indexed by entry_i, unindexed);
   unindexed files are scanned in-situ (backends/utils.py:248-275).

The file *list* can be large at 100 TB (~100k files), but it is still
metadata-scale (bytes per file, not data), so sets on the driver are fine up
to millions of files; the heavy work stays in Spark jobs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from rottnest_spark.core.catalog import IndexCatalog


def unindexed_files(
    catalog: IndexCatalog, index_type: str, column_name: str, lake_files: list[str]
) -> list[str]:
    covered = catalog.indexed_files(index_type, column_name)
    return [f for f in lake_files if f not in covered]


def binpack(
    files_with_counts: list[tuple[str, int]], row_threshold: int
) -> list[list[tuple[str, int]]]:
    """Greedy sequential binpack (reference backends/utils.py:284-331):
    accumulate files in order until the running row count would exceed the
    threshold, then start a new group. A group always gets ≥ 1 file even if
    that single file alone exceeds the threshold."""
    groups: list[list[tuple[str, int]]] = []
    cur: list[tuple[str, int]] = []
    cur_rows = 0
    for f, n in files_with_counts:
        if cur and cur_rows + n > row_threshold:
            groups.append(cur)
            cur, cur_rows = [], 0
        cur.append((f, n))
        cur_rows += n
    if cur:
        groups.append(cur)
    return groups


@dataclass
class SearchPlan:
    """Which index entries cover which lake files, plus the in-situ remainder."""

    entries: list[dict] = field(default_factory=list)  # catalog entries to probe
    covered_files: list[str] = field(default_factory=list)
    unindexed_files: list[str] = field(default_factory=list)
    # every file the entries name: more than covered_files when an entry
    # still references files since removed from the lake (stale until
    # vacuum), which is when candidate collects must semi-join liveness
    entry_files: set[str] = field(default_factory=set)

    @property
    def index_paths(self) -> list[str]:
        return [e["index_path"] for e in self.entries]


def plan_search(
    catalog: IndexCatalog,
    index_type: str,
    column_name: str,
    lake_files: list[str],
    expect_config: str | None = None,
) -> SearchPlan:
    """expect_config (the probing index's config_json) guards against the
    silent-wrong-results class of bug where probe parameters differ from
    build parameters (e.g. different gram size or tokenizer): the probe
    would under-match candidates and the refine could not recover the loss.
    The reference enforces the same invariant for its serialized tokenizer
    (src/lava/tokenizer_utils.rs:48-54)."""
    lake = set(lake_files)
    plan = SearchPlan()
    covered: set[str] = set()
    for e in catalog.entries_for(index_type, column_name):
        useful = [f for f in e["file_paths"] if f in lake]
        if useful:
            if expect_config is not None and e.get("config") != expect_config:
                raise ValueError(
                    f"index entry {e['index_name']!r} was built with config "
                    f"{e.get('config')} but the probing index has "
                    f"{expect_config} — rebuild or probe with matching "
                    f"parameters"
                )
            plan.entries.append(e)
            plan.entry_files.update(e["file_paths"])
            covered.update(useful)
    plan.covered_files = sorted(covered)
    plan.unindexed_files = sorted(lake - covered)
    return plan


def group_mergeable(
    entries: list[dict], row_threshold: int
) -> list[list[dict]]:
    """Compaction planning (backends/iceberg.py:393-395 + utils.py:284-331):
    entries whose total indexed rows are below the threshold get binpacked
    into merge groups; singleton groups are dropped (nothing to merge)."""
    small = [e for e in entries if e["rows_indexed"] < row_threshold]
    packed = binpack([(e["index_name"], e["rows_indexed"]) for e in small], row_threshold)
    by_name = {e["index_name"]: e for e in small}
    groups = [[by_name[name] for name, _ in g] for g in packed]
    return [g for g in groups if len(g) > 1]
