"""Index extension interface — the analog of the reference's 4-method ABC
`RottnestIndex` (indices/index_interface.py:9-37): build_index, search_index,
brute_force, compact_indices. Differences, per SURVEY §7.1:

- indexes are DataFrames persisted as Parquet directories, not binaries;
- search returns a *candidates* DataFrame keyed by (file_path, row_group)
  instead of Vec<(file_id, uid)> — uid = (file, row_group) is globally unique,
  so no uid-offset arithmetic is needed anywhere (including compaction);
- `BRUTE_FORCE` is the "Brute Force Everything Please" escape hatch
  (backends/utils.py:224-225): the index declares itself unselective for this
  query and the lake falls back to a full refine scan.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession

#: sentinel returned by search() when the index cannot prune for this query
BRUTE_FORCE = "__BRUTE_FORCE_EVERYTHING__"

class SparkIndex(ABC):
    """One index type. Stateless aside from build knobs; all data lives in
    the index Parquet directory + the catalog."""

    index_type: str = "abstract"

    #: probe-key sort of the single-table index layout; the default compact()
    #: re-applies it so Parquet min/max pruning survives merges (indexes with
    #: multi-table layouts override compact() and sort each table themselves)
    sort_cols: list[str] | None = None

    #: default compact() also refreshes the _unit_meta.json sidecar
    unit_meta: bool = False

    def config(self) -> dict:
        """Build knobs recorded in the catalog (tokenizer-in-header analog,
        src/lava/tokenizer_utils.rs:48-54: probe must match build)."""
        return {}

    @abstractmethod
    def build(
        self, spark: SparkSession, files: list[str], column: str, out_path: str
    ) -> None:
        """Build the index DataFrame over `column` of `files`, write Parquet
        under `out_path`."""

    @abstractmethod
    def search(
        self, spark: SparkSession, index_paths: list[str], query
    ):
        """Return candidates DataFrame[file_path, row_group] (row_group == -1
        means whole file), or BRUTE_FORCE."""

    @abstractmethod
    def brute_force(
        self, df: DataFrame, column: str, query, k: int | None
    ) -> DataFrame:
        """Exact predicate on raw rows — defines the query semantics
        (SURVEY §2.2 F1-F5). Applied to candidate rows AND to in-situ scans."""

    def predicate(self, column: str, query):
        """The boolean Column form of brute_force's filter, or None when
        the index's semantics are top-K rather than a row predicate (BM25,
        vector). A non-None predicate makes the index OR-composable
        (ParquetLake.search_disj) — filters compose only by chaining
        (AND), Columns compose freely."""
        return None

    def compact(
        self, spark: SparkSession, index_paths: list[str], out_path: str
    ) -> None:
        """Merge several index directories into one. Default: union + rewrite
        (Spark's shuffle IS the reference's merge tree, src/lava/merge.rs:17-205).
        Reuses the index's probe-key sort so min/max pruning is preserved."""
        df = spark.read.parquet(*index_paths)
        self._write_index(
            df, out_path, sort_cols=self.sort_cols, unit_meta=self.unit_meta
        )

    # -- helpers shared by implementations -----------------------------------

    @staticmethod
    def _write_index(
        df: DataFrame,
        out_path: str,
        sort_cols: list[str] | None = None,
        unit_meta: bool = False,
        pre_clustered: bool = False,
    ):
        """Persist an index table sorted by its probe key so Parquet row-group
        min/max stats prune probe lookups (the analog of the reference's
        chunked posting lists with offset directories, src/lava/bm25/bm25.rs:146-154).

        With unit_meta=True, also writes `_unit_meta.json` {"n_units": N}
        beside the table (N = distinct indexed (file_path, row_group) units),
        so search-time selectivity decisions don't need a full index scan.
        Underscore-prefixed files are invisible to Spark's Parquet reader.

        pre_clustered=True: the caller's frame is ALREADY range-partitioned
        on sort_cols (e.g. the build fused its dedup into one range
        exchange, guide §2.4) — only the partition-local sort runs here, no
        second exchange. Files stay range-disjoint in the probe key either
        way, so min/max pruning is unchanged."""
        if sort_cols and pre_clustered:
            df = df.sortWithinPartitions(*sort_cols)
        elif sort_cols:
            df = df.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
        # zstd, matching the reference's zstd-compressed index blobs
        # (X10, src/lava/merge.rs bincode+zstd): index tables are
        # write-once read-many, where zstd's better ratio over snappy is
        # free bandwidth at probe time
        df.write.mode("overwrite").option("compression", "zstd").parquet(out_path)
        if unit_meta:
            SparkIndex.write_unit_meta(df.sparkSession, out_path)

    @staticmethod
    def write_unit_meta(spark: SparkSession, out_path: str) -> int:
        """Count distinct units of a written index table (column-pruned read
        of two dictionary-encoded columns) and record the sidecar."""
        import json
        import os

        n = (
            spark.read.parquet(out_path)
            .select("file_path", "row_group")
            .distinct()
            .count()
        )
        with open(os.path.join(out_path, "_unit_meta.json"), "w") as f:
            json.dump({"n_units": int(n)}, f)
        return n

    @staticmethod
    def read_unit_meta(spark: SparkSession, index_paths: list[str]) -> int:
        """Total indexed units across entries (units are disjoint between
        entries — each covers its own file group). Falls back to a distinct
        count for tables written before the sidecar existed."""
        import json
        import os

        total = 0
        for p in index_paths:
            meta = os.path.join(p, "_unit_meta.json")
            try:
                with open(meta) as f:
                    total += int(json.load(f)["n_units"])
            except (OSError, ValueError, KeyError):
                total += (
                    spark.read.parquet(p)
                    .select("file_path", "row_group")
                    .distinct()
                    .count()
                )
        return total
