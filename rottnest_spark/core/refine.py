"""Candidate fetch + exact refine — the analog of the reference's
`read_indexed_pages` (src/formats/parquet.rs:430-648) and
`get_result_from_index_result` (backends/utils.py:147-185).

These are the fetch stage's primitives, and only `ParquetLake`
(core/lake.py) calls `collect_candidates_bounded` and `read_candidates`:
every search variant, BM25 and IVF top-K included, fetches through
`ParquetLake._fetch` (bounded collect, then the candidate-unit read) or,
for a unit list collected its own way, the lake's `_read_candidate_units`
hook — `read_candidates` plus the lake's delete state, or a whole-file
`read()` where Iceberg/Delta need one for the columns asked for
(`_whole_file_units`: partition columns, column mapping). `read_rows_at`
serves the PQ/graph row-precision rerank.

Two fetch paths, chosen by candidate granularity:

- **file granularity** (row_group == -1): `spark.read.parquet(*files)` — the
  native vectorized reader, whole-stage codegen, predicate pushdown. This is
  the default path; at 100 TB the win is reading 20 files instead of 20k.
- **row-group granularity**: a `mapInPandas` over the candidate list doing
  `pyarrow.ParquetFile.read_row_group` — page-precision analog, used when an
  index stores per-row-group provenance. Arrow-batched, one task per batch of
  candidates, scales horizontally.

Either way the rows then pass through the index's exact `brute_force`
predicate, which is what makes index pruning invisible to correctness.
"""

from __future__ import annotations

import functools
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rottnest_spark.core.layout import WHOLE_FILE
from rottnest_spark.sources.reader import nanos_ts_columns, read_parquet


def _us_schema(arrow_schema):
    """Downcast timestamp[ns] fields to µs — Spark's vectorized reader and
    from_arrow_schema reject nanos; truncation matches reader.read_parquet.

    NOTE: executor-side closures must NOT reference this module-level
    function (cloudpickle serializes module functions by reference, and the
    driver contract runs on sessions whose workers cannot import this
    package) — each mapInPandas closure below carries its own local copy."""
    import pyarrow as pa

    fields = []
    for f in arrow_schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            f = f.with_type(pa.timestamp("us", tz=f.type.tz))
        fields.append(f)
    return pa.schema(fields)


def union_all(frames: list[DataFrame]) -> DataFrame:
    """Union by column name: the parts of one candidate row set."""
    return functools.reduce(DataFrame.unionByName, frames)


def collect_candidates_bounded(
    cands: DataFrame,
    entry_files: set[str],
    covered: set[str],
    threshold: int | None,
) -> list[tuple[str, int]] | None:
    """Collect candidate units with a hard driver-side bound.

    Returns the unit list, or None when it exceeds `threshold` — the caller
    then falls back to a full scan WITHOUT ever materializing the oversized
    list on the driver (at 100 TB an unselective query can name millions of
    units; learning "too many" must not require fetching them all,
    reference brute_force_threshold analog backends/utils.py:224-225).

    Stale-entry liveness (index entries can reference files since deleted
    from the lake) is pushed into Spark as a broadcast semi-join, and only
    when staleness is actually possible — filtering driver-side after a
    LIMIT would silently drop live candidates."""
    from pyspark.sql import functions as F

    if entry_files - covered:
        from rottnest_spark.core.smalldf import local_df

        covered_df = local_df(
            cands.sparkSession,
            [(f,) for f in sorted(covered)],
            "file_path string",
        )
        cands = cands.join(F.broadcast(covered_df), "file_path", "semi")
    if threshold is None:
        rows = cands.collect()
    else:
        rows = cands.limit(threshold + 1).collect()
        if len(rows) > threshold:
            return None
    return [(r["file_path"], r["row_group"]) for r in rows]


def read_candidates(
    spark: SparkSession,
    candidates: list[tuple[str, int]],
    columns: list[str] | None = None,
    tag_positions: bool = False,
) -> DataFrame:
    """Read the rows of the candidate (file, row_group) units.

    `tag_positions=True` attaches `__path` (absolute data-file path) and
    `__pos` (file-global row index) to every row — the merge-on-read
    search contract: snapshot lakes anti-join these tags against their
    delete state so index candidates that were row-deleted never surface
    (sources/iceberg.py positional deletes, sources/delta.py deletion
    vectors). Whole-file units tag via Spark's `_metadata`; row-group
    units compute the file-global offset from the footer (cumulative
    row counts of the preceding groups)."""
    if not candidates:
        raise ValueError("no candidates to read")

    whole_files = sorted({f for f, rg in candidates if rg == WHOLE_FILE})
    rg_cands = [(f, rg) for f, rg in candidates if rg != WHOLE_FILE]
    parts: list[DataFrame] = []

    if whole_files:
        if tag_positions:
            from rottnest_spark.sources.reader import read_parquet_tagged

            df = read_parquet_tagged(spark, whole_files)
            if columns:
                df = df.select(*columns, "__path", "__pos")
            parts.append(df)
        else:
            parts.append(read_parquet(spark, whole_files, columns=columns))

    if rg_cands:
        # Schema must be declared up front for mapInPandas: probe one file.
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        arrow_schema = pq.ParquetFile(rg_cands[0][0]).schema_arrow
        if columns:
            import pyarrow as pa

            arrow_schema = pa.schema([arrow_schema.field(c) for c in columns])
        arrow_schema = _us_schema(arrow_schema)
        # read-schema pin (type-widened Delta): type the output by the
        # pinned schema and up-cast each row-group batch — the probed
        # file may be a narrow pre-widen one while others are wide
        from pyspark.sql.pandas.types import to_arrow_type

        from rottnest_spark.sources.reader import pinned_read_schema

        _pin = pinned_read_schema()
        pin_arrow = None
        if _pin is not None:
            import pyarrow as pa

            pinned_fields = []
            for f in arrow_schema:
                if f.name in _pin.fieldNames():
                    f = f.with_type(to_arrow_type(_pin[f.name].dataType))
                pinned_fields.append(f)
            pin_arrow = pa.schema(pinned_fields)
            arrow_schema = pin_arrow
        spark_schema = from_arrow_schema(arrow_schema)
        if tag_positions:
            from pyspark.sql.types import LongType, StringType, StructField

            spark_schema = spark_schema.add(
                StructField("__path", StringType())
            ).add(StructField("__pos", LongType()))
        cols = columns
        tag = tag_positions

        def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import pyarrow as pa  # executor-side imports
            import pyarrow.parquet as pq

            def us(schema):  # local copy — see _us_schema NOTE
                return pa.schema(
                    [
                        f.with_type(pa.timestamp("us", tz=f.type.tz))
                        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                        else f
                        for f in schema
                    ]
                )

            for pdf in batches:
                for path, group in pdf.groupby("file_path"):
                    pf = pq.ParquetFile(path)
                    starts = None
                    if tag:  # cumulative file-global row offsets
                        md = pf.metadata
                        starts, acc = [], 0
                        for j in range(md.num_row_groups):
                            starts.append(acc)
                            acc += md.row_group(j).num_rows
                    for rg in group["row_group"]:
                        tbl = pf.read_row_group(int(rg), columns=cols)
                        # safe=False: ns->us truncation is intended (matches
                        # read_parquet's div-1000) — safe mode refuses it
                        tbl = tbl.cast(us(tbl.schema), safe=False)
                        if pin_arrow is not None:
                            tbl = tbl.cast(
                                pa.schema(
                                    [pin_arrow.field(f.name) for f in tbl.schema]
                                )
                            )
                        out = tbl.to_pandas()
                        if tag:
                            out["__path"] = path
                            out["__pos"] = range(
                                starts[int(rg)],
                                starts[int(rg)] + len(out),
                            )
                        yield out

        # parallelize straight into the fetch partition count — a
        # default-sliced local df costs one Python round trip per slice
        # on the repartition's map side (core/smalldf.py)
        from rottnest_spark.core.smalldf import local_df

        cand_df = local_df(
            spark,
            rg_cands,
            "file_path string, row_group int",
            slices=max(1, min(len(rg_cands), 64)),
        )
        parts.append(cand_df.mapInPandas(fetch, spark_schema))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def read_rows_at(
    spark: SparkSession,
    triples: list[tuple[str, int, int]],
    columns: list[str] | None = None,
) -> DataFrame:
    """Fetch specific rows by (file_path, row_group, position-in-row-group)
    — the row-precision analog of the reference's uid→page→row fetch
    (backends/utils.py:41-61). One pyarrow row-group read per (file, rg),
    then positional take; Arrow-batched, distributed over the triple list."""
    if not triples:
        raise ValueError("no rows to read")
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow as pa

    arrow_schema = pq.ParquetFile(triples[0][0]).schema_arrow
    if columns:
        arrow_schema = pa.schema([arrow_schema.field(c) for c in columns])
    arrow_schema = _us_schema(arrow_schema)
    spark_schema = from_arrow_schema(arrow_schema)
    cols = columns

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa  # executor-side
        import pyarrow.parquet as pq

        def us(schema):  # local copy — see _us_schema NOTE
            return pa.schema(
                [
                    f.with_type(pa.timestamp("us", tz=f.type.tz))
                    if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                    else f
                    for f in schema
                ]
            )

        for pdf in batches:
            for (path, rg), grp in pdf.groupby(["file_path", "row_group"]):
                pf = pq.ParquetFile(path)
                tbl = pf.read_row_group(int(rg), columns=cols)
                take = tbl.take(sorted(int(p) for p in grp["pos"]))
                yield take.cast(us(take.schema), safe=False).to_pandas()

    from rottnest_spark.core.smalldf import local_df

    tri_df = local_df(
        spark,
        triples,
        "file_path string, row_group int, pos int",
        slices=1,
    ).repartition(max(1, min(len(triples) // 64 + 1, 64)), "file_path", "row_group")
    return tri_df.mapInPandas(fetch, spark_schema)
