"""Index search over MERGE-ON-READ tables: predicate searches stay exact
on delete-bearing snapshots (Iceberg positional deletes, Delta deletion
vectors) — index candidates are a superset, the refine applies BOTH the
predicate and the delete state via the `_search_files` /
`_search_row_filter` hooks (core/lake.py). Top-K and index-only answer
paths refuse or fall back. This removes the compact-before-search tax
the plain refusal imposed: a 100 TB table in perpetual DV state stays
searchable with its existing indexes."""

import pyspark.sql.functions as F
import pytest

from rottnest_spark.indices.bm25 import BM25Index, bm25_topk
from rottnest_spark.indices.exact import ExactIndex
from rottnest_spark.indices.substring import SubstringIndex
from rottnest_spark.sources.delta import DeltaSnapshotLake
from rottnest_spark.sources.delta_write import (
    delta_convert,
    delta_delete_rows,
)
from rottnest_spark.sources.iceberg import IcebergSnapshotLake
from rottnest_spark.sources.iceberg_write import (
    iceberg_convert,
    iceberg_delete_rows,
    iceberg_write,
)

Q = "merge sort"


def _mk_docs(spark, sf_dir, path):
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text", "lang")
        .repartition(3)
        .write.parquet(path)
    )


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _oracle(lake, q=Q):
    return _ids(
        lake.read().filter(F.contains(F.lower("text"), F.lit(q)))
    )


@pytest.fixture()
def ilake(spark, sf_dir, tmp_path):
    t = str(tmp_path / "imor")
    _mk_docs(spark, sf_dir, t)
    iceberg_convert(t)
    lake = IcebergSnapshotLake(spark, t, str(tmp_path / "idx"))
    assert lake.build_index(SubstringIndex(), "text")
    assert lake.build_index(ExactIndex(), "doc_id")
    return lake, t


def test_iceberg_substring_search_exact_under_deletes(spark, ilake):
    lake, t = ilake
    before = _ids(lake.search(SubstringIndex(), "text", Q))
    assert before == _oracle(lake)
    iceberg_delete_rows(spark, t, F.col("doc_id") % 2 == 0)
    got = _ids(lake.search(SubstringIndex(), "text", Q))
    assert got == _oracle(lake)  # read() applies deletes → shared oracle
    assert got == [i for i in before if i % 2 == 1]
    # delete EVERY match → empty result, never ghosts
    iceberg_delete_rows(spark, t, F.contains(F.lower("text"), F.lit(Q)))
    assert _ids(lake.search(SubstringIndex(), "text", Q)) == []


def test_iceberg_exact_search_and_count_under_deletes(spark, ilake):
    lake, t = ilake
    key = _ids(lake.read().limit(1))[0]
    assert _ids(lake.search(ExactIndex(), "doc_id", key)) == [key]
    iceberg_delete_rows(spark, t, F.col("doc_id") == key)
    assert _ids(lake.search(ExactIndex(), "doc_id", key)) == []
    # count_matches skips the index-only shortcut and counts exactly
    assert lake.count_matches(ExactIndex(), "doc_id", key) == 0
    other = _ids(lake.read().limit(1))[0]
    assert lake.count_matches(ExactIndex(), "doc_id", other) == 1


def test_iceberg_topk_index_refuses_mor(spark, sf_dir, tmp_path):
    t = str(tmp_path / "ibm")
    _mk_docs(spark, sf_dir, t)
    iceberg_convert(t)
    lake = IcebergSnapshotLake(spark, t, str(tmp_path / "idx"))
    idx = BM25Index()
    assert lake.build_index(idx, "text")
    iceberg_delete_rows(spark, t, "doc_id = 1")
    with pytest.raises(ValueError, match="top-K"):
        lake.search(idx, "text", Q)
    with pytest.raises(ValueError, match="top-K"):
        bm25_topk(lake, idx, "text", Q, 5, "doc_id")


def test_iceberg_search_with_unindexed_tail(spark, ilake):
    """Deletes + an unindexed append: covered files refine through the
    row filter, the in-situ tail scans through read() — both exact."""
    lake, t = ilake
    iceberg_delete_rows(spark, t, F.col("doc_id") % 3 == 0)
    extra = lake.read().filter(F.contains(F.lower("text"), F.lit(Q))).limit(2)
    extra = extra.withColumn("doc_id", F.col("doc_id") + F.lit(50_000))
    iceberg_write(extra, t, mode="append")
    got = _ids(lake.search(SubstringIndex(), "text", Q))
    assert got == _oracle(lake)
    assert any(i >= 50_000 for i in got)  # the unindexed tail surfaced


def test_iceberg_search_many_and_histogram(spark, ilake):
    lake, t = ilake
    iceberg_delete_rows(spark, t, F.col("doc_id") % 2 == 0)
    out = lake.search_many(SubstringIndex(), "text", [Q, "the"])
    per_q = {
        q: sorted(
            r.doc_id
            for r in out.filter(F.col("__query__") == q).collect()
        )
        for q in (Q, "the")
    }
    for q in (Q, "the"):
        assert per_q[q] == _oracle(lake, q)
    # key_histogram routes covered files through the delete-exact scan
    hist = {
        r.key: r.n_rows
        for r in lake.key_histogram(ExactIndex(), "doc_id").collect()
    }
    assert set(hist) == set(_ids(lake.read()))
    assert all(v == 1 for v in hist.values())


def test_delta_search_exact_under_dvs(spark, sf_dir, tmp_path):
    t = str(tmp_path / "dmor")
    _mk_docs(spark, sf_dir, t)
    delta_convert(t)
    lake = DeltaSnapshotLake(spark, t, str(tmp_path / "idx"))
    assert lake.build_index(SubstringIndex(), "text")
    assert lake.build_index(ExactIndex(), "doc_id")
    before = _ids(lake.search(SubstringIndex(), "text", Q))
    delta_delete_rows(spark, t, F.col("doc_id") % 2 == 0)
    got = _ids(lake.search(SubstringIndex(), "text", Q))
    assert got == _oracle(lake) == [i for i in before if i % 2 == 1]
    key = _ids(lake.read().limit(1))[0]
    delta_delete_rows(spark, t, F.col("doc_id") == key)
    assert _ids(lake.search(ExactIndex(), "doc_id", key)) == []
    with pytest.raises(ValueError, match="top-K"):
        lake.search(BM25Index(), "text", Q)
    with pytest.raises(ValueError, match="top-K"):
        bm25_topk(lake, BM25Index(), "text", Q, 5, "doc_id")


def test_rowgroup_granularity_tags_positions(spark, sf_dir, tmp_path):
    """Row-group candidate units compute file-global positions from the
    footer — a delete landing in row group N must not leak through an
    rg-granular index's refine."""
    t = str(tmp_path / "rg")
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text", "lang")
        .coalesce(1)
        .write.option("parquet.block.size", 64 * 1024)
        .parquet(t)
    )
    iceberg_convert(t)
    lake = IcebergSnapshotLake(spark, t, str(tmp_path / "idx"))
    assert lake.build_index(
        SubstringIndex(granularity="row_group"), "text"
    )
    iceberg_delete_rows(spark, t, F.col("doc_id") % 2 == 0)
    got = _ids(lake.search(SubstringIndex(granularity="row_group"), "text", Q))
    assert got == _oracle(lake)
    assert all(i % 2 == 1 for i in got)


def test_build_index_on_mor_table(spark, sf_dir, tmp_path):
    """Indexing a delete-bearing table is allowed — the index is a
    SUPERSET (deleted rows included) and every search path refines
    through the delete state, so results stay exact."""
    t = str(tmp_path / "bmor")
    _mk_docs(spark, sf_dir, t)
    iceberg_convert(t)
    iceberg_delete_rows(spark, t, F.col("doc_id") % 2 == 0)
    lake = IcebergSnapshotLake(spark, t, str(tmp_path / "idx"))
    assert lake.build_index(SubstringIndex(), "text")  # built UNDER deletes
    got = _ids(lake.search(SubstringIndex(), "text", Q))
    assert got == _oracle(lake)
    assert all(i % 2 == 1 for i in got)
    # appending then re-building indexes only the delta (idempotent plan)
    extra = lake.read().limit(2).withColumn(
        "doc_id", F.col("doc_id") + F.lit(90_000)
    )
    iceberg_write(extra, t, mode="append")
    created = lake.build_index(SubstringIndex(), "text")
    assert len(created) == 1
    assert _ids(lake.search(SubstringIndex(), "text", Q)) == _oracle(lake)


def test_partitioned_table_search_with_unindexed_tail(spark, sf_dir, tmp_path):
    """Search over a PARTITIONED format table must return the partition
    columns and union cleanly with the in-situ tail — candidate units
    degrade to file granularity through the reconstructing read()."""
    from rottnest_spark.sources.delta import DeltaSnapshotLake
    from rottnest_spark.sources.delta_write import delta_upsert, delta_write

    t = str(tmp_path / "psearch")
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", "text", "lang")
    )
    delta_write(df, t, partition_by=["lang"])
    lake = DeltaSnapshotLake(spark, t, str(tmp_path / "idx"))
    assert lake.build_index(SubstringIndex(), "text")
    # an unindexed partitioned append (hive-staged upsert inserts)
    extra = (
        df.filter(F.contains(F.lower("text"), F.lit(Q)))
        .limit(2)
        .withColumn("doc_id", F.col("doc_id") + F.lit(70_000))
    )
    delta_upsert(spark, extra, t, ["doc_id"])
    got = lake.search(SubstringIndex(), "text", Q)
    assert "lang" in got.columns
    want = sorted(
        (r.doc_id, r.lang)
        for r in lake.read()
        .filter(F.contains(F.lower("text"), F.lit(Q)))
        .collect()
    )
    assert sorted((r.doc_id, r.lang) for r in got.collect()) == want
    assert any(i >= 70_000 for i, _ in want)
