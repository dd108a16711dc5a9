"""Delta column mapping (PROTOCOL.md §column-mapping): data files carry
PHYSICAL column names (col-<uuid> style) while the log's schemaString
maps them to logical names via field metadata. Round 7 added NAME-mode
read + search; round 8 adds NESTED field mapping, ID mode (resolution by
parquet field id — the spec mechanism, proven here on files with
deliberately scrambled column names), and DML on mapped tables
(delete/upsert/append round-trip against a plain twin). Everything above
the scan layer speaks logical names; the scan layer translates."""

import json
import os

import pyspark.sql.functions as F
import pytest

from rottnest_spark.indices.bm25 import BM25Index, bm25_topk
from rottnest_spark.indices.exact import ExactIndex
from rottnest_spark.indices.substring import SubstringIndex
from rottnest_spark.sources.changes import delta_snapshot_diff
from rottnest_spark.sources.delta import (
    DeltaSnapshotLake,
    delta_column_mapping,
)
from rottnest_spark.sources.delta_write import delta_convert

PHYS_K = "col-3f9a"
PHYS_TXT = "col-b7c2"


def _mapped_schema_string() -> str:
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": PHYS_K,
                    },
                },
                {
                    "name": "txt",
                    "type": "string",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": PHYS_TXT,
                    },
                },
            ],
        }
    )


def _data(spark):
    return spark.range(200).selectExpr(
        "id AS k", "concat('word', cast(id % 7 AS string), ' tail') AS txt"
    )


@pytest.fixture()
def twins(spark, tmp_path):
    """(plain table, column-mapped table) with identical logical rows."""
    plain = str(tmp_path / "plain")
    _data(spark).repartition(3).write.parquet(plain)
    delta_convert(plain)

    mapped = str(tmp_path / "mapped")
    (
        _data(spark)
        .select(F.col("k").alias(PHYS_K), F.col("txt").alias(PHYS_TXT))
        .repartition(3)
        .write.parquet(mapped)
    )
    delta_convert(mapped)
    # commit 1: upgrade the metaData to NAME-mode column mapping
    with open(
        os.path.join(mapped, "_delta_log", f"{1:020d}.json"), "w"
    ) as fh:
        fh.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "cm-test",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": _mapped_schema_string(),
                        "partitionColumns": [],
                        "configuration": {
                            "delta.columnMapping.mode": "name",
                            "delta.columnMapping.maxColumnId": "2",
                        },
                    }
                }
            )
            + "\n"
        )
    return plain, mapped


def test_mapping_extraction(twins):
    plain, mapped = twins
    assert delta_column_mapping(plain) == {}
    assert delta_column_mapping(mapped) == {"k": PHYS_K, "txt": PHYS_TXT}


def test_mapped_read_equals_plain_twin(spark, twins):
    plain, mapped = twins
    pl = DeltaSnapshotLake(spark, plain, plain + "_i")
    ml = DeltaSnapshotLake(spark, mapped, mapped + "_i")
    assert ml.read().columns == ["k", "txt"]  # logical names, logical order
    assert sorted(map(tuple, ml.read().collect())) == sorted(
        map(tuple, pl.read().collect())
    )


def test_mapped_search_equals_plain_twin(spark, twins):
    plain, mapped = twins
    results = {}
    for name, path in (("plain", plain), ("mapped", mapped)):
        lake = DeltaSnapshotLake(
            spark, path, path + "_idx", brute_force_threshold=1
        )
        sidx = SubstringIndex()
        lake.build_index(sidx, "txt")
        results[name] = sorted(
            map(tuple, lake.search(sidx, "txt", "word3").collect())
        )
        eidx = ExactIndex()
        lake.build_index(eidx, "k")
        results[name + "_exact"] = sorted(
            map(tuple, lake.search(eidx, "k", 42).collect())
        )
        # ranked search fetches candidate units through the same lake
        # hook (default threshold: the 3 units are fetched, not scanned)
        ranked = DeltaSnapshotLake(spark, path, path + "_idx")
        bidx = BM25Index()
        ranked.build_index(bidx, "txt")
        results[name + "_bm25"] = [
            tuple(r)
            for r in bm25_topk(ranked, bidx, "txt", "word3", 5, "k").collect()
        ]
    assert results["mapped"] == results["plain"]
    assert len(results["plain"]) == len([i for i in range(200) if i % 7 == 3])
    assert results["mapped_exact"] == results["plain_exact"]
    assert [r[0] for r in results["plain_exact"]] == [42]
    assert results["mapped_bm25"] == results["plain_bm25"]
    assert [r[0] for r in results["plain_bm25"]] == [3, 10, 17, 24, 31]
    # and the search results carry LOGICAL column names
    assert all(len(r) == 2 for r in results["mapped"])


def test_mapped_diff_uses_logical_names(spark, twins):
    _, mapped = twins
    diff = delta_snapshot_diff(spark, mapped, -1, 1)
    assert set(diff.columns) == {"k", "txt", "_change_type"}
    rows = diff.collect()
    assert len(rows) == 200 and all(r._change_type == "insert" for r in rows)


def test_mapped_dml_round_trips(spark, twins):
    """Round 8: DML on NAME-mode tables — delete/upsert/append speak
    LOGICAL names, staged files carry PHYSICAL names, and the mapped
    table's post-DML state equals its plain twin's under the same ops."""
    from rottnest_spark.sources.delta_write import (
        delta_delete_rows,
        delta_rewrite_deletes,
        delta_upsert,
        delta_write,
    )

    plain, mapped = twins
    ups = spark.createDataFrame(
        [(3, "patched three"), (777, "brand new")], "k long, txt string"
    )
    for t in (plain, mapped):
        delta_delete_rows(spark, t, "k >= 190")  # logical predicate
        delta_upsert(spark, ups, t, ["k"])
        delta_write(
            spark.createDataFrame([(900, "appended")], "k long, txt string"),
            t,
            mode="append",
        )

    pl = DeltaSnapshotLake(spark, plain, plain + "_i2")
    ml = DeltaSnapshotLake(spark, mapped, mapped + "_i2")
    assert ml.read().columns == ["k", "txt"]
    assert sorted(map(tuple, ml.read().collect())) == sorted(
        map(tuple, pl.read().collect())
    )
    # staged files really carry PHYSICAL names (protocol compliance for
    # foreign readers), checked on a post-DML data file footer
    import pyarrow.parquet as pq

    from rottnest_spark.sources.delta import delta_live_files

    newest = [
        f
        for f in delta_live_files(mapped, on_deletes="ignore")
        if "upserted_" in f
    ]
    assert newest
    names = set(pq.ParquetFile(newest[0]).schema.names)
    assert names == {PHYS_K, PHYS_TXT}
    # and the DV compaction path keeps the twins identical too
    delta_rewrite_deletes(spark, mapped)
    assert sorted(map(tuple, ml.read().collect())) == sorted(
        map(tuple, pl.read().collect())
    )


def test_mapped_diff_after_dml_uses_logical_names(spark, twins):
    from rottnest_spark.sources.delta_write import delta_delete_rows

    _, mapped = twins
    v = delta_delete_rows(spark, mapped, "k < 3")
    diff = delta_snapshot_diff(spark, mapped, v - 1, v)
    rows = diff.collect()
    assert set(diff.columns) == {"k", "txt", "_change_type"}
    assert sorted(r.k for r in rows) == [0, 1, 2]
    assert all(r._change_type == "delete" for r in rows)


def test_mapped_table_with_deletion_vectors(spark, twins):
    """The Databricks default table shape: NAME-mode column mapping AND
    deletion vectors together. The DV anti-join runs on the physical
    scan (positions + _metadata), the rename to logical names happens
    after — a foreign engine's DV commit is hand-built to the protocol
    since our own DML refuses mapped tables."""
    import json as _json

    from rottnest_spark.sources.delta import delta_live_files
    from rottnest_spark.sources.roaring import roaring64_encode, z85_encode

    _, mapped = twins
    # hand-attach an inline DV to one data file: delete positions 0..4
    files = delta_live_files(mapped)
    victim = sorted(files)[0]
    n_victim = spark.read.parquet(victim).count()
    bm = roaring64_encode(list(range(5)))
    padded = bm + b"\x00" * (-len(bm) % 4)
    rel = os.path.relpath(victim, mapped)
    actions = [
        {
            "protocol": {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors", "columnMapping"],
                "writerFeatures": ["deletionVectors", "columnMapping"],
            }
        },
        {
            "remove": {
                "path": rel,
                "deletionTimestamp": 1,
                "dataChange": True,
            }
        },
        {
            "add": {
                "path": rel,
                "partitionValues": {},
                "size": os.path.getsize(victim),
                "modificationTime": 1,
                "dataChange": True,
                "deletionVector": {
                    "storageType": "i",
                    "pathOrInlineDv": z85_encode(padded),
                    "sizeInBytes": len(bm),
                    "cardinality": 5,
                },
            }
        },
    ]
    with open(
        os.path.join(mapped, "_delta_log", f"{2:020d}.json"), "w"
    ) as fh:
        for a in actions:
            fh.write(_json.dumps(a) + "\n")

    lake = DeltaSnapshotLake(spark, mapped, mapped + "_dv")
    df = lake.read()
    assert df.columns == ["k", "txt"]  # logical names survive the DV join
    assert df.count() == 200 - 5
    dropped = {
        r.k
        for r in spark.read.parquet(victim)
        .limit(5)
        .select(F.col(PHYS_K).alias("k"))
        .collect()
    }
    assert dropped & {r.k for r in df.collect()} == set()


# ---------------------------------------------------------------------------
# nested struct fields (round 8 — previously only top-level names mapped)
# ---------------------------------------------------------------------------


def _nested_schema_string(with_nested_physical: bool = True) -> str:
    inner_meta = (
        {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "col-inner",
        }
        if with_nested_physical
        else {}
    )
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": PHYS_K,
                    },
                },
                {
                    "name": "info",
                    "type": {
                        "type": "struct",
                        "fields": [
                            {
                                "name": "score",
                                "type": "long",
                                "nullable": True,
                                "metadata": inner_meta,
                            }
                        ],
                    },
                    "nullable": True,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": "col-outer",
                    },
                },
            ],
        }
    )


def _upgrade_to_mapped(table_path: str, schema_string: str, mode: str = "name"):
    with open(
        os.path.join(table_path, "_delta_log", f"{1:020d}.json"), "w"
    ) as fh:
        fh.write(
            json.dumps(
                {
                    "metaData": {
                        "id": "cm-test",
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": schema_string,
                        "partitionColumns": [],
                        "configuration": {
                            "delta.columnMapping.mode": mode,
                            "delta.columnMapping.maxColumnId": "9",
                        },
                    }
                }
            )
            + "\n"
        )


def test_nested_struct_fields_map_to_logical_names(spark, tmp_path):
    t = str(tmp_path / "nested")
    spark.range(10).selectExpr(
        f"id AS `{PHYS_K}`",
        "named_struct('col-inner', id * 10) AS `col-outer`",
    ).repartition(2).write.parquet(t)
    delta_convert(t)
    _upgrade_to_mapped(t, _nested_schema_string())

    lake = DeltaSnapshotLake(spark, t, t + "_i")
    df = lake.read()
    assert df.columns == ["k", "info"]
    assert df.schema["info"].dataType.fieldNames() == ["score"]
    rows = sorted((r.k, r.info.score) for r in df.collect())
    assert rows == [(i, i * 10) for i in range(10)]
    # and the diff path renames nested fields too
    diff = delta_snapshot_diff(spark, t, -1, 1)
    assert diff.schema["info"].dataType.fieldNames() == ["score"]


def test_nested_field_missing_physical_name_refuses(spark, tmp_path):
    """A nested mapped field WITHOUT physicalName must refuse loudly —
    pre-round-8 this silently surfaced physical col-<uuid> names."""
    t = str(tmp_path / "nested_bad")
    spark.range(4).selectExpr(
        f"id AS `{PHYS_K}`",
        "named_struct('col-inner', id) AS `col-outer`",
    ).write.parquet(t)
    delta_convert(t)
    _upgrade_to_mapped(t, _nested_schema_string(with_nested_physical=False))
    lake = DeltaSnapshotLake(spark, t, t + "_i")
    with pytest.raises(ValueError, match="physicalName"):
        lake.read()


# ---------------------------------------------------------------------------
# ID mode (round 8): resolution by parquet field id, the spec mechanism
# ---------------------------------------------------------------------------


def _write_id_mode_files(path: str, scrambled: bool, n: int = 200):
    """Data files whose parquet FIELD IDS carry the truth; column names
    either match physicalName (compliant writer) or are scrambled
    (adversarial: proves readers resolve by id, not name)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    names = (
        ("totally-wrong-a", "totally-wrong-b")
        if scrambled
        else (PHYS_K, PHYS_TXT)
    )
    schema = pa.schema(
        [
            pa.field(names[0], pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field(names[1], pa.string(), metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    half = n // 2
    for i, lo in enumerate((0, half)):
        hi = half if lo == 0 else n
        tbl = pa.table(
            {
                names[0]: pa.array(range(lo, hi), pa.int64()),
                names[1]: pa.array(
                    [f"word{v % 7} tail" for v in range(lo, hi)]
                ),
            },
            schema=schema,
        )
        pq.write_table(tbl, os.path.join(path, f"part-{i}.parquet"))


@pytest.fixture(params=["aligned", "scrambled"])
def id_twins(spark, tmp_path, request):
    """(plain table, ID-mode table) twins; the ID-mode files either have
    physicalName-aligned parquet names or deliberately scrambled ones."""
    plain = str(tmp_path / "plain")
    spark.range(200).selectExpr(
        "id AS k", "concat('word', cast(id % 7 AS string), ' tail') AS txt"
    ).repartition(3).write.parquet(plain)
    delta_convert(plain)

    mapped = str(tmp_path / "idmode")
    _write_id_mode_files(mapped, scrambled=request.param == "scrambled")
    delta_convert(mapped)
    _upgrade_to_mapped(mapped, _mapped_schema_string(), mode="id")
    return plain, mapped, request.param


def test_id_mode_read_resolves_by_field_id(spark, id_twins):
    plain, mapped, _ = id_twins
    pl = DeltaSnapshotLake(spark, plain, plain + "_i")
    ml = DeltaSnapshotLake(spark, mapped, mapped + "_i")
    assert ml.read().columns == ["k", "txt"]
    assert sorted(map(tuple, ml.read().collect())) == sorted(
        map(tuple, pl.read().collect())
    )


def test_id_mode_diff_and_feed(spark, id_twins):
    _, mapped, _ = id_twins
    diff = delta_snapshot_diff(spark, mapped, -1, 1)
    assert set(diff.columns) == {"k", "txt", "_change_type"}
    assert diff.count() == 200


def test_id_mode_dml_round_trips(spark, id_twins):
    """DELETE + UPSERT on an ID-mode table: logical predicates, staged
    files stamped with parquet field ids (checked in the footer), state
    equal to the plain twin's."""
    import pyarrow.parquet as pq

    from rottnest_spark.sources.delta import delta_live_files
    from rottnest_spark.sources.delta_write import (
        delta_delete_rows,
        delta_rewrite_deletes,
        delta_upsert,
    )

    plain, mapped, _ = id_twins
    ups = spark.createDataFrame(
        [(3, "patched"), (777, "new")], "k long, txt string"
    )
    for t in (plain, mapped):
        delta_delete_rows(spark, t, "k BETWEEN 10 AND 19")
        delta_upsert(spark, ups, t, ["k"])

    pl = DeltaSnapshotLake(spark, plain, plain + "_i2")
    ml = DeltaSnapshotLake(spark, mapped, mapped + "_i2")
    assert sorted(map(tuple, ml.read().collect())) == sorted(
        map(tuple, pl.read().collect())
    )
    newest = [
        f
        for f in delta_live_files(mapped, on_deletes="ignore")
        if "upserted_" in f
    ]
    assert newest
    sch = pq.ParquetFile(newest[0]).schema.to_arrow_schema()
    assert set(sch.names) == {PHYS_K, PHYS_TXT}
    got_ids = {
        sch.field(i).name: (sch.field(i).metadata or {}).get(
            b"PARQUET:field_id"
        )
        for i in range(len(sch.names))
    }
    assert got_ids == {PHYS_K: b"1", PHYS_TXT: b"2"}
    # rewrite compaction re-stamps ids so later field-id reads still work
    delta_rewrite_deletes(spark, mapped)
    assert sorted(map(tuple, ml.read().collect())) == sorted(
        map(tuple, pl.read().collect())
    )


def test_id_mode_index_build_guard(spark, id_twins):
    """Aligned names: builds + searches work (and match the plain twin).
    Scrambled names: the name-based build path would misread — refuse."""
    plain, mapped, kind = id_twins
    ml = DeltaSnapshotLake(
        spark, mapped, mapped + "_ix", brute_force_threshold=1
    )
    if kind == "scrambled":
        with pytest.raises(ValueError, match="field id"):
            ml.build_index(ExactIndex(), "k")
        return
    pl = DeltaSnapshotLake(
        spark, plain, plain + "_ix", brute_force_threshold=1
    )
    out = {}
    for name, lake in (("plain", pl), ("mapped", ml)):
        idx = ExactIndex()
        lake.build_index(idx, "k")
        out[name] = sorted(
            map(tuple, lake.search(idx, "k", 42).collect())
        )
    assert out["mapped"] == out["plain"] and len(out["plain"]) == 1
