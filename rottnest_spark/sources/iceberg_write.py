"""Minimal Apache Iceberg metadata WRITER — upgrading the S8 Iceberg
backend from read-only snapshot listing to a round-trip backend (the
reference's backends/iceberg.py is read-only over pyiceberg; this writes
the public table spec directly, Avro via the hand-rolled `avro_lite`
codec).

Emits, per the Iceberg spec (https://iceberg.apache.org/spec/):

    metadata/vN.metadata.json   table metadata: schema, snapshot log,
                                current-snapshot-id
    metadata/snap-*.avro        manifest list (one entry per manifest)
    metadata/manifest-*.avro    manifest: entries (status, data_file)
    metadata/version-hint.text  current metadata version pointer

Scope, stated plainly:
- v1 tables for data-only state; v2 row-level deletes of BOTH kinds:
  POSITIONAL via `iceberg_delete_rows` (delete files in a content=1
  manifest) and EQUALITY via `iceberg_upsert` (the Flink-CDC shape —
  one snapshot = change rows + one equality delete file of their keys,
  sequence numbers doing the hiding: O(|changes|), zero data-file
  scans). Commits are sequence-numbered (last-sequence-number + 1;
  pre-existing files keep their data sequence across the full-manifest
  rewrite). `iceberg_rewrite_deletes` materializes both kinds. This
  EXCEEDS the reference, which refuses any delete-bearing table
  (backends/iceberg.py:279-280);
- identity-partitioned tables supported (round 5): hive-laid data files,
  typed partition values in the manifests' r102 record, partition-spec
  (+partition-specs/default-spec-id) in metadata; the table schema then
  comes from the DataFrame since data files lack the partition columns
  (the hive-migrated/add_files shape a conforming reader fills from the
  partition tuple);
- each commit writes ONE full manifest of the post-commit live set
  (existing + added entries, deleted entries for removals) — spec-valid,
  trading manifest reuse for simplicity; compaction-friendly;
- commit protocol = write vN.metadata.json with exclusive-create then
  update version-hint.text: two writers racing the same version resolve
  to one winner (FileExistsError for the loser), the hint update is a
  one-line pointer swap.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from rottnest_spark.core.fs import LakeFS, LocalFS, canon_path
from rottnest_spark.core.tuning import cluster_for_hive_write
from rottnest_spark.sources.avro_lite import write_ocf
from rottnest_spark.sources.reader import uri_path_col as _uri_path

#: manifest-list entry schema (spec fields the ecosystem expects; our
#: reader consumes manifest_path + content)
MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
    ],
}

#: avro type for an iceberg partition-source type (identity transform)
_AVRO_OF_ICEBERG = {
    "long": "long",
    "int": "int",
    "double": "double",
    "float": "double",
    "boolean": "boolean",
    "string": "string",
}


def _manifest_schema(pfields: list[tuple[str, str]]) -> dict:
    """Manifest entry schema: status + data_file struct with the
    spec-required `partition` record (r102) — one nullable field per
    partition column (identity transform keeps the source type)."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None},
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
            },
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {
                                        "name": name,
                                        "type": [
                                            "null",
                                            _AVRO_OF_ICEBERG.get(t, "string"),
                                        ],
                                        "default": None,
                                    }
                                    for name, t in pfields
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "equality_ids",
                            "type": [
                                "null",
                                {"type": "array", "items": "int"},
                            ],
                            "default": None,
                        },
                    ],
                },
            },
        ],
    }


#: unpartitioned manifest entry schema (empty partition record)
MANIFEST_SCHEMA = _manifest_schema([])


def _meta_dir(table_path: str) -> str:
    return os.path.join(table_path, "metadata")


def _record_count(f: str) -> int:
    import pyarrow.parquet as pq

    try:
        return pq.ParquetFile(f).metadata.num_rows
    except Exception:
        return -1


def _current_version(meta_dir: str, fs: LakeFS) -> int:
    import re

    best = 0
    for f in fs.glob(os.path.join(meta_dir, "*.metadata.json")):
        m = re.match(r"v?(\d+)", os.path.basename(f))
        if m:
            best = max(best, int(m.group(1)))
    return best


def _iceberg_schema(parquet_file: str) -> dict:
    """Iceberg JSON schema from the parquet footer. The type map is
    PRECISE (round 11): the schemas history is now load-bearing —
    scan_with_schema_resolution casts each file to the current type and
    type promotion validates against the recorded type, so coarsening
    int32→long would make a later int→long promotion unrepresentable
    and mis-state what the files physically hold."""
    import itertools

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(parquet_file).schema_arrow
    # nested ids allocate AFTER the top-level block (round 11 — struct/
    # map/list fields are typed precisely with table-globally unique
    # ids, which is what nested-path evolution resolves by)
    counter = itertools.count(len(schema) + 1)

    def map_type(t):
        if pa.types.is_integer(t):
            return "int" if t.bit_width <= 32 else "long"
        if pa.types.is_float32(t):
            return "float"
        if pa.types.is_floating(t):
            return "double"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_boolean(t):
            return "boolean"
        if pa.types.is_date(t):
            return "date"
        if pa.types.is_timestamp(t):
            return "timestamp"
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            return "binary"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            eid = next(counter)
            return {
                "type": "list",
                "element-id": eid,
                "element": map_type(t.value_type),
                "element-required": False,
            }
        if pa.types.is_struct(t):
            fields = []
            for f in t:
                fid = next(counter)
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": False,
                        "type": map_type(f.type),
                    }
                )
            return {"type": "struct", "fields": fields}
        if pa.types.is_map(t):
            kid, vid = next(counter), next(counter)
            return {
                "type": "map",
                "key-id": kid,
                "value-id": vid,
                "key": map_type(t.key_type),
                "value": map_type(t.item_type),
                "value-required": False,
            }
        return "string"

    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": map_type(f.type),
            }
            for i, f in enumerate(schema)
        ],
    }


def _iceberg_schema_from_spark(spark_schema) -> dict:
    """Iceberg JSON schema from a Spark StructType — needed for
    partitioned creates, where the staged data files physically LACK the
    partition columns (partitionBy semantics) so the footer cannot
    supply the full schema."""

    import itertools

    counter = itertools.count(len(spark_schema.fields) + 1)

    def map_type(dt) -> object:
        from pyspark.sql import types as T

        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int"  # precise — the schemas history is load-bearing
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "timestamp"
        if isinstance(dt, T.DateType):
            return "date"
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision},{dt.scale})"
        if isinstance(dt, T.BinaryType):
            return "binary"
        if isinstance(dt, T.ArrayType):
            eid = next(counter)
            return {
                "type": "list",
                "element-id": eid,
                "element": map_type(dt.elementType),
                "element-required": False,
            }
        if isinstance(dt, T.StructType):
            fields = []
            for f in dt.fields:
                fid = next(counter)
                fields.append(
                    {
                        "id": fid,
                        "name": f.name,
                        "required": False,
                        "type": map_type(f.dataType),
                    }
                )
            return {"type": "struct", "fields": fields}
        if isinstance(dt, T.MapType):
            kid, vid = next(counter), next(counter)
            return {
                "type": "map",
                "key-id": kid,
                "value-id": vid,
                "key": map_type(dt.keyType),
                "value": map_type(dt.valueType),
                "value-required": False,
            }
        return "string"

    return {
        "type": "struct",
        "schema-id": 0,
        "fields": [
            {
                "id": i + 1,
                "name": f.name,
                "required": False,
                "type": map_type(f.dataType),
            }
            for i, f in enumerate(spark_schema.fields)
        ],
    }


def _hive_pvals(table_path: str, f: str, pfields: list[tuple[str, str]]):
    """Typed partition values for a data file from its hive path segments
    (`col=value/`) — identity transform, so values convert to the source
    column's iceberg type. Raises when a partition column is missing
    from the path (a file landed outside the layout)."""
    from urllib.parse import unquote

    rel = os.path.relpath(f, table_path)
    got: dict = {}
    for seg in rel.split(os.sep)[:-1]:
        if "=" in seg:
            k, _, v = seg.partition("=")
            got[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    out = {}
    for name, t in pfields:
        if name not in got:
            raise ValueError(
                f"data file {rel!r} lacks a hive path segment for "
                f"partition column {name!r}"
            )
        v = got[name]
        if v is None:
            out[name] = None
        elif t in ("long", "int"):
            out[name] = int(v)
        elif t in ("double", "float"):
            out[name] = float(v)
        elif t == "boolean":
            out[name] = v.lower() == "true"
        else:
            out[name] = v
    return out


def _latest_metadata(table_path: str, fs: LakeFS) -> tuple[int, dict | None]:
    """(version, metadata) of the NEWEST metadata file by filename version
    — the WRITE-path state read. Writers must not use the version-hint
    here: the hint trails the metadata create by a window, and rebasing a
    retry on hint-state while allocating glob-max+1 versions would drop
    the winner's snapshot (lost update). Reading max-version state and
    claiming exactly version+1 makes any interleaving hit the exclusive
    create and retry on fresh state."""
    meta_dir = _meta_dir(table_path)
    import re

    best_v, best_f = 0, None
    for f in fs.glob(os.path.join(meta_dir, "*.metadata.json")):
        m = re.match(r"v?(\d+)", os.path.basename(f))
        if m and int(m.group(1)) > best_v:
            best_v, best_f = int(m.group(1)), f
    if best_f is None:
        return 0, None
    return best_v, json.loads(fs.read_text(best_f))


#: change-frame casts accepted silently: equal types plus the LOSSLESS
#: widenings (never the reverse, never numeric<->decimal/string — a
#: silent lossy cast is data corruption at commit time). ntz<->ltz is
#: value-preserving under the repo's pinned UTC session tz.
_SAFE_CHANGE_CASTS = {
    ("tinyint", "bigint"), ("smallint", "bigint"), ("int", "bigint"),
    ("tinyint", "int"), ("smallint", "int"),
    ("float", "double"),
    ("timestamp", "timestamp_ntz"), ("timestamp_ntz", "timestamp"),
}


def _align_frame_types(df, want_types: dict[str, str], what: str):
    """Shared core of the change-frame TYPE guard (round 10 — the
    name-only checks let a double change column land under a decimal
    table column, committing mixed-type data files that crash every
    later multi-file scan with PARQUET_COLUMN_DATA_TYPE_MISMATCH).
    `want_types` maps column → Spark DDL type. Equal types pass;
    lossless widenings cast silently; anything else refuses loudly.
    Used by the Iceberg writers here and delta_write's upsert."""
    import re as _re

    got = dict(df.dtypes)
    for name, want in want_types.items():
        if name not in got:
            continue  # presence is the caller's name check
        have = got[name]
        if have == want:
            continue
        if "<" in have and "<" in want:
            # nested DDL strings differ cosmetically (backticked field
            # names from _spark_ddl_of_iceberg vs df.dtypes' bare
            # simpleString) — compare the PARSED types (round 11)
            from pyspark.sql.types import _parse_datatype_string

            try:
                if _parse_datatype_string(have) == _parse_datatype_string(
                    want
                ):
                    continue
            except Exception:
                pass
        if (have, want) in _SAFE_CHANGE_CASTS:
            from pyspark.sql import functions as F

            df = df.withColumn(name, F.col(name).cast(want))
            continue
        mw = _re.fullmatch(r"decimal\((\d+),(\d+)\)", want)
        mh = _re.fullmatch(r"decimal\((\d+),(\d+)\)", have)
        if mw and mh:
            pw, sw = int(mw.group(1)), int(mw.group(2))
            ph, sh = int(mh.group(1)), int(mh.group(2))
            if sw >= sh and (pw - sw) >= (ph - sh):  # lossless widen
                from pyspark.sql import functions as F

                df = df.withColumn(name, F.col(name).cast(want))
                continue
        raise ValueError(
            f"{what}: change column {name!r} is {have}, the table "
            f"column is {want} — only lossless widenings cast "
            "implicitly; cast the change DataFrame explicitly (a "
            "silent lossy cast, or committing the mismatched file, "
            "corrupts the table for every later multi-file scan)"
        )
    return df


def _align_change_frame(df, schema: dict, what: str):
    """Iceberg face of _align_frame_types: want-types from the table's
    current iceberg schema (unmappable types are left to the scan
    layer's own guards)."""
    from rottnest_spark.sources.iceberg import _spark_ddl_of_iceberg

    want: dict[str, str] = {}
    for f in schema.get("fields", []):
        try:
            want[f["name"]] = _spark_ddl_of_iceberg(f.get("type"))
        except ValueError:
            pass
    return _align_frame_types(df, want, what)


def _partition_fields(md: dict | None) -> list[dict]:
    """The default partition spec as evaluable field structs (round 10 —
    iceberg_transforms.partition_fields_from_spec): identity PLUS
    year/month/day/hour, bucket[N] (spec murmur3) and truncate[W].
    Raises on void/unknown transforms — every writer in this module
    derives r102 partition records from the field values, so silently
    dropping a declared field would commit manifests missing fields the
    spec declares (silent metadata corruption for external readers)."""
    from rottnest_spark.sources.iceberg_transforms import (
        partition_fields_from_spec,
    )

    return partition_fields_from_spec(md or {})


def _commit_snapshot(
    table_path: str,
    live: list[str],
    added: list[str],
    removed: list[str],
    fs: LakeFS,
    timestamp_ms: int | None,
    prior: dict | None,
    version: int | None = None,
    partition_by: list[str] | None = None,
    schema: dict | None = None,
    live_deletes: list[str] | None = None,
    added_deletes: list[str] | None = None,
    removed_deletes: list[str] | None = None,
    seqs: dict[str, int] | None = None,
    live_eq: list[dict] | None = None,
    added_eq: list[tuple[str, list[int]]] | None = None,
    removed_eq: list[str] | None = None,
    committer=None,
    snap_ids: dict[str, int] | None = None,
    spec_ids: dict[str, int] | None = None,
) -> int:
    """`spec_ids` carries each PRE-EXISTING file's PARTITION-SPEC id
    (round 11 — spec evolution): a file written under an older spec
    keeps its r102 record keyed/typed by THAT spec, lands in a
    per-spec data manifest whose manifest-list entry records the
    partition_spec_id, and reconstruction/pruning follow it. Files
    absent from the map (the adds) take the default spec.

    `snap_ids` carries each PRE-EXISTING file's ADDING snapshot id
    (the spec's manifest-entry semantics: "snapshot id where the file
    was added" — files absent from it get this commit's id). Preserving
    it is what keeps write-SCHEMA attribution correct across rewrites:
    rename/drop resolution maps a file's columns through the schema its
    adding snapshot recorded.

    `seqs` carries each PRE-EXISTING file's data sequence number (the
    spec's per-entry field; files absent from it — the adds — get this
    commit's sequence). `live_eq`/`added_eq` are equality delete files
    ([{path, seq, equality_ids}] carried state; (path, equality_ids)
    adds), written into the delete manifest with content=2.

    `committer(md, snapshot, version) -> None` replaces the default
    metadata PUBLISH step (exclusive-create vN.metadata.json + hint) —
    the catalog-commit seam: manifests and the manifest list are always
    written to storage here (the Iceberg REST spec keeps those
    client-side), but a REST catalog publishes via updates and a Glue
    catalog via a pointer swap instead of a storage metadata write."""
    if int((prior or {}).get("format-version") or 1) > 2:
        raise ValueError(
            f"{table_path}: format-version "
            f"{(prior or {}).get('format-version')} table — this writer "
            "commits v2 metadata (v3 requires deletion-vector writes and "
            "row-lineage fields); reads/diffs/feeds of v3 DV tables work, "
            "DML does not"
        )
    meta_dir = _meta_dir(table_path)
    fs.makedirs(meta_dir)
    if version is None:
        version = _current_version(meta_dir, fs) + 1
    snap_id = version
    # spec: every commit claims the NEXT data sequence number; entries of
    # files added earlier keep their original sequence (explicit per
    # entry — the full-manifest-per-snapshot convention mixes commits)
    commit_seq = int((prior or {}).get("last-sequence-number") or 0) + 1
    seqs = seqs or {}
    ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    added_set, removed_set = set(added), set(removed)

    # _current_schema, not the legacy `schema` key: engine-written v3
    # metadata carries only `schemas`+`current-schema-id`, and falling
    # through to the parquet-derived rebuild would silently drop field
    # ids and initial-defaults from the committed schema
    from rottnest_spark.sources.iceberg import _current_schema

    schema = schema or _current_schema(prior or {}) or (
        _iceberg_schema(live[0]) if live else {"type": "struct", "fields": []}
    )
    prior_specs = list((prior or {}).get("partition-specs") or [])
    default_sid = int((prior or {}).get("default-spec-id") or 0)
    if partition_by is not None:
        if len(prior_specs) > 1:
            raise ValueError(
                "explicit partition_by on a spec-EVOLVED table — the "
                "spec history would be overwritten; use "
                "iceberg_evolve_partition_spec instead"
            )
        if partition_by and isinstance(partition_by[0], dict):
            pfs = list(partition_by)  # pre-parsed field structs
        else:
            from rottnest_spark.sources.iceberg_transforms import (
                parse_partition_by,
            )

            pfs = parse_partition_by(list(partition_by), schema)
    else:
        pfs = _partition_fields(prior)
    field_by_name = {f["name"]: f for f in schema.get("fields", [])}
    for pf in pfs:
        if pf["source"] not in field_by_name:
            raise ValueError(
                f"partition source column {pf['source']!r} is not in the "
                "table schema"
            )
    # r102 record fields are named after the PARTITION FIELD and typed
    # by the transform's RESULT type (identity keeps the source type)
    pfields = [(pf["name"], pf["result_type"]) for pf in pfs]
    # per-spec evaluable fields for CARRIED files under older specs
    spec_ids = {canon_path(k): int(v) for k, v in (spec_ids or {}).items()}
    _pf_cache: dict[int, list] = {default_sid: pfields}

    def pfields_for(sid: int) -> list:
        if sid not in _pf_cache:
            from rottnest_spark.sources.iceberg_transforms import (
                partition_fields_from_spec,
            )

            pseudo = {
                **(prior or {}),
                "partition-spec": None,
                "partition-specs": prior_specs,
                "default-spec-id": sid,
            }
            _pf_cache[sid] = [
                (pf["name"], pf["result_type"])
                for pf in partition_fields_from_spec(pseudo)
            ]
        return _pf_cache[sid]

    def entry(
        f: str, status: int, content: int = 0, equality_ids=None,
        pfields: list = pfields,
    ) -> dict:
        if pfields and content == 0:
            try:
                partition = _hive_pvals(table_path, f, pfields)
            except ValueError:
                if status == 2:  # tombstone of a pre-layout file: no values
                    partition = {name: None for name, _ in pfields}
                else:
                    raise
        else:
            # delete files are partition-global (path-addressed positional
            # deletes carry the target file path per row) — null partition
            partition = {name: None for name, _ in pfields}
        return {
            "status": status,
            # carried files keep the snapshot that ADDED them (spec);
            # adds and tombstones stamp this commit
            "snapshot_id": (
                snap_id
                if status != 0
                else (snap_ids or {}).get(canon_path(f), snap_id)
            ),
            "sequence_number": seqs.get(canon_path(f), commit_seq),
            "data_file": {
                "content": content,
                "file_path": canon_path(f),
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": _record_count(f) if status != 2 else -1,
                "file_size_in_bytes": (
                    fs.getsize(f) if status != 2 and fs.exists(f) else -1
                ),
                "equality_ids": equality_ids,
            },
        }

    # one data manifest PER PARTITION SPEC (spec: a manifest describes
    # files of a single spec; the manifest-list entry records which) —
    # single-spec tables keep exactly one, as before
    by_spec: dict[int, list[tuple[str, int]]] = {}
    for f in sorted(live):
        sid = spec_ids.get(canon_path(f), default_sid)
        by_spec.setdefault(sid, []).append((f, 1 if f in added_set else 0))
    for f in sorted(removed_set):
        sid = spec_ids.get(canon_path(f), default_sid)
        by_spec.setdefault(sid, []).append((f, 2))
    if not by_spec:
        by_spec[default_sid] = []
    # metadata records CANONICAL paths (spec: full location URIs) — a
    # relative table_path would otherwise store relative manifest paths
    # that _rebase doubles against the absolute `location`
    ml_entries = []
    for sid in sorted(by_spec):
        pf_s = pfields_for(sid)
        entries = [
            entry(f, status, pfields=pf_s) for f, status in by_spec[sid]
        ]
        manifest = os.path.join(
            meta_dir, f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.avro"
        )
        write_ocf(manifest, _manifest_schema(pf_s), entries, fs=fs)
        ml_entries.append(
            {
                "manifest_path": canon_path(manifest),
                "content": 0,
                "spec_id": sid,
            }
        )

    # v2 merge-on-read: positional delete files live in their OWN manifest,
    # flagged content=1 in the manifest list (Iceberg spec "Delete
    # Manifests"); delete-file entries carry data_file.content=1
    live_del = sorted(set(live_deletes or []))
    added_del, removed_del = set(added_deletes or []), set(removed_deletes or [])
    eq_live = list(live_eq or [])
    eq_added = list(added_eq or [])
    eq_removed = set(removed_eq or [])
    if live_del or removed_del or eq_live or eq_added or eq_removed:
        del_entries = [
            entry(f, 1 if f in added_del else 0, content=1) for f in live_del
        ] + [entry(f, 2, content=1) for f in sorted(removed_del)]
        # carried equality deletes keep their original sequence via seqs
        del_entries += [
            entry(d["path"], 0, content=2, equality_ids=d["equality_ids"])
            for d in sorted(eq_live, key=lambda d: d["path"])
        ]
        del_entries += [
            entry(p, 1, content=2, equality_ids=ids)
            for p, ids in sorted(eq_added)
        ]
        del_entries += [
            entry(p, 2, content=2) for p in sorted(eq_removed)
        ]
        del_manifest = os.path.join(
            meta_dir, f"manifest-del-{snap_id}-{uuid.uuid4().hex[:8]}.avro"
        )
        write_ocf(del_manifest, _manifest_schema(pfields), del_entries, fs=fs)
        # always listed — status-2 tombstones are skipped by readers, the
        # same full-manifest-per-snapshot convention as the data manifest
        ml_entries.append(
            {
                "manifest_path": canon_path(del_manifest),
                "content": 1,
                "spec_id": default_sid,
            }
        )

    ml = os.path.join(meta_dir, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.avro")
    write_ocf(
        ml,
        MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": m["manifest_path"],
                "manifest_length": fs.getsize(m["manifest_path"]),
                "partition_spec_id": int(m.get("spec_id") or 0),
                "content": m["content"],
                "sequence_number": commit_seq,
                "min_sequence_number": min(
                    [commit_seq] + [int(s) for s in seqs.values()]
                ),
                "added_snapshot_id": snap_id,
            }
            for m in ml_entries
        ],
    )
    op = "append" if not removed else "overwrite"
    if added_del or eq_added:
        op = "delete"  # row-level MOR delete snapshot
    snapshot = {
        "snapshot-id": snap_id,
        "timestamp-ms": ts,
        "manifest-list": canon_path(ml),
        # the schema this snapshot was written under (spec field): time
        # travel resolves THAT schema, so columns added later don't
        # leak backwards into pinned reads
        "schema-id": int((prior or {}).get("current-schema-id") or 0),
        "summary": {"operation": op},
    }
    spec_fields = [
        {
            "name": pf["name"],
            "transform": pf["transform"],
            "source-id": pf["source_id"],
            "field-id": pf.get("field_id") or 1000 + i,
        }
        for i, pf in enumerate(pfs)
    ]
    md = {
        # row-level deletes require format v2; a table once v2 stays v2
        "format-version": (
            2
            if (
                live_del
                or eq_live
                or eq_added
                or (prior or {}).get("format-version", 1) >= 2
            )
            else 1
        ),
        "last-sequence-number": commit_seq,
        "table-uuid": (prior or {}).get("table-uuid", str(uuid.uuid4())),
        "location": canon_path(table_path),
        "last-updated-ms": ts,
        # both schema forms: `schemas`+`current-schema-id` is the
        # spec-canonical v2 shape every modern engine reads; the single
        # `schema` key is the deprecated v1 form kept for old readers.
        # Prior schemas carry forward (ids preserved) so the snapshot's
        # recorded schema-id above always resolves in this list — today
        # cur_sid is 0 for every v2 table, but a future v2 evolution
        # path must not dangle time-travel-pinned schema resolution.
        "schema": schema,
        "schemas": [
            s
            for s in (prior or {}).get("schemas") or []
            if int(s.get("schema-id") or 0)
            != int((prior or {}).get("current-schema-id") or 0)
        ]
        + [
            {
                **schema,
                "schema-id": int(
                    (prior or {}).get("current-schema-id") or 0
                ),
            }
        ],
        "current-schema-id": int(
            (prior or {}).get("current-schema-id") or 0
        ),
        # spec evolution (round 11): an evolved table's spec history
        # carries forward verbatim; unevolved/create paths record the
        # single default spec (spec-id 0), as before
        "partition-spec": spec_fields,
        "partition-specs": (
            prior_specs
            if len(prior_specs) > 1
            else [{"spec-id": default_sid, "fields": spec_fields}]
        ),
        "default-spec-id": default_sid,
        "current-snapshot-id": snap_id,
        "snapshots": ((prior or {}).get("snapshots") or []) + [snapshot],
    }
    if committer is not None:
        committer(md, snapshot, version)
        return snap_id
    md_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    # exclusive-create version-claim commit THROUGH the FS seam: O_EXCL
    # locally, the store's conditional PUT remotely (same discipline as
    # the Delta log writer and the versioned index catalog)
    fs.create_exclusive(md_path, json.dumps(md).encode())
    fs.write_text(os.path.join(meta_dir, "version-hint.text"), str(version))
    return snap_id


def iceberg_convert(
    table_path: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Convert a plain parquet directory into an Iceberg table: snapshot 1
    adds every existing data file. Returns the snapshot id."""
    fs = fs or LocalFS()
    if fs.isdir(_meta_dir(table_path)) and fs.glob(
        os.path.join(_meta_dir(table_path), "*.metadata.json")
    ):
        raise ValueError(f"{table_path} already has Iceberg metadata")
    data = sorted(
        f
        for f in fs.list_files(table_path)
        if f.endswith(".parquet") and f"{os.sep}metadata{os.sep}" not in f
    )
    if not data:
        raise ValueError(f"{table_path} has no parquet data files to convert")
    return _commit_snapshot(
        table_path, data, data, [], fs, timestamp_ms, prior=None
    )


def iceberg_commit(
    table_path: str,
    add: list[str] | None = None,
    remove: list[str] | None = None,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
    add_deletes: list[str] | None = None,
    remove_deletes: list[str] | None = None,
    add_eq_deletes: list[tuple[str, list[int]]] | None = None,
    remove_eq_deletes: list[str] | None = None,
    prior_state: tuple[int, dict] | None = None,
    committer=None,
) -> int:
    """Commit a file change set as a new snapshot (prior snapshots
    stay in the log — `iceberg_history_files` time travel works over
    them). Returns the new snapshot id.

    `prior_state` = (version, metadata) overrides the storage-resolved
    base state — the catalog seam: REST/Glue commits plan against the
    CATALOG's current metadata (which may be ahead of storage's
    version-hint) and publish through `committer` (see _commit_snapshot)
    instead of the vN.metadata.json exclusive-create.

    `add_deletes` / `remove_deletes` change the POSITIONAL delete-file
    set (v2 merge-on-read); live delete files of the prior snapshot are
    carried forward untouched unless removed.

    Base state comes from the NEWEST metadata file (not the version
    hint), and the commit claims exactly that version + 1 — so a
    concurrent winner's snapshot can never be rebased away (see
    `_latest_metadata`); the loser's exclusive create fails and
    `iceberg_commit_retry` re-reads."""
    from rottnest_spark.sources.iceberg import _snapshot_state

    fs = fs or LocalFS()
    if prior_state is not None:
        prior_version, prior = prior_state
    else:
        prior_version, prior = _latest_metadata(table_path, fs)
    if prior is None:
        raise ValueError(
            f"{table_path} is not an Iceberg table — iceberg_convert first"
        )
    snaps = prior.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = prior.get("current-snapshot-id")
    if cur in by_id:
        st = _snapshot_state(prior, by_id[cur], table_path, fs)
    else:
        st = {"data": {}, "pos_deletes": {}, "eq_deletes": [], "dvs": {}, "data_snap": {}, "data_info": {}, "data_spec": {}}
    # canon the live sets: callers pass canon'd (often _metadata-derived
    # absolute) paths while _rebase outputs are relative whenever
    # table_path is — unnormalized membership checks either reject valid
    # removals or silently keep removed files live
    live = {canon_path(f) for f in st["data"]}
    live_del = {canon_path(f) for f in st["pos_deletes"]}
    # pre-existing files keep their data sequence numbers in the rewrite;
    # CANONICAL keys — entry() looks up canon_path(f), while _rebase
    # outputs are relative whenever table_path is relative, and a missed
    # lookup would silently re-stamp carried files with the NEW sequence
    # (un-gating every equality delete)
    seqs = {
        canon_path(k): v
        for k, v in {**st["data"], **st["pos_deletes"]}.items()
    }
    seqs.update(
        {canon_path(d["path"]): d["seq"] for d in st["eq_deletes"]}
    )
    # carried files keep their ADDING snapshot id (write-schema
    # attribution for rename/drop resolution survives the rewrite)
    snap_ids = {
        canon_path(k): int(v) for k, v in (st.get("data_snap") or {}).items()
    }
    # ... and their PARTITION SPEC id (spec-evolution attribution)
    spec_ids = {
        canon_path(k): int(v) for k, v in (st.get("data_spec") or {}).items()
    }
    add = [canon_path(f) for f in (add or [])]
    remove = [canon_path(f) for f in (remove or [])]
    add_del = [canon_path(f) for f in (add_deletes or [])]
    remove_del = [canon_path(f) for f in (remove_deletes or [])]
    add_eq = [
        (canon_path(p), [int(i) for i in ids])
        for p, ids in (add_eq_deletes or [])
    ]
    remove_eq = {canon_path(f) for f in (remove_eq_deletes or [])}
    if not any((add, remove, add_del, remove_del, add_eq, remove_eq)):
        raise ValueError("empty commit — nothing to add or remove")
    missing = [f for f in remove if f not in live]
    if missing:
        raise ValueError(f"cannot remove files not in the snapshot: {missing}")
    missing_del = [f for f in remove_del if f not in live_del]
    if missing_del:
        raise ValueError(
            f"cannot remove delete files not in the snapshot: {missing_del}"
        )
    eq_paths = {canon_path(d["path"]) for d in st["eq_deletes"]}
    missing_eq = [f for f in remove_eq if f not in eq_paths]
    if missing_eq:
        raise ValueError(
            f"cannot remove equality delete files not in the snapshot: "
            f"{missing_eq}"
        )
    new_live = sorted((live - set(remove)) | set(add))
    new_del = sorted((live_del - set(remove_del)) | set(add_del))
    live_eq = [
        d for d in st["eq_deletes"] if canon_path(d["path"]) not in remove_eq
    ]
    return _commit_snapshot(
        table_path, new_live, add, remove, fs, timestamp_ms, prior=prior,
        version=prior_version + 1,
        live_deletes=new_del, added_deletes=add_del,
        removed_deletes=remove_del,
        seqs=seqs, live_eq=live_eq, added_eq=add_eq,
        removed_eq=sorted(remove_eq),
        committer=committer, snap_ids=snap_ids, spec_ids=spec_ids,
    )


def iceberg_commit_retry(
    table_path: str,
    add: list[str] | None = None,
    remove: list[str] | None = None,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
    max_retries: int = 20,
    add_deletes: list[str] | None = None,
    remove_deletes: list[str] | None = None,
    add_eq_deletes: list[tuple[str, list[int]]] | None = None,
    remove_eq_deletes: list[str] | None = None,
    require_live: list[str] | None = None,
    require_delete_state: tuple | None = None,
) -> int:
    """Optimistic-concurrency snapshot commit (the delta_commit_retry
    discipline): on losing the vN.metadata.json exclusive-create race,
    re-read the (now newer) table state and retry — pure adds retry
    blindly; removals are revalidated by iceberg_commit itself against
    the fresh snapshot.

    Row-level-delete writers need Iceberg's validateDataFilesExist /
    validateNoNewDeleteFiles analogs, enforced BEFORE EVERY attempt
    (including the first — a concurrent commit landing between the
    caller's planning read and this call must conflict too, not just a
    version race):
    - `require_live`: data files this commit's content was computed
      FROM; any of them now missing means our delete positions address
      dead paths — raise rather than commit a silent no-op delete.
    - `require_delete_state`: the (frozenset pos-delete paths,
      frozenset (eq path, seq)) state the caller PLANNED against —
      abspath-normalized; a difference means a concurrent row-level
      delete landed, and committing a rewrite planned without it would
      resurrect its deleted rows."""
    from rottnest_spark.sources.iceberg import _snapshot_state

    fs = fs or LocalFS()
    validate = bool(require_live or require_delete_state is not None)

    def _fresh_state():
        _, prior = _latest_metadata(table_path, fs)
        by_id = {
            s["snapshot-id"]: s for s in (prior or {}).get("snapshots") or []
        }
        cur = (prior or {}).get("current-snapshot-id")
        if cur not in by_id:
            return frozenset(), frozenset(), frozenset()
        st = _snapshot_state(prior, by_id[cur], table_path, fs)
        return (
            frozenset(canon_path(f) for f in st["data"]),
            frozenset(canon_path(f) for f in st["pos_deletes"]),
            frozenset(
                (canon_path(d["path"]), int(d["seq"]))
                for d in st["eq_deletes"]
            ),
        )

    last: Exception | None = None
    for attempt in range(max_retries):
        if validate:
            fresh = _fresh_state()
            if require_live:
                gone = [
                    f
                    for f in require_live
                    if canon_path(f) not in fresh[0]
                ]
                if gone:
                    raise ValueError(
                        "concurrent writer removed data files this "
                        f"commit's content was computed from: {gone[:3]} "
                        "— re-plan against the new snapshot"
                    ) from last
            if require_delete_state is not None and (
                fresh[1],
                fresh[2],
            ) != tuple(require_delete_state):
                raise ValueError(
                    "concurrent writer changed the row-level delete "
                    "state this commit was planned against — re-plan "
                    "against the new snapshot (committing blindly would "
                    "resurrect the other writer's deleted rows)"
                ) from last
        try:
            return iceberg_commit(
                table_path, add=add, remove=remove, fs=fs,
                timestamp_ms=timestamp_ms,
                add_deletes=add_deletes, remove_deletes=remove_deletes,
                add_eq_deletes=add_eq_deletes,
                remove_eq_deletes=remove_eq_deletes,
            )
        except FileExistsError as exc:
            last = exc
    raise TimeoutError(
        f"could not claim a metadata version after {max_retries} retries"
    ) from last


def iceberg_write(
    df,
    table_path: str,
    mode: str = "error",
    fs: LakeFS | None = None,
    partition_by: list[str] | None = None,
) -> int:
    """Write a DataFrame as a new Iceberg table or append to one (the
    delta_write staging discipline: stage parquet, move parts in, commit
    the adds). Returns the snapshot id.

    `partition_by` creates an identity-partitioned v1 table: data files
    land hive-laid under data/col=value/, manifests carry the
    spec-required partition record (r102) with TYPED values, metadata
    records partition-spec(+specs) — and the table schema comes from
    `df` (data files physically lack the partition columns, like a
    hive-migrated/add_files Iceberg table; IcebergSnapshotLake.read
    reconstructs them from the manifests). Appends inherit the table's
    spec; a conflicting explicit spec raises."""
    assert mode in ("error", "append")
    fs = fs or LocalFS()
    meta_dir = _meta_dir(table_path)
    exists = fs.isdir(meta_dir) and bool(
        fs.glob(os.path.join(meta_dir, "*.metadata.json"))
    )
    if mode == "error" and exists:
        raise ValueError(f"{table_path} is already an Iceberg table")
    if mode == "append" and not exists:
        raise ValueError(f"{table_path} is not an Iceberg table")
    from rottnest_spark.sources.iceberg_transforms import (
        parse_partition_by,
        stage_partitioned,
    )

    prior = None
    if exists:
        from rottnest_spark.sources.iceberg import _current_schema

        _, prior = _latest_metadata(table_path, fs)
        pfs = _partition_fields(prior)
        # appended frames must TYPE-match the table (lossless widenings
        # cast; anything else refuses — a drifted file poisons every
        # later multi-file scan)
        df = _align_change_frame(
            df, _current_schema(prior), "iceberg_write(append)"
        )
        if partition_by is not None:
            want = parse_partition_by(
                list(partition_by), _current_schema(prior)
            )
            have = [(pf["transform"], pf["source"]) for pf in pfs]
            if [(w["transform"], w["source"]) for w in want] != have:
                raise ValueError(
                    f"partition_by={list(partition_by)} conflicts with "
                    f"the table's partition spec {have}"
                )
    elif partition_by:
        pfs = parse_partition_by(
            list(partition_by), _iceberg_schema_from_spark(df.schema)
        )
    else:
        pfs = []
    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")
    staged, pnames = stage_partitioned(df, pfs)
    if pnames:
        cluster_for_hive_write(staged, pnames).write.partitionBy(
            *pnames
        ).parquet(stage)
    else:
        df.write.parquet(stage)
    moved = []
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        segs = os.path.relpath(f, stage).split(os.sep)
        leaf = segs[-1]
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        dst = os.path.join(
            table_path, "data", *segs[:-1], f"{uuid.uuid4().hex}.parquet"
        )
        fs.makedirs(os.path.dirname(dst))
        fs.rename(f, dst)
        moved.append(dst)
    fs.rmtree(stage)
    if not exists:
        if pfs:
            return _commit_snapshot(
                table_path,
                sorted(moved),
                sorted(moved),
                [],
                fs,
                None,
                prior=None,
                partition_by=pfs,
                schema=_iceberg_schema_from_spark(df.schema),
            )
        return iceberg_convert(table_path, fs=fs)
    # a pure-add append commutes with concurrent appends: win through
    # version races the same way the delta_write path does. v3 tables
    # (deletion vectors / initial-defaults upgraded them) take the v3
    # append commit — the v2 tail correctly refuses them
    if int((prior or {}).get("format-version") or 1) >= 3:
        return iceberg_v3_append(table_path, moved, fs=fs)
    return iceberg_commit_retry(table_path, add=moved, fs=fs)


def _adopt_staged(table_path: str, stage: str, fs: LakeFS) -> list[str]:
    """Move a staged write's parquet files (hive dirs preserved) under
    <table>/data/ with fresh uuid leaf names; returns the moved paths.
    The stage dir is removed."""
    moved = []
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        segs = os.path.relpath(f, stage).split(os.sep)
        leaf = segs[-1]
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        dst = os.path.join(
            table_path, "data", *segs[:-1], f"{uuid.uuid4().hex}.parquet"
        )
        fs.makedirs(os.path.dirname(dst))
        fs.rename(f, dst)
        moved.append(dst)
    fs.rmtree(stage)
    return moved


def iceberg_delete_rows(
    spark,
    table_path: str,
    predicate,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Row-level DELETE as merge-on-read: write a POSITIONAL delete file
    (parquet columns `file_path` string, `pos` long — the Iceberg spec's
    position-delete schema) and commit it in a delete manifest, leaving
    every data file untouched. EXCEEDS the reference, which refuses
    delete-bearing tables entirely (backends/iceberg.py:279-280).

    `predicate` is a Column or SQL string over the table's PHYSICAL
    columns. Matching rows already covered by existing delete files are
    excluded (the delete file stays minimal and a repeated call is a
    metadata no-op). Returns the new snapshot id, or the current one when
    nothing matches.

    Plan shape: one scan of the data files with `_metadata` row addresses
    (predicate pushed to parquet), one anti-join against existing delete
    pairs, one clustered-by-file write — no driver-side row state."""
    from pyspark.sql import functions as F

    from rottnest_spark.sources.iceberg import (
        _current_metadata,
        snapshot_state_from_metadata,
    )

    fs = fs or LocalFS()
    # full state, not the eq-refusing live listing: positional deletes
    # COMPOSE with equality state (positions computed for rows an eq
    # delete already hides are harmless duplicates; the commit carries
    # the eq files forward)
    _md_guard = _current_metadata(table_path, fs)
    check_single_spec(_md_guard, table_path, fs, "iceberg_delete_rows")
    _st = snapshot_state_from_metadata(_md_guard, table_path, fs)
    data, dels = sorted(_st["data"]), sorted(_st["pos_deletes"])
    if not data:
        raise ValueError(f"{table_path} has no live data files")
    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    pairs = (
        spark.read.parquet(*data)
        .filter(predicate if not isinstance(predicate, str) else F.expr(predicate))
        .select(
            _uri_path(F.col("_metadata.file_path")).alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
    )
    if dels:
        from rottnest_spark.sources.iceberg import delete_pairs_df

        _, md = _latest_metadata(table_path, fs)
        prior = delete_pairs_df(
            spark, dels, location=(md or {}).get("location", ""),
            table_path=table_path,
        ).select(
            F.col("__del_path").alias("file_path"),
            F.col("__del_pos").alias("pos"),
        )
        pairs = pairs.join(prior, ["file_path", "pos"], "left_anti")
    if pairs.isEmpty():
        _, prior_md = _latest_metadata(table_path, fs)
        return (prior_md or {}).get("current-snapshot-id", -1)

    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")
    (
        pairs.repartition("file_path")
        .sortWithinPartitions("file_path", "pos")
        .write.parquet(stage)
    )
    moved = []
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        leaf = os.path.basename(f)
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        dst = os.path.join(
            table_path, "data", f"delete-{uuid.uuid4().hex}.parquet"
        )
        fs.rename(f, dst)
        moved.append(dst)
    fs.rmtree(stage)
    # the files our positions address (cheap: the staged pairs are tiny)
    affected = [
        r.file_path
        for r in spark.read.parquet(*moved)
        .select("file_path")
        .distinct()
        .collect()
    ]
    return iceberg_commit_retry(
        table_path, fs=fs, timestamp_ms=timestamp_ms, add_deletes=moved,
        require_live=affected,
    )


def iceberg_rewrite_deletes(
    spark,
    table_path: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Compact merge-on-read state back to pure data files: rewrite ONLY
    the data files that have matching positional-delete rows (untouched
    files keep their bytes and their indexes), drop every delete file,
    commit one snapshot. After this the index layer accepts the table
    again (`IcebergSnapshotLake.files` refuses delete-bearing snapshots).

    Hive-partitioned layouts are preserved: rewritten files land in the
    same `data/col=value/` directory as the file they replace, so the
    manifests' partition records stay derivable from the path.

    EQUALITY deletes (iceberg_upsert's state) are materialized too:
    affected files are found by a sequence-gated key semi-join (one
    scan of candidate files), rewritten with BOTH delete kinds applied,
    and every delete file of either kind is dropped."""
    from pyspark.sql import functions as F

    from rottnest_spark.sources.iceberg import (
        _current_metadata,
        apply_equality_deletes,
        delete_pairs_df,
        snapshot_state_from_metadata,
    )

    fs = fs or LocalFS()
    md = _current_metadata(table_path, fs)
    check_single_spec(md, table_path, fs, "iceberg_rewrite_deletes")
    state = snapshot_state_from_metadata(md, table_path, fs)
    data = sorted(state["data"])
    dels = sorted(state["pos_deletes"])
    eqs = state["eq_deletes"]
    if not dels and not eqs:
        _, prior_md = _latest_metadata(table_path, fs)
        return (prior_md or {}).get("current-snapshot-id", -1)
    loc = md.get("location", "")

    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731

    def _tagged(files):
        return spark.read.parquet(*files).withColumns(
            {
                "__path": _uri_path(F.col("_metadata.file_path")),
                "__pos": F.col("_metadata.row_index"),
            }
        )

    touched: set[str] = set()
    if dels:
        touched |= {
            r["__del_path"]
            for r in delete_pairs_df(
                spark, dels, location=loc, table_path=table_path
            )
            .select("__del_path")
            .distinct()
            .collect()  # metadata-scale: bounded by file count, not rows
        }
    if eqs:
        # files a SEQUENCE-GATED key match could touch = the distinct
        # paths of the equality deletes' positional projection (which
        # footer-prunes candidates per key set — one bounded scan, not
        # a survivors-count pass over every older file)
        from rottnest_spark.sources.iceberg import equality_delete_positions

        touched |= {
            r["__path"]
            for r in equality_delete_positions(spark, state, md)
            .select("__path")
            .distinct()
            .collect()  # metadata-scale: bounded by file count
        }
    # canon both sides: touched paths come from _metadata / delete-file
    # contents (absolute) while state keys are relative whenever
    # table_path is — an uncanonicalized intersection silently empties
    touched = {canon_path(t) for t in touched}
    affected = sorted(f for f in data if canon_path(f) in touched)
    eq_paths = sorted(d["path"] for d in eqs)
    if not affected:
        return iceberg_commit_retry(
            table_path, fs=fs, timestamp_ms=timestamp_ms,
            remove_deletes=dels, remove_eq_deletes=eq_paths,
            require_delete_state=(
                frozenset(canon_path(f) for f in dels),
                frozenset(
                    (canon_path(d["path"]), int(d["seq"]))
                    for d in eqs
                ),
            ),
        )

    # ONE Spark job for every affected file (round 9 — the former
    # per-containing-dir loop ran one sequential job per partition dir:
    # 10³ partitions = 10³ jobs, a driver wall at scale): decode the
    # positional pairs once, anti-join + equality-apply in one scan,
    # and on partitioned tables broadcast-attach each file's partition
    # values (authoritative from the prior manifests) so the staged
    # write partitionBy's them back OFF into hive `col=value/` dirs —
    # the commit's entry() re-derives identical r102 values from the
    # moved paths under data/.
    added = []
    shared_pairs = None
    if dels and affected:
        shared_pairs = (
            delete_pairs_df(spark, dels, location=loc, table_path=table_path)
            .localCheckpoint(eager=True)
            .select(
                F.col("__del_path").alias("__path"),
                F.col("__del_pos").alias("__pos"),
            )
        )
    df = _tagged(affected)
    if shared_pairs is not None:
        df = df.join(shared_pairs, ["__path", "__pos"], "left_anti")
    if eqs:
        df = apply_equality_deletes(spark, df, state, md)
    pfields = _pfields_from_md(md)
    if pfields:
        from rottnest_spark.sources.iceberg import live_adds_from_metadata

        adds_pv = {
            canon_path(p): v
            for p, v in live_adds_from_metadata(md, table_path, fs).items()
        }
        _spark_of = {
            "long": "bigint", "int": "int", "double": "double",
            "float": "float", "boolean": "boolean", "string": "string",
        }
        pv_schema = ", ".join(
            ["__path string"]
            + [f"`{c}` {_spark_of.get(t, 'string')}" for c, t in pfields]
        )
        from rottnest_spark.core.smalldf import local_df

        pv_df = local_df(
            spark,
            [
                tuple(
                    [canon_path(f)]
                    + [
                        adds_pv.get(canon_path(f), {}).get(c)
                        for c, _ in pfields
                    ]
                )
                for f in affected
            ],
            pv_schema,
        )
        df = df.join(F.broadcast(pv_df), "__path")
    df = df.drop("__path", "__pos")
    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")
    if pfields:
        pdirs = [c for c, _ in pfields]
        cluster_for_hive_write(df, pdirs).write.partitionBy(
            *pdirs
        ).parquet(stage)
    else:
        df.write.parquet(stage)
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        leaf = os.path.basename(f)
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        sub = os.path.dirname(os.path.relpath(f, stage))
        dst = os.path.join(
            table_path, "data", sub, f"{uuid.uuid4().hex}.parquet"
        )
        fs.makedirs(os.path.dirname(dst))
        fs.rename(f, dst)
        added.append(dst)
    fs.rmtree(stage)
    planned_state = (
        frozenset(canon_path(f) for f in dels),
        frozenset(
            (canon_path(d["path"]), int(d["seq"])) for d in eqs
        ),
    )
    return iceberg_commit_retry(
        table_path,
        add=added,
        remove=affected,
        fs=fs,
        timestamp_ms=timestamp_ms,
        remove_deletes=dels,
        remove_eq_deletes=eq_paths,
        require_delete_state=planned_state,
    )


def _walk_field_ids(t) -> list[int]:
    """Every field/element/key/value id a type carries (spec: ids are
    table-global and must never be reused)."""
    out: list[int] = []
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            for f in t.get("fields", []):
                if f.get("id") is not None:
                    out.append(int(f["id"]))
                out += _walk_field_ids(f.get("type"))
        elif kind == "list":
            if t.get("element-id") is not None:
                out.append(int(t["element-id"]))
            out += _walk_field_ids(t.get("element"))
        elif kind == "map":
            for k in ("key-id", "value-id"):
                if t.get(k) is not None:
                    out.append(int(t[k]))
            out += _walk_field_ids(t.get("key"))
            out += _walk_field_ids(t.get("value"))
    return out


def iceberg_add_column(
    table_path: str,
    name: str,
    ice_type,
    initial_default=None,
    write_default=None,
    doc: str | None = None,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """ADD COLUMN as a METADATA-ONLY commit (spec schema evolution: new
    metadata version, same snapshot — zero data files touched). The new
    field gets the next unused table-global field id; the schema lands
    in BOTH forms (spec-canonical `schemas`+`current-schema-id` with a
    bumped schema-id, plus the deprecated single `schema` key for old
    readers). Existing rows READ the default — null when none given —
    through the v3 fill machinery (scan_with_initial_defaults: every
    pre-evolution file lacks the column physically; the footer-grouped
    scan is the only mixed-file-safe way to surface it), and the table
    upgrades to format-version 3 (the spec gates default values on v3;
    v3 appends/DML take over — iceberg_write(mode='append') routes
    automatically). `ice_type` is an iceberg type string ('long',
    'decimal(10,2)', ...) or a nested type dict (struct/list/map —
    nested defaults follow the Appendix-D single-value JSON). The
    default VALUE is validated eagerly against the type — a commit that
    every later read refuses on would brick the table.

    Appends of old-shape frames keep working (files missing the column
    fill the default at read — exactly Iceberg's evolution semantics);
    upserts name-check against the NEW schema, so change frames must
    carry the column from now on. Returns the new metadata version."""
    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    schema, last_id = evolved_schema_add(
        md, name, ice_type, initial_default, write_default, doc
    )
    out = _evolved_metadata(md, schema, timestamp_ms)
    out["last-column-id"] = last_id
    # default values are a v3 feature (spec) — evolution through this
    # writer always records one (explicit null included), so the table
    # upgrades; appends route through iceberg_v3_append automatically
    out["format-version"] = max(3, int(md.get("format-version") or 1))
    new_version = version + 1
    md_path = os.path.join(
        _meta_dir(table_path), f"v{new_version}.metadata.json"
    )
    fs.create_exclusive(md_path, json.dumps(out).encode())
    fs.write_text(
        os.path.join(_meta_dir(table_path), "version-hint.text"),
        str(new_version),
    )
    return new_version


def evolved_schema_add(
    md: dict,
    name: str,
    ice_type,
    initial_default=None,
    write_default=None,
    doc: str | None = None,
) -> tuple[dict, int]:
    """(evolved schema, new last-column-id) an ADD commits — pure
    surgery + validation (shared by the storage writer above and the
    REST/Glue catalog paths)."""
    from rottnest_spark.sources.iceberg import (
        _current_schema,
        _nested_default_column,
        _parse_default,
        _spark_ddl_of_iceberg,
    )

    schema = json.loads(json.dumps(_current_schema(md)))  # deep copy
    # `name` may be a DOT PATH ('info.city' — round 11): the new field
    # lands inside an existing struct, old files resolve it by nested
    # field id (_resolve_evolved_column fills the default / typed null)
    siblings, leaf = _walk_to_parent(schema, name)
    if any(f["name"] == leaf for f in siblings):
        raise ValueError(f"column {name!r} already exists")
    _spark_ddl_of_iceberg(ice_type)  # validates the type is readable
    # ids must be fresh vs the WHOLE schema history + last-column-id
    # (spec: ids are never reused) — maxing over only the current
    # schema would re-mint a dropped field's id when the dropped field
    # held the table maximum, silently resurrecting its stale physical
    # values in every old file
    ids = [int(md.get("last-column-id") or 0)]
    for s in (md.get("schemas") or []) + [schema]:
        for f in s.get("fields", []):
            if f.get("id") is not None:
                ids.append(int(f["id"]))
            ids += _walk_field_ids(f.get("type"))
    new_id = max(ids, default=0) + 1
    field: dict = {
        "id": new_id,
        "name": leaf,
        "required": False,  # a required add would break existing rows
        "type": ice_type,
    }
    if doc:
        field["doc"] = doc
    if initial_default is not None:
        # validate the value parses the way every reader will parse it
        if isinstance(ice_type, str):
            _parse_default(leaf, ice_type, initial_default)
        else:
            _nested_default_column(leaf, ice_type, initial_default)
    # ALWAYS record the initial-default (explicit null when none given):
    # the marker is what routes reads through the footer-grouped fill,
    # which is the only mixed-file-safe way to surface the column — a
    # naive union scan of pre/post-evolution files either drops the
    # column or types it from whichever footer Spark samples
    field["initial-default"] = initial_default
    field["write-default"] = (
        write_default if write_default is not None else initial_default
    )
    siblings.append(field)
    last_id = max([new_id] + _walk_field_ids(ice_type))
    return schema, last_id


def _walk_to_parent(schema: dict, path: str) -> tuple[list, str]:
    """Navigate a dot path ('a.b.c') through STRUCT types in a schema
    deep-copy, returning (parent's fields list, leaf name) — the seam
    every nested-path evolution writer edits in place (round 11).
    Traversal is struct-only: a path through a list element or map
    value refuses loudly (the spec addresses those by element/value id,
    not by name — a name grammar there would be a guess), as does a
    missing segment or a primitive mid-path."""
    segs = path.split(".")
    fields = schema.setdefault("fields", [])
    for i, seg in enumerate(segs[:-1]):
        field = next((f for f in fields if f["name"] == seg), None)
        if field is None:
            raise ValueError(
                f"path {path!r}: no column {seg!r} at "
                f"{'.'.join(segs[:i]) or 'top level'} "
                f"({[f['name'] for f in fields]})"
            )
        t = field.get("type")
        if isinstance(t, str):
            raise ValueError(
                f"path {path!r}: {'.'.join(segs[: i + 1])!r} is a "
                f"primitive ({t}) — cannot navigate further"
            )
        if t.get("type") != "struct":
            raise ValueError(
                f"path {path!r}: {'.'.join(segs[: i + 1])!r} is a "
                f"{t.get('type')} — nested evolution addresses struct "
                "fields only (list/map element paths are not supported)"
            )
        fields = t.setdefault("fields", [])
    return fields, segs[-1]


def _partition_source_ids(md: dict) -> set[int]:
    """Field ids the default partition spec sources from — renaming,
    dropping, or retyping one would detach the spec (and the hive
    layout) from the schema; every evolution writer refuses them."""
    specs = md.get("partition-specs")
    if specs:
        want = md.get("default-spec-id", 0)
        spec = next(
            (s for s in specs if s.get("spec-id") == want),
            specs[0],
        )
        pf = spec.get("fields", [])
    else:
        pf = md.get("partition-spec") or []
    return {
        int(f["source-id"]) for f in pf if f.get("source-id") is not None
    }


def _evolved_metadata(
    md: dict, schema: dict, timestamp_ms: int | None
) -> dict:
    """The full metadata document a schema evolution commits: `schema`
    appended to the canonical schemas list under a bumped schema-id
    (field ids preserved by the caller), the deprecated single `schema`
    key synced, last-updated-ms stamped. Shared by the storage writer
    (_commit_evolved_schema) and the Glue pointer-swap path."""
    out = dict(md)
    prior_schemas = list(md.get("schemas") or [])
    if not prior_schemas:
        from rottnest_spark.sources.iceberg import _current_schema

        prior = _current_schema(md)
        if prior.get("fields"):
            prior_schemas = [
                {**prior, "schema-id": int(prior.get("schema-id") or 0)}
            ]
    new_sid = next_schema_id(md)
    schema = {**schema, "schema-id": new_sid}
    out["schemas"] = prior_schemas + [schema]
    out["current-schema-id"] = new_sid
    out["schema"] = schema  # deprecated form, kept in sync
    out["last-updated-ms"] = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    return out


def next_schema_id(md: dict) -> int:
    """The schema-id the next evolution commit takes (max over the
    history + the current id, plus one)."""
    return (
        max(
            [
                int(s.get("schema-id") or 0)
                for s in md.get("schemas") or []
            ]
            + [int(md.get("current-schema-id") or 0)],
            default=0,
        )
        + 1
    )


def _commit_evolved_schema(
    table_path: str,
    fs: LakeFS,
    md: dict,
    version: int,
    schema: dict,
    timestamp_ms: int | None,
) -> int:
    """Shared METADATA-ONLY evolution commit (rename/drop, round 11):
    append `schema` to the canonical schemas list under a bumped
    schema-id — field ids inside are PRESERVED by the caller, which is
    what keeps old files, time-travel pins, and equality-delete field
    references resolvable — sync the deprecated single `schema` key,
    and exclusive-create the next metadata version. A legacy metadata
    without a `schemas` list first seeds it with the prior current
    schema so the rename history stays reconstructable."""
    out = _evolved_metadata(md, schema, timestamp_ms)
    new_version = version + 1
    md_path = os.path.join(
        _meta_dir(table_path), f"v{new_version}.metadata.json"
    )
    fs.create_exclusive(md_path, json.dumps(out).encode())
    fs.write_text(
        os.path.join(_meta_dir(table_path), "version-hint.text"),
        str(new_version),
    )
    return new_version


def iceberg_rename_column(
    table_path: str,
    old: str,
    new: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """RENAME COLUMN as a METADATA-ONLY commit (spec schema evolution:
    renames preserve the FIELD ID, so every existing data file — which
    carries the name its write-time schema used — keeps resolving
    through the schema history; scan_with_schema_resolution maps former
    names back at read, and a time-travel pin at a pre-rename snapshot
    resolves the OLD schema and surfaces the old name). `old` may be a
    DOT PATH into struct fields ('info.city' — round 11, nested
    evolution; the nested field id is preserved the same way and reads
    resolve through _resolve_evolved_column); `new` is always a SIMPLE
    name within the same parent. Partition source fields are refused at
    any depth (the spec keys the partition spec on source ids; the hive
    layout additionally addresses identity values by column name).
    Returns the new metadata version."""
    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    schema = evolved_schema_rename(md, old, new)
    return _commit_evolved_schema(
        table_path, fs, md, version, schema, timestamp_ms
    )


def evolved_schema_rename(md: dict, old: str, new: str) -> dict:
    """The evolved schema a RENAME commits — pure surgery + validation
    over `md`'s current schema (shared by the storage writer above and
    the REST/Glue catalog-evolution paths, round 11)."""
    from rottnest_spark.sources.iceberg import _current_schema

    if "." in new:
        raise ValueError(
            f"new name {new!r} must be a simple name — a rename cannot "
            "move a field between structs"
        )
    schema = json.loads(json.dumps(_current_schema(md)))  # deep copy
    siblings, leaf = _walk_to_parent(schema, old)
    names = [f["name"] for f in siblings]
    if leaf not in names:
        raise ValueError(f"column {old!r} does not exist ({names})")
    if new in names:
        raise ValueError(f"column {new!r} already exists beside {old!r}")
    field = next(f for f in siblings if f["name"] == leaf)
    if field.get("id") is None:
        raise ValueError(
            f"column {old!r} has no field id — rename history would be "
            "unreconstructable; refusing"
        )
    if int(field["id"]) in _partition_source_ids(md):
        raise ValueError(
            f"cannot rename partition source column {old!r}"
        )
    _partition_fields(md)  # the spec must stay evaluable post-commit
    field["name"] = new  # id, type, defaults — everything else stays
    return schema


#: spec "Schema Evolution" legal primitive promotions (v2 set): the
#: value space only WIDENS, so existing files read losslessly under the
#: new type. decimal handled separately (scale fixed, precision grows).
_LEGAL_PROMOTIONS = {("int", "long"), ("float", "double")}

_DEC_RE = __import__("re").compile(r"decimal\((\d+),\s*(\d+)\)")


def _promotion_legal(old: str, new: str) -> bool:
    if (old, new) in _LEGAL_PROMOTIONS:
        return True
    mo, mn = _DEC_RE.fullmatch(old or ""), _DEC_RE.fullmatch(new or "")
    if mo and mn:
        return int(mn.group(2)) == int(mo.group(2)) and int(
            mn.group(1)
        ) >= int(mo.group(1))
    return False


def iceberg_update_column_type(
    table_path: str,
    name: str,
    new_type: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """TYPE PROMOTION as a METADATA-ONLY commit (spec schema evolution:
    int→long, float→double, decimal(P,S)→decimal(P'≥P,S) — widen-only,
    so every existing file's values survive losslessly). The field id
    is preserved; reads resolve each file through its write schema and
    cast to the current type (scan_with_schema_resolution), and a
    time-travel pin at a pre-promotion snapshot reads the OLD type.
    Anything outside the legal promotion set refuses — a narrowing or
    cross-family cast is data corruption at commit time. Returns the
    new metadata version."""
    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    schema = evolved_schema_promote(md, name, new_type)
    return _commit_evolved_schema(
        table_path, fs, md, version, schema, timestamp_ms
    )


def evolved_schema_promote(md: dict, name: str, new_type: str) -> dict:
    """The evolved schema a TYPE PROMOTION commits — pure surgery +
    validation (shared with the REST/Glue catalog paths)."""
    from rottnest_spark.sources.iceberg import (
        _current_schema,
        _spark_ddl_of_iceberg,
    )

    schema = json.loads(json.dumps(_current_schema(md)))  # deep copy
    siblings, leaf = _walk_to_parent(schema, name)
    field = next((f for f in siblings if f["name"] == leaf), None)
    if field is None:
        raise ValueError(
            f"column {name!r} does not exist "
            f"({[f['name'] for f in siblings]})"
        )
    if (
        field.get("id") is not None
        and int(field["id"]) in _partition_source_ids(md)
    ):
        raise ValueError(
            f"cannot promote partition source column {name!r} — the "
            "spec's transform results are typed on the source"
        )
    old = field.get("type")
    if not isinstance(old, str):
        raise ValueError(
            f"column {name!r} has non-primitive type {old!r} — promotion "
            "is defined on primitive types only"
        )
    if old == new_type:
        raise ValueError(f"column {name!r} is already {new_type!r}")
    if not _promotion_legal(old, new_type):
        raise ValueError(
            f"{old!r} → {new_type!r} is not a legal Iceberg type "
            "promotion (int→long, float→double, decimal precision "
            "widen with fixed scale) — refusing; a lossy cast committed "
            "to metadata corrupts every later read"
        )
    _spark_ddl_of_iceberg(new_type)  # must stay readable
    field["type"] = new_type
    return schema


def iceberg_drop_column(
    table_path: str,
    name: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """DROP COLUMN as a METADATA-ONLY commit: the field leaves the
    current schema (its id is never reused — last-column-id stands),
    no data file is rewritten, and reads project the column away
    (scan_with_schema_resolution). Time-travel pins at pre-drop
    snapshots resolve their recorded schema and still see the column.
    `name` may be a DOT PATH into struct fields ('info.city' — round
    11, nested evolution; old files then resolve the struct by nested
    field id, projecting the dropped subfield away). Partition source
    fields (at any depth, including ids nested under the dropped
    field) and the last remaining column/struct-field are refused. A
    live equality delete referencing the dropped
    field fails loudly at read (apply_equality_deletes refuses unknown
    field ids) rather than silently un-gating. Returns the new metadata
    version."""
    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    schema = evolved_schema_drop(md, name)
    return _commit_evolved_schema(
        table_path, fs, md, version, schema, timestamp_ms
    )


def evolved_schema_drop(md: dict, name: str) -> dict:
    """The evolved schema a DROP commits — pure surgery + validation
    (shared with the REST/Glue catalog paths)."""
    from rottnest_spark.sources.iceberg import _current_schema

    schema = json.loads(json.dumps(_current_schema(md)))  # deep copy
    siblings, leaf = _walk_to_parent(schema, name)
    names = [f["name"] for f in siblings]
    if leaf not in names:
        raise ValueError(f"column {name!r} does not exist ({names})")
    if len(names) == 1:
        raise ValueError(
            "cannot drop the last column of a table"
            if "." not in name
            else f"cannot drop {name!r} — it is the last field of its "
            "struct (an empty struct type is unreadable); drop the "
            "struct column instead"
        )
    field = next(f for f in siblings if f["name"] == leaf)
    dropped_ids = set()
    if field.get("id") is not None:
        dropped_ids.add(int(field["id"]))
    dropped_ids.update(_walk_field_ids(field.get("type")))
    if dropped_ids & _partition_source_ids(md):
        raise ValueError(f"cannot drop partition source column {name!r}")
    siblings[:] = [f for f in siblings if f["name"] != leaf]
    return schema


def iceberg_evolve_partition_spec(
    table_path: str,
    partition_by: list[str],
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """PARTITION SPEC EVOLUTION as a METADATA-ONLY commit (spec
    "Partition Evolution": a new spec under a fresh spec-id becomes the
    default; existing data files keep their old spec — zero files
    touched). New appends lay out and record r102 values under the NEW
    spec; reads/pruning resolve each file through ITS OWN spec
    (per-spec manifests + manifest-list partition_spec_id). Partition
    FIELD ids are reused when an existing spec already has the same
    (source-id, transform) pair (the spec's recommendation — keeps the
    field identity stable) and minted past the table max otherwise.
    Row-mutating DML on a mixed-spec table refuses until
    iceberg_rewrite_partition_spec migrates old files. Returns the new
    metadata version."""
    from rottnest_spark.sources.iceberg import _current_schema
    from rottnest_spark.sources.iceberg_transforms import (
        parse_partition_by,
    )

    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    schema = _current_schema(md)
    pfs = parse_partition_by(list(partition_by), schema)
    prior_specs = list(md.get("partition-specs") or [])
    if not prior_specs:
        prior_specs = [
            {"spec-id": 0, "fields": list(md.get("partition-spec") or [])}
        ]
    #: (source-id, transform) → existing field-id, for stable reuse
    seen: dict[tuple, int] = {}
    max_fid = 999
    for s in prior_specs:
        for f in s.get("fields", []):
            fid = int(f.get("field-id") or 0)
            max_fid = max(max_fid, fid)
            if f.get("source-id") is not None:
                seen.setdefault(
                    (int(f["source-id"]), f.get("transform", "identity")),
                    fid,
                )
    new_fields = []
    for pf in pfs:
        key = (pf["source_id"], pf["transform"])
        if key in seen:
            fid = seen[key]
        else:
            max_fid += 1
            fid = max_fid
        new_fields.append(
            {
                "name": pf["name"],
                "transform": pf["transform"],
                "source-id": pf["source_id"],
                "field-id": fid,
            }
        )
    shape = json.dumps(new_fields, sort_keys=True)
    existing = next(
        (
            s
            for s in prior_specs
            if json.dumps(s.get("fields"), sort_keys=True) == shape
        ),
        None,
    )
    out = dict(md)
    if existing is not None:
        # evolving BACK to an earlier spec: it becomes the default
        # again — no new spec-id (the spec keeps spec identity stable)
        if int(existing.get("spec-id") or 0) == int(
            md.get("default-spec-id") or 0
        ):
            raise ValueError(
                f"partition spec {partition_by} is already the default "
                "— nothing to evolve"
            )
        new_sid = int(existing["spec-id"])
        out["partition-specs"] = prior_specs
    else:
        new_sid = (
            max(int(s.get("spec-id") or 0) for s in prior_specs) + 1
        )
        out["partition-specs"] = prior_specs + [
            {"spec-id": new_sid, "fields": new_fields}
        ]
    out["default-spec-id"] = new_sid
    out["partition-spec"] = new_fields  # legacy key tracks the default
    out["last-updated-ms"] = (
        timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    )
    new_version = version + 1
    md_path = os.path.join(
        _meta_dir(table_path), f"v{new_version}.metadata.json"
    )
    fs.create_exclusive(md_path, json.dumps(out).encode())
    fs.write_text(
        os.path.join(_meta_dir(table_path), "version-hint.text"),
        str(new_version),
    )
    return new_version


def _live_spec_ids(md: dict, table_path: str, fs: LakeFS) -> set[int]:
    """Distinct partition-spec ids among the current snapshot's live
    data files (metadata-scale — one manifest walk)."""
    from rottnest_spark.sources.iceberg import _snapshot_state

    snaps = {s["snapshot-id"]: s for s in md.get("snapshots") or []}
    cur = md.get("current-snapshot-id")
    if cur not in snaps:
        return set()
    st = _snapshot_state(md, snaps[cur], table_path, fs)
    return {
        int((st.get("data_spec") or {}).get(p, 0)) for p in st["data"]
    }


def check_single_spec(md: dict, table_path: str, fs: LakeFS, op: str):
    """Row-mutating DML guard for spec-evolved tables: the delete/
    upsert/rewrite paths address files through the DEFAULT spec's hive
    layout and r102 fields, so a table whose live files span multiple
    specs (or sit under a non-default one) refuses loudly with the
    migration pointer instead of committing wrong partition records."""
    sids = _live_spec_ids(md, table_path, fs)
    default_sid = int(md.get("default-spec-id") or 0)
    if sids - {default_sid}:
        raise ValueError(
            f"{op}: live data files span partition specs "
            f"{sorted(sids)} (default {default_sid}) — row-mutating DML "
            "addresses the default spec's layout only; run "
            "iceberg_rewrite_partition_spec(spark, table_path) to "
            "migrate old-spec files first"
        )


def iceberg_rewrite_partition_spec(
    spark,
    table_path: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Migrate every live data file written under an OLD partition spec
    into the DEFAULT spec's hive layout — ONE staged write job over
    exactly the old-spec files (new-spec files are untouched), one
    commit (add staged + remove old). After this the table is
    single-spec and row-mutating DML un-gates. Returns the new
    snapshot id."""
    from rottnest_spark.sources.iceberg import (
        IcebergSnapshotLake,
        _snapshot_state,
    )
    from rottnest_spark.sources.iceberg_transforms import (
        stage_partitioned,
    )

    fs = fs or LocalFS()
    _version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    default_sid = int(md.get("default-spec-id") or 0)
    snaps = {s["snapshot-id"]: s for s in md.get("snapshots") or []}
    cur = md.get("current-snapshot-id")
    if cur not in snaps:
        raise ValueError(f"{table_path} has no current snapshot")
    st = _snapshot_state(md, snaps[cur], table_path, fs)
    old = sorted(
        p
        for p in st["data"]
        if int((st.get("data_spec") or {}).get(p, 0)) != default_sid
    )
    if not old:
        return int(cur)  # already single-spec: no-op
    if st["pos_deletes"] or st["eq_deletes"] or st["dvs"]:
        raise ValueError(
            "spec rewrite over a delete-bearing snapshot — compact the "
            "deletes first (iceberg_rewrite_deletes / v3 rewrite); a "
            "naive file rewrite would un-gate position deletes"
        )
    lake = IcebergSnapshotLake(
        spark, table_path, os.path.join(table_path, "_specrw_idx"), fs=fs
    )
    df = lake.read(files=old)  # raw state keys — read() resolves them
    pfs = _partition_fields(md)
    staged, pnames = stage_partitioned(df, pfs)
    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")
    if pnames:
        cluster_for_hive_write(staged, pnames).write.partitionBy(
            *pnames
        ).parquet(stage)
    else:
        staged.write.parquet(stage)
    new_files = _adopt_staged(table_path, stage, fs)
    return iceberg_commit(
        table_path,
        add=new_files,
        remove=[canon_path(p) for p in old],
        fs=fs,
        timestamp_ms=timestamp_ms,
    )


def iceberg_expire_snapshots(
    table_path: str,
    keep_last: int | None = None,
    older_than_ms: int | None = None,
    fs: LakeFS | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Expire old snapshots and delete the files only they referenced —
    the Iceberg maintenance op that bounds metadata and storage growth
    (spec: expired snapshots leave the log; their exclusive data/delete
    files, manifests, and manifest lists become deletable).

    Keep set = the CURRENT snapshot plus either the newest `keep_last`
    snapshots or those with timestamp-ms >= `older_than_ms` cutoff.
    Commits a new metadata version (exclusive-create, same OCC protocol
    as every other commit) with the pruned snapshot list FIRST, then
    deletes files unreachable from any surviving snapshot. Returns the
    deleted (or with `dry_run` the would-be-deleted) paths; a dry run
    commits nothing."""
    from rottnest_spark.sources.iceberg import _rebase, _snapshot_state

    if (keep_last is None) == (older_than_ms is None):
        raise ValueError("pass exactly one of keep_last / older_than_ms")
    fs = fs or LocalFS()
    prior_version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    snaps = md.get("snapshots") or []
    cur = md.get("current-snapshot-id")
    if keep_last is not None:
        ordered = sorted(snaps, key=lambda s: int(s.get("timestamp-ms") or 0))
        keep_ids = {s["snapshot-id"] for s in ordered[-max(1, keep_last):]}
    else:
        keep_ids = {
            s["snapshot-id"]
            for s in snaps
            if int(s.get("timestamp-ms") or 0) >= older_than_ms
        }
    keep_ids.add(cur)
    expired = [s for s in snaps if s["snapshot-id"] not in keep_ids]
    if not expired:
        return []

    location = md.get("location", "")

    def snapshot_refs(snap) -> tuple[set[str], set[str]]:
        """(data+delete files, metadata files) one snapshot reaches."""
        meta_refs: set[str] = set()
        if "manifest-list" in snap:
            ml = _rebase(snap["manifest-list"], location, table_path)
            meta_refs.add(ml)
            from rottnest_spark.sources.avro_lite import read_ocf

            _, entries = read_ocf(ml, fs=fs)
            for e in entries:
                meta_refs.add(
                    _rebase(e["manifest_path"], location, table_path)
                )
        st = _snapshot_state(md, snap, table_path, fs)
        files = (
            set(st["data"])
            | set(st["pos_deletes"])
            | {d["path"] for d in st["eq_deletes"]}
            | {d["puffin"] for d in st.get("dvs", {}).values()}
        )
        return files, meta_refs

    keep_files: set[str] = set()
    keep_meta: set[str] = set()
    for s in snaps:
        if s["snapshot-id"] in keep_ids:
            f, m = snapshot_refs(s)
            keep_files |= f
            keep_meta |= m
    victims: set[str] = set()
    for s in expired:
        f, m = snapshot_refs(s)
        victims |= f - keep_files
        victims |= m - keep_meta

    if dry_run:
        return sorted(victims)

    # commit the pruned snapshot list FIRST (crash-safe ordering: an
    # interrupted expire leaves extra files, never dangling references)
    new_md = dict(md)
    new_md["snapshots"] = [
        s for s in snaps if s["snapshot-id"] in keep_ids
    ]
    new_md["last-updated-ms"] = int(time.time() * 1000)
    meta_dir = _meta_dir(table_path)
    version = prior_version + 1
    md_path = os.path.join(meta_dir, f"v{version}.metadata.json")
    fs.create_exclusive(md_path, json.dumps(new_md).encode())
    fs.write_text(os.path.join(meta_dir, "version-hint.text"), str(version))
    for f in sorted(victims):
        if fs.exists(f):
            fs.remove(f)
    return sorted(victims)


def iceberg_upsert(
    spark,
    df,
    table_path: str,
    key_cols: list[str],
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
    auto_rewrite_threshold: int | None = 128,
) -> int:
    """CDC UPSERT with EQUALITY deletes — the Flink-CDC write shape and
    the reason equality deletes exist: O(|changes|) work, ZERO data-file
    scans. One snapshot commits (a) the change rows as new data files at
    sequence N and (b) one equality delete file of their keys, also at
    sequence N — the spec's strictly-smaller rule makes the delete hide
    every OLDER row with those keys while the new rows survive.

    Contrast `iceberg_delete_rows` + append: that scans every data file
    to locate positions; this touches only the change set — the
    difference between O(table) and O(batch) per micro-batch at 100 TB.

    The table becomes equality-delete-bearing: `read()` stays exact,
    index search refuses until `iceberg_rewrite_deletes` (which also
    materializes equality deletes). Partitioned tables stage hive-laid
    (like iceberg_write); key columns must not BE partition columns —
    equality deletes apply on PHYSICAL columns, which hive data files
    lack for partitions.

    `auto_rewrite_threshold`: once the table carries at least this many
    equality delete files AFTER the commit, `iceberg_rewrite_deletes`
    runs automatically (its snapshot id is returned) — the lifecycle
    bound that keeps an unattended CDC stream from accumulating delete
    files without limit (reads apply them in one scan per key set, but
    per-read delete volume and per-row anti-join work still grow with
    backlog). None disables."""
    fs = fs or LocalFS()
    _, prior = _latest_metadata(table_path, fs)
    if prior is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    check_single_spec(prior, table_path, fs, "iceberg_upsert")
    pfs = _partition_fields(prior)
    # identity sources are stripped from hive-laid data files; transform
    # SOURCES stay physical, so they may legitimately be key columns
    clash = [
        c
        for c in key_cols
        if c in [pf["source"] for pf in pfs if pf["kind"] == "identity"]
    ]
    if clash:
        raise ValueError(
            f"key columns {clash} are identity partition columns — "
            "equality deletes match on PHYSICAL data-file columns, which "
            "hive-laid files lack for partitions; key on a physical "
            "column instead"
        )
    from rottnest_spark.sources.iceberg import _current_schema

    schema = _current_schema(prior)
    ids_by_name = {
        f["name"]: int(f["id"]) for f in schema.get("fields", [])
    }
    missing = [c for c in key_cols if c not in ids_by_name]
    if missing:
        raise ValueError(
            f"key columns {missing} not in the table schema "
            f"({sorted(ids_by_name)})"
        )
    eq_ids = [ids_by_name[c] for c in key_cols]
    df = _align_change_frame(df, schema, "iceberg_upsert")
    # pin the change batch: both the staged data write and the equality
    # delete key write consume it — one scan of the caller's source
    # instead of two (batch-scale rows)
    df = df.localCheckpoint(eager=True)

    from rottnest_spark.sources.iceberg_transforms import stage_partitioned

    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")
    kstage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")

    # the staged data write and the equality-key write both read only the
    # PINNED batch and write to disjoint stage dirs — run them as
    # concurrent jobs (guide §2.6); the renames below stay sequential
    # (publish order is the crash-recovery contract)
    def _stage_data() -> None:
        staged, pnames = stage_partitioned(df, pfs)
        if pnames:
            cluster_for_hive_write(staged, pnames).write.partitionBy(
                *pnames
            ).parquet(stage)
        else:
            df.write.parquet(stage)

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _kfut = _pool.submit(
            lambda: df.select(*key_cols)
            .distinct()
            .coalesce(1)
            .write.parquet(kstage)
        )
        try:
            _stage_data()
            _kfut.result()
        except Exception as exc:
            try:
                _kfut.result()
            except Exception as side:
                # keep the concurrent chain's failure diagnosable
                # instead of swallowing it behind the primary error
                if side is not exc:
                    exc.add_note(
                        f"concurrent equality-key write also failed: {side!r}"
                    )
            fs.rmtree(stage)
            fs.rmtree(kstage)
            raise
    moved = []
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        segs = os.path.relpath(f, stage).split(os.sep)
        leaf = segs[-1]
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        dst = os.path.join(
            table_path, "data", *segs[:-1], f"{uuid.uuid4().hex}.parquet"
        )
        fs.makedirs(os.path.dirname(dst))
        fs.rename(f, dst)
        moved.append(dst)
    fs.rmtree(stage)
    if not moved:
        fs.rmtree(kstage)
        raise ValueError("empty upsert — the change DataFrame has no rows")

    eq_path = None
    for f in fs.list_files(kstage):
        leaf = os.path.basename(f)
        if leaf.endswith(".parquet") and not leaf.startswith(("_", ".")):
            eq_path = os.path.join(
                table_path, "data", f"eqdelete-{uuid.uuid4().hex}.parquet"
            )
            fs.rename(f, eq_path)
            break
    fs.rmtree(kstage)
    snap = iceberg_commit_retry(
        table_path,
        add=moved,
        fs=fs,
        timestamp_ms=timestamp_ms,
        add_eq_deletes=[(eq_path, eq_ids)],
    )
    if auto_rewrite_threshold is not None:
        from rottnest_spark.sources.iceberg import (
            _current_metadata,
            snapshot_state_from_metadata,
        )

        st = snapshot_state_from_metadata(
            _current_metadata(table_path, fs), table_path, fs
        )
        if len(st["eq_deletes"]) >= auto_rewrite_threshold:
            return iceberg_rewrite_deletes(
                spark, table_path, fs=fs, timestamp_ms=timestamp_ms
            )
    return snap


def _pfields_from_md(md: dict) -> list[tuple[str, str]]:
    """(partition field name, RESULT iceberg type) pairs for ALL fields
    of the default spec — identity fields keep the source type, transform
    fields carry the transform's result type (round 10: the r102 record
    and hive layout cover bucket/truncate/temporal fields too)."""
    return [(pf["name"], pf["result_type"]) for pf in _partition_fields(md)]


def _dv_manifest_schema(pfields: list[tuple[str, str]] | None = None) -> dict:
    """Manifest entry schema extended with the v3 deletion-vector fields
    (spec: referenced_data_file + content_offset/content_size_in_bytes
    address one blob inside a puffin file); `pfields` populates the r102
    partition record for identity-partitioned tables."""
    base = _manifest_schema(pfields or [])
    df_schema = next(
        f for f in base["fields"] if f["name"] == "data_file"
    )["type"]
    df_schema = json.loads(json.dumps(df_schema))  # deep copy
    df_schema["name"] = "data_file_v3"
    df_schema["fields"] += [
        {
            "name": "referenced_data_file",
            "type": ["null", "string"],
            "default": None,
        },
        {"name": "content_offset", "type": ["null", "long"], "default": None},
        {
            "name": "content_size_in_bytes",
            "type": ["null", "long"],
            "default": None,
        },
        # v3 ROW LINEAGE (spec field 142): the first row id this data
        # file's rows occupy — _row_id of row `pos` = first_row_id + pos
        {"name": "first_row_id", "type": ["null", "long"], "default": None},
    ]
    out = json.loads(json.dumps(base))
    next(f for f in out["fields"] if f["name"] == "data_file")[
        "type"
    ] = df_schema
    return out


def iceberg_v3_dv_commit(
    table_path: str,
    deletes: dict[str, object],
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Commit PUFFIN DELETION VECTORS onto a v1/v2 append table,
    upgrading it to format-version 3 — the spec's v3 row-delete
    shape (one deletion-vector-v1 blob per data file, addressed from the
    delete manifest via referenced_data_file + content_offset /
    content_size_in_bytes). This is how the v3 conformance fixtures are
    built and the nucleus of a future v3 replication target; general v3
    DML stays refused (_commit_snapshot guard). Identity-partitioned
    tables supported (round 9): the commit tail records each entry's
    r102 partition values from the prior manifests / hive paths.

    `deletes` = {live data file path: row positions}. A file with an
    existing DV merges (positions union, old blob superseded — the
    spec's at-most-one-DV-per-file rule); untouched DVs carry forward
    pointing at their original puffin file. Tables with parquet
    positional or equality delete files refuse (mixing regimes is a
    migration problem, not a fixture's)."""
    from rottnest_spark.core.fs import canon_path
    from rottnest_spark.sources.iceberg import _snapshot_state
    from rottnest_spark.sources.puffin import (
        puffin_dv_positions,
        write_puffin_dvs,
    )

    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    snaps = md.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = md.get("current-snapshot-id")
    if cur not in by_id:
        raise ValueError(f"{table_path} has no current snapshot")
    st = _snapshot_state(md, by_id[cur], table_path, fs)
    if st["pos_deletes"] or st["eq_deletes"]:
        raise ValueError(
            "table carries parquet positional/equality delete files — "
            "v3 DV commit only composes with DV-only delete state"
        )
    live = {canon_path(p): seq for p, seq in st["data"].items()}
    unknown = [p for p in deletes if canon_path(p) not in live]
    if unknown:
        raise ValueError(f"not live data files: {unknown[:3]}")

    commit_seq = int(md.get("last-sequence-number") or 0) + 1
    new_version = version + 1
    snap_id = new_version
    ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)

    # merge with existing DVs (at most one DV per file may survive)
    import numpy as _np

    want: dict[str, object] = {
        canon_path(p): _np.unique(_np.asarray(list(pos), _np.uint64))
        for p, pos in deletes.items()
    }
    carried: dict[str, dict] = {}
    for ref, d in st.get("dvs", {}).items():
        cref = canon_path(ref)
        if cref in want:
            data = fs.read_bytes(d["puffin"])
            old = puffin_dv_positions(
                data, d.get("offset"), d.get("size"),
                referenced=d.get("ref_orig"),
            )
            want[cref] = _np.union1d(want[cref], old)
        else:
            carried[cref] = d

    puffin_path = os.path.join(
        table_path, f"deletion-vector-{uuid.uuid4().hex[:12]}.puffin"
    )
    blob_meta = write_puffin_dvs(
        puffin_path,
        want,
        fs=fs,
        snapshot_id=snap_id,
        sequence_number=commit_seq,
    )
    new_blobs = {
        ref: {"puffin": puffin_path, **m} for ref, m in blob_meta.items()
    }
    return _v3_commit_dv_state(
        table_path, fs, md, version, ts, live, new_blobs, carried,
        snap_of=st.get("data_snap"), file_info=st.get("data_info"),
        first_rows=st.get("data_first_row"),
        file_specs=st.get("data_spec"),
    )


def _v3_tagged_scan(spark, md: dict, table_path: str, files: list[str], fs):
    """Tagged (__path/__pos) scan of live data files for the v3 DML
    paths, composing the two schema-surface features the raw reader
    lacks: v3 `initial-default` fill (scan_with_initial_defaults) and
    identity-partition-column reconstruction for hive-laid files that
    physically lack the partition columns (values from the prior
    manifests' r102 records — one scan per DISTINCT partition tuple,
    bounded by partition count). Predicates and key joins on partition
    or defaulted columns then match correctly."""
    from pyspark.sql import functions as F

    from rottnest_spark.sources.iceberg import (
        _current_schema,
        initial_default_fields,
        live_adds_from_metadata,
        partition_columns_from_metadata,
        scan_with_initial_defaults,
    )
    from rottnest_spark.sources.reader import read_parquet_tagged

    dmap = initial_default_fields(md)

    def base(fl):
        if dmap:
            return scan_with_initial_defaults(spark, fl, dmap, tagged=True)
        return read_parquet_tagged(spark, fl)

    pcols = partition_columns_from_metadata(md)
    if not pcols:
        return base(files)
    from rottnest_spark.sources.iceberg import _missing_defaults_by_file

    # probe EVERY file's footer (not files[0] — a snapshot can mix
    # hive-laid files with the partition columns stripped and
    # engine-written files that carry them physically; classifying
    # wholesale either nulls the hive files or literal-overwrites the
    # physical ones). Driver peek for small lists, executor-distributed
    # past the threshold — same seam as the v3 defaults fill.
    miss_by_file = _missing_defaults_by_file(spark, list(files), list(pcols))
    if all(not m for m in miss_by_file.values()):
        return base(files)
    adds = live_adds_from_metadata(md, table_path, fs=fs)
    adds = {canon_path(p): v for p, v in adds.items()}
    unknown = [
        f for f in files if miss_by_file[f] and canon_path(f) not in adds
    ]
    if unknown:
        raise ValueError(
            f"files not in the Iceberg snapshot: {unknown[:3]} — "
            "partition values unknown"
        )
    _spark_of_iceberg = {
        "long": "bigint", "int": "bigint", "double": "double",
        "float": "double", "boolean": "boolean",
        "timestamp": "timestamp", "date": "date", "string": "string",
    }
    casts = {
        f["name"]: _spark_of_iceberg.get(f["type"], "string")
        for f in _current_schema(md).get("fields", [])
        if isinstance(f.get("type"), str)
    }
    # group by (which partition cols the footer lacks, their manifest
    # values) — each group scans uniformly and attaches only ITS
    # missing columns as literals; files that carry a column physically
    # keep the physical values
    groups: dict[tuple, list[str]] = {}
    for f in files:
        missing = tuple(sorted(miss_by_file[f]))
        key = (
            missing,
            tuple(adds.get(canon_path(f), {}).get(c) for c in missing),
        )
        groups.setdefault(key, []).append(f)
    parts = []
    for (missing, vals), fl in sorted(
        groups.items(),
        key=lambda kv: (kv[0][0], tuple(str(v) for v in kv[0][1])),
    ):
        df = base(sorted(fl))
        for c, v in zip(missing, vals):
            lit = F.lit(v)
            if c in casts:
                lit = lit.cast(casts[c])
            df = df.withColumn(c, lit)
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def iceberg_v3_delete_rows(
    spark,
    table_path: str,
    predicate,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Row-level DELETE on an Iceberg table as v3 PUFFIN DELETION
    VECTORS — the v3 twin of `delta_delete_rows`, upgrading v1/v2 append
    tables to format-version 3 on first use (the spec's v3 row-delete
    shape; `iceberg_delete_rows` stays the v2 parquet-positional form).

    Plan shape (the delta_write.pack_bins discipline — the driver never
    holds a bitmap or a position): one predicate-pushed tagged scan for
    new positions, one executor-side decode of existing vectors
    (dv_pairs_df) restricted to re-deleted files by a distributed
    semi-join, one applyInPandas roaring-encode per affected file, then
    each task packs its blobs into ONE puffin file written through the
    task data-plane writer and ships back DESCRIPTOR rows only. At most
    one DV per file survives (spec): re-deleted files get a merged blob,
    untouched DVs carry forward pointing at their original puffin.

    Guards mirror iceberg_v3_dv_commit: no parquet positional/equality
    delete files (mixing regimes is a migration problem). Tables with
    initial-default fields scan through the default fill, and
    identity-partitioned tables scan through partition-column
    reconstruction (_v3_tagged_scan), so predicates on defaulted OR
    partition columns match correctly. Returns the committed snapshot
    id (current one when nothing matches). Concurrency: the commit
    claims version+1 via exclusive create — a lost race leaves orphan
    puffin files that vacuum reclaims, never a torn table."""
    from pyspark.sql import functions as F

    from rottnest_spark.core.fs import canon_path
    from rottnest_spark.sources.iceberg import _snapshot_state

    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    snaps = md.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = md.get("current-snapshot-id")
    if cur not in by_id:
        raise ValueError(f"{table_path} has no current snapshot")
    st = _snapshot_state(md, by_id[cur], table_path, fs)
    if st["pos_deletes"] or st["eq_deletes"]:
        raise ValueError(
            "table carries parquet positional/equality delete files — "
            "v3 DV delete only composes with DV-only delete state"
        )
    live = {canon_path(p): seq for p, seq in st["data"].items()}
    if not live:
        raise ValueError(f"{table_path} has no live data files")

    # snapshot identity is claimed up front so executor-written blob
    # metadata matches the commit; a concurrent winner fails the
    # exclusive create below and this attempt's puffins become orphans
    commit_seq = int(md.get("last-sequence-number") or 0) + 1
    snap_id = version + 1
    ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)

    files = sorted(live)
    scan = _v3_tagged_scan(spark, md, table_path, files, fs)
    fresh = scan.filter(
        predicate if not isinstance(predicate, str) else F.expr(predicate)
    ).select(F.col("__path").alias("ref"), F.col("__pos").alias("pos"))

    new_blobs, carried = _v3_pack_dvs(
        spark, md, st, table_path, fresh, snap_id, commit_seq
    )
    if not new_blobs:
        return int(cur)  # nothing matched: current snapshot stands
    return _v3_commit_dv_state(
        table_path, fs, md, version, ts, live, new_blobs, carried,
        snap_of=st.get("data_snap"), file_info=st.get("data_info"),
        first_rows=st.get("data_first_row"),
        file_specs=st.get("data_spec"),
    )


def iceberg_v3_append(
    table_path: str,
    add: list[str],
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Plain APPEND commit on a v3 deletion-vector table — the gap the
    v2 writer leaves (`iceberg_commit` refuses format-version 3): new
    data files enter at this commit's sequence, every existing DV
    carries forward untouched. With delete/upsert/rewrite this closes
    the v3 write lifecycle. Files must already be under the table (the
    caller stages, like iceberg_commit); on identity-partitioned tables
    they must be hive-laid (`data/col=value/…`) — the commit tail
    derives their r102 partition values from the path and raises on a
    file outside the layout."""
    from rottnest_spark.core.fs import canon_path
    from rottnest_spark.sources.iceberg import _snapshot_state

    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    if not add:
        raise ValueError("empty commit — nothing to add")
    snaps = md.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = md.get("current-snapshot-id")
    if cur not in by_id:
        raise ValueError(f"{table_path} has no current snapshot")
    st = _snapshot_state(md, by_id[cur], table_path, fs)
    if st["pos_deletes"] or st["eq_deletes"]:
        raise ValueError(
            "table carries parquet positional/equality delete files — "
            "use iceberg_commit (the v2 form) for those"
        )
    live = {canon_path(p): seq for p, seq in st["data"].items()}
    dup = [f for f in add if canon_path(f) in live]
    if dup:
        raise ValueError(f"already live: {dup[:3]}")
    ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    carried = {canon_path(r): d for r, d in st.get("dvs", {}).items()}
    return _v3_commit_dv_state(
        table_path, fs, md, version, ts, live,
        new_blobs={}, carried=carried, adds=list(add), operation="append",
        snap_of=st.get("data_snap"), file_info=st.get("data_info"),
        first_rows=st.get("data_first_row"),
        file_specs=st.get("data_spec"),
    )


def iceberg_v3_rewrite_deletes(
    spark,
    table_path: str,
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Compact v3 DELETION-VECTOR state back to pure data files — the v3
    twin of `iceberg_rewrite_deletes` and the step that completes the v3
    lifecycle (delete/upsert accumulate DVs; this materializes them and
    re-opens the top-K index paths, which refuse delete-bearing
    snapshots via `.files`). Only DV-referenced files are rewritten
    (survivors anti-joined against the executor-decoded positions in one
    scan); untouched files keep their bytes, sequence numbers, and
    indexes. One snapshot: rewritten files out, survivors in, the delete
    manifest empty — the orphaned puffin files become unreferenced and
    expire with their snapshots. Tables with initial-default fields
    REFUSE: a rewrite would materialize the default physically, changing
    what future schema reads of pre-evolution files mean — resolve
    defaults first (a column-materializing rewrite is schema surgery,
    not delete compaction)."""
    from pyspark.sql import functions as F

    from rottnest_spark.core.fs import canon_path
    from rottnest_spark.sources.iceberg import (
        _snapshot_state,
        dv_pairs_df,
        initial_default_fields,
    )
    from rottnest_spark.sources.reader import read_parquet_tagged

    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    if initial_default_fields(md):
        raise ValueError(
            "v3 rewrite on a table with initial-default fields would "
            "physically materialize the defaults — refusing; rewrite the "
            "schema first"
        )
    snaps = md.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = md.get("current-snapshot-id")
    if cur not in by_id:
        raise ValueError(f"{table_path} has no current snapshot")
    st = _snapshot_state(md, by_id[cur], table_path, fs)
    if st["pos_deletes"] or st["eq_deletes"]:
        raise ValueError(
            "table carries parquet positional/equality delete files — "
            "use iceberg_rewrite_deletes (the v2 form) for those"
        )
    dvs = {canon_path(r): d for r, d in st.get("dvs", {}).items()}
    if not dvs:
        return int(cur)  # nothing to compact
    live = {canon_path(p): seq for p, seq in st["data"].items()}
    doomed_files = sorted(ref for ref in dvs if ref in live)

    # decode the DV positions ONCE and rewrite in ONE Spark job: the
    # survivors of every DV-referenced file anti-join in one scan. On
    # identity-partitioned tables the per-file partition values (known
    # from the prior manifests — authoritative) broadcast-join on, the
    # staged write partitionBy's them back OFF into hive `col=value/`
    # dirs, and the moved files land under data/ in that layout — so
    # the commit tail re-derives the same r102 values from the path. A
    # per-partition-dir loop here would be one sequential Spark job per
    # partition: 10³ partitions = 10³ jobs, a driver wall at scale.
    pairs = (
        dv_pairs_df(spark, dvs, md.get("location", ""), table_path)
        .localCheckpoint(eager=True)
        .select(
            F.col("__del_path").alias("__path"),
            F.col("__del_pos").alias("__pos"),
        )
    )
    survivors = read_parquet_tagged(spark, doomed_files).join(
        pairs, ["__path", "__pos"], "left_anti"
    )
    pfields = _pfields_from_md(md)
    if pfields:
        from rottnest_spark.sources.iceberg import live_adds_from_metadata

        adds = {
            canon_path(p): v
            for p, v in live_adds_from_metadata(md, table_path, fs).items()
        }
        _spark_of = {
            "long": "bigint", "int": "int", "double": "double",
            "float": "float", "boolean": "boolean", "string": "string",
        }
        pv_schema = ", ".join(
            ["__path string"]
            + [f"`{c}` {_spark_of.get(t, 'string')}" for c, t in pfields]
        )
        pv_rows = [
            tuple([f] + [adds[f].get(c) for c, _ in pfields])
            for f in doomed_files
        ]
        from rottnest_spark.core.smalldf import local_df

        pv_df = local_df(spark, pv_rows, pv_schema)
        survivors = survivors.join(F.broadcast(pv_df), "__path")
    survivors = survivors.drop("__path", "__pos")

    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")
    if pfields:
        pdirs = [c for c, _ in pfields]
        cluster_for_hive_write(survivors, pdirs).write.partitionBy(
            *pdirs
        ).parquet(stage)
    else:
        survivors.write.parquet(stage)
    moved = []
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        leaf = os.path.basename(f)
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        sub = os.path.dirname(os.path.relpath(f, stage))
        dst = os.path.join(
            table_path, "data", sub, f"{uuid.uuid4().hex}.parquet"
        )
        fs.makedirs(os.path.dirname(dst))
        fs.rename(f, dst)
        moved.append(dst)
    fs.rmtree(stage)

    ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)
    untouched = {p: s for p, s in live.items() if p not in set(doomed_files)}
    return _v3_commit_dv_state(
        table_path, fs, md, version, ts, untouched,
        new_blobs={}, carried={}, adds=moved, operation="replace",
        snap_of=st.get("data_snap"), file_info=st.get("data_info"),
        first_rows=st.get("data_first_row"),
        file_specs=st.get("data_spec"),
    )


def iceberg_v3_upsert(
    spark,
    df,
    table_path: str,
    key_cols: list[str],
    fs: LakeFS | None = None,
    timestamp_ms: int | None = None,
) -> int:
    """Keyed UPSERT on an Iceberg table in the v3 DELETION-VECTOR shape
    (the MERGE form modern v3 engines write): ONE snapshot commits the
    change rows as new data files AND puffin DVs tombstoning every OLD
    row whose key matches — `delta_upsert`'s Iceberg-v3 twin, and the
    position-addressed alternative to `iceberg_upsert`'s equality
    deletes (v3 requires DVs for new row-level deletes; equality deletes
    remain the streaming-CDC shape).

    Cost shape: one key semi-join scan of the live files for doomed
    positions (position-addressed — unlike equality deletes this DOES
    scan the table's key column, footer-pruned by the join), the
    executor-side DV pack pipeline (descriptor-only driver collects),
    one staged write of the change rows. Guards mirror the v3 delete:
    DV-only delete state. Keys duplicated WITHIN the batch refuse (two
    versions of one key in one commit is undefined). The change frame's
    columns must match the table schema exactly — a renamed or missing
    column would commit schema-drifted data files that later multi-file
    scans surface as silent NULLs. Identity-partitioned tables stage
    with partitionBy (hive-laid, like iceberg_upsert) and the key
    semi-join scans through partition-column reconstruction, so keys
    MAY include partition columns (position-addressed deletes don't
    need physical key columns the way equality deletes do)."""
    from pyspark.sql import functions as F

    from rottnest_spark.core.fs import canon_path
    from rottnest_spark.sources.iceberg import (
        _current_schema,
        _snapshot_state,
        initial_default_fields,
    )

    fs = fs or LocalFS()
    version, md = _latest_metadata(table_path, fs)
    if md is None:
        raise ValueError(f"{table_path} is not an Iceberg table")
    tcols = [
        f["name"] for f in _current_schema(md).get("fields", [])
    ]
    if tcols:
        missing_c = sorted(set(tcols) - set(df.columns))
        extra_c = sorted(set(df.columns) - set(tcols))
        if missing_c or extra_c:
            raise ValueError(
                f"change DataFrame does not match the table schema — "
                f"missing {missing_c}, unexpected {extra_c} "
                f"(table columns: {tcols})"
            )
        df = _align_change_frame(df, _current_schema(md), "iceberg_v3_upsert")
    snaps = md.get("snapshots") or []
    by_id = {s["snapshot-id"]: s for s in snaps}
    cur = md.get("current-snapshot-id")
    if cur not in by_id:
        raise ValueError(f"{table_path} has no current snapshot")
    st = _snapshot_state(md, by_id[cur], table_path, fs)
    if st["pos_deletes"] or st["eq_deletes"]:
        raise ValueError(
            "table carries parquet positional/equality delete files — "
            "v3 DV upsert only composes with DV-only delete state"
        )
    live = {canon_path(p): seq for p, seq in st["data"].items()}
    if not live:
        raise ValueError(f"{table_path} has no live data files")
    dmap = initial_default_fields(md)
    clash = [c for c in key_cols if c in dmap]
    if clash:
        raise ValueError(
            f"key columns {clash} carry v3 initial-defaults — "
            "position-matching on a filled column is supported for "
            "DELETE predicates but key identity must be physical"
        )
    # pin the change batch: it feeds three consumers (dup check, the key
    # semi-join build side, the staged write) and each would otherwise
    # recompute the caller's source plan — at scale, three scans of the
    # change source instead of one (batch-scale rows, the same pinning
    # replicate_changes applies to feeds)
    df = df.localCheckpoint(eager=True)

    def _dup_check() -> None:
        dup = (
            df.groupBy(*key_cols).count().filter(F.col("count") > 1).limit(1)
        ).count()
        if dup:
            raise ValueError(
                "change batch carries duplicate keys — one version per "
                "key per commit"
            )

    commit_seq = int(md.get("last-sequence-number") or 0) + 1
    snap_id = version + 1
    ts = timestamp_ms if timestamp_ms is not None else int(time.time() * 1000)

    # doomed positions: old rows whose key matches the batch
    files = sorted(live)
    scan = _v3_tagged_scan(spark, md, table_path, files, fs)
    fresh = scan.join(
        df.select(*key_cols).distinct(), key_cols, "left_semi"
    ).select(F.col("__path").alias("ref"), F.col("__pos").alias("pos"))

    # stage the change rows as new data files; partitioned tables stage
    # hive-laid so the commit tail can derive r102 values from the path
    # (transform fields as DERIVED columns — iceberg_transforms). The
    # staged write and the DV-pack pipeline both read only the PINNED
    # batch / table state and write to disjoint places, so they run as
    # concurrent jobs (guide §2.6): the write's tail back-fills the DV
    # semi-join's idle executors. A failure on either side aborts before
    # the commit; the stage dir is removed on error (uncommitted puffins
    # are unreferenced and reclaimed like any crash-window orphan).
    from concurrent.futures import ThreadPoolExecutor

    from rottnest_spark.sources.iceberg_transforms import stage_partitioned

    stage = os.path.join(table_path, f"_staged_{uuid.uuid4().hex[:12]}")

    def _stage_write() -> None:
        staged, pnames = stage_partitioned(df, _partition_fields(md))
        if pnames:
            cluster_for_hive_write(staged, pnames).write.partitionBy(
                *pnames
            ).parquet(stage)
        else:
            df.write.parquet(stage)

    # three independent pre-commit job chains off the PINNED batch
    # (guide §2.6): the dup-check (reads only the batch), the staged
    # write (batch → stage dir) and the DV pack (table state + batch
    # keys → puffins). Any failure — including a duplicate-key batch —
    # aborts BEFORE the publish moves and the commit; the stage dir is
    # dropped, and puffins written by an aborted pack stay unreferenced
    # (crash-window orphans, reclaimed by vacuum).
    with ThreadPoolExecutor(max_workers=2) as _pool:
        _stage_fut = _pool.submit(_stage_write)
        _dup_fut = _pool.submit(_dup_check)
        try:
            new_blobs, carried = _v3_pack_dvs(
                spark, md, st, table_path, fresh, snap_id, commit_seq
            )
            _dup_fut.result()
            _stage_fut.result()
        except Exception as exc:
            # join the write first (rmtree under a live writer is racy),
            # then drop the uncommitted stage; secondary failures are
            # noted on the primary so neither side's error is swallowed
            for _what, _f in (("staged write", _stage_fut), ("dup check", _dup_fut)):
                try:
                    _f.result()
                except Exception as side:
                    if side is not exc:
                        exc.add_note(
                            f"concurrent {_what} also failed: {side!r}"
                        )
            fs.rmtree(stage)
            raise
    moved = []
    fs.makedirs(os.path.join(table_path, "data"))
    for f in fs.list_files(stage):
        leaf = os.path.basename(f)
        if not leaf.endswith(".parquet") or leaf.startswith(("_", ".")):
            continue
        sub = os.path.dirname(os.path.relpath(f, stage))
        dst = os.path.join(
            table_path, "data", sub, f"{uuid.uuid4().hex}.parquet"
        )
        fs.makedirs(os.path.dirname(dst))
        fs.rename(f, dst)
        moved.append(dst)
    fs.rmtree(stage)
    if not moved:
        raise ValueError("empty upsert — the change DataFrame has no rows")

    return _v3_commit_dv_state(
        table_path, fs, md, version, ts, live, new_blobs, carried,
        adds=moved, operation="overwrite", snap_of=st.get("data_snap"), file_info=st.get("data_info"),
        first_rows=st.get("data_first_row"),
        file_specs=st.get("data_spec"),
    )


def _v3_pack_dvs(
    spark,
    md: dict,
    st: dict,
    table_path: str,
    fresh,
    snap_id: int,
    commit_seq: int,
) -> tuple[dict[str, dict], dict[str, dict]]:
    """The distributed DV-pack pipeline shared by v3 DELETE and UPSERT:
    `fresh` is a (ref, pos) frame of newly deleted positions. Existing
    vectors of RE-DELETED files merge in via a distributed semi-join,
    one roaring blob encodes per affected file, each task packs its
    blobs into ONE content-named puffin written executor-side, and the
    driver receives descriptor rows only. Returns (new_blobs {ref:
    {puffin, offset, size, cardinality}}, carried untouched DVs)."""
    from pyspark.sql import functions as F

    from rottnest_spark.core.fs import canon_path, make_task_put
    from rottnest_spark.sources.iceberg import dv_pairs_df
    from rottnest_spark.sources.puffin import (
        make_puffin_dv_blob_encoder,
        make_puffin_dv_packer,
    )

    dvs = {canon_path(r): d for r, d in st.get("dvs", {}).items()}
    union = fresh
    if dvs:
        existing = dv_pairs_df(spark, dvs, md.get("location", ""), table_path)
        existing = existing.select(
            F.col("__del_path").alias("ref"), F.col("__del_pos").alias("pos")
        )
        # full post-delete position set per RE-DELETED file (existing ∪
        # new) — selected by a distributed semi-join, not a collected list
        union = fresh.unionByName(
            existing.join(
                fresh.select("ref").distinct(), "ref", "left_semi"
            )
        ).dropDuplicates(["ref", "pos"])

    encode = make_puffin_dv_blob_encoder()

    def encode_group(pdf):
        import pandas as _pd

        pos = pdf["pos"].to_numpy()
        return _pd.DataFrame(
            {
                "ref": [pdf["ref"].iloc[0]],
                "blob": [encode(pos)],
                "cardinality": [int(len(set(pos.tolist())))],
            }
        )

    encoded = union.groupBy("ref").applyInPandas(
        encode_group, "ref string, blob binary, cardinality long"
    )

    pack = make_puffin_dv_packer(snap_id, commit_seq)
    put = make_task_put()
    table_dir = canon_path(table_path)

    def pack_puffins(batches):
        import hashlib as _hashlib
        import posixpath as _pp
        import uuid as _uuid

        import pandas as _pd

        rows = []
        h = _hashlib.md5()
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                rows.append((r.ref, bytes(r.blob), int(r.cardinality)))
                h.update(r.ref.encode())
                h.update(bytes(r.blob))
        if not rows:
            yield _pd.DataFrame(
                columns=["ref", "puffin", "offset", "size", "cardinality"]
            )
            return
        rows.sort(key=lambda t: t[0])
        data, desc = pack(rows)
        # content-derived name: task retries and speculative twins
        # rewrite the same path with the same bytes
        name = f"deletion-vector-{_uuid.UUID(bytes=h.digest()).hex}.puffin"
        path = _pp.join(table_dir, name)
        put(path, data)
        yield _pd.DataFrame(
            {
                "ref": [d["ref"] for d in desc],
                "puffin": [path] * len(desc),
                "offset": [d["offset"] for d in desc],
                "size": [d["size"] for d in desc],
                "cardinality": [d["cardinality"] for d in desc],
            }
        )

    desc_rows = encoded.mapInPandas(
        pack_puffins,
        "ref string, puffin string, offset long, size long, cardinality long",
    ).collect()  # descriptor-scale: one small row per affected file

    new_blobs = {
        r.ref: {
            "puffin": r.puffin,
            "offset": int(r.offset),
            "size": int(r.size),
            "cardinality": int(r.cardinality),
        }
        for r in desc_rows
    }
    carried = {ref: d for ref, d in dvs.items() if ref not in new_blobs}
    return new_blobs, carried


def _v3_commit_dv_state(
    table_path: str,
    fs: LakeFS,
    md: dict,
    version: int,
    ts: int,
    live: dict[str, int],
    new_blobs: dict[str, dict],
    carried: dict[str, dict],
    adds: list[str] | None = None,
    operation: str = "delete",
    snap_of: dict[str, int] | None = None,
    file_info: dict[str, tuple[int, int]] | None = None,
    first_rows: dict[str, int] | None = None,
    file_specs: dict[str, int] | None = None,
) -> int:
    """Shared v3 DV commit tail: write the data + delete manifests and
    the v3 metadata for a new snapshot whose DV state is `new_blobs`.

    Spec-evolved tables: every v3 mutation funnels here, and this tail
    rebuilds manifests under the DEFAULT spec's r102 fields — so a
    mixed-spec snapshot refuses up front (check_single_spec) instead of
    committing wrong partition records for old-spec files.
    (this commit's blobs — {data file: {puffin, offset, size,
    cardinality}}, already ON DISK) plus `carried` (prior DVs of
    untouched files, pointing at their original puffin files). `adds`
    appends NEW data files in the same snapshot at this commit's
    sequence (the upsert's inserts — one atomic delete+add version).
    Callers: iceberg_v3_dv_commit (driver-written single puffin — the
    fixture path), iceberg_v3_delete_rows and iceberg_v3_upsert
    (executor-written per-task puffins).

    Identity-partitioned tables (round 9): manifest entries carry the
    spec-required r102 partition record — existing files keep the
    values their prior manifests recorded (authoritative), new adds
    derive theirs from their hive `col=value/` path segments (how every
    writer in this module lays files out). Lineage: EXISTING (status-0)
    entries keep the snapshot id that originally added them, per the
    manifest-entry contract — only status-1 adds stamp this commit's."""
    from rottnest_spark.core.fs import canon_path as _canon
    from rottnest_spark.sources.iceberg import live_adds_from_metadata

    if file_specs is not None:
        # callers thread the already-walked state — no second manifest
        # walk just for the guard
        default_sid = int(md.get("default-spec-id") or 0)
        sids = {int(v) for v in file_specs.values()}
        if sids - {default_sid}:
            raise ValueError(
                "v3 DML commit: live data files span partition specs "
                f"{sorted(sids)} (default {default_sid}) — run "
                "iceberg_rewrite_partition_spec(spark, table_path) first"
            )
    else:
        check_single_spec(md, table_path, fs, "v3 DML commit")
    snaps = md.get("snapshots") or []
    commit_seq = int(md.get("last-sequence-number") or 0) + 1
    new_version = version + 1
    snap_id = new_version
    live = dict(live)
    for f in adds or []:
        live[_canon(f)] = commit_seq

    meta_dir = _meta_dir(table_path)
    pfields = _pfields_from_md(md)
    schema3 = _dv_manifest_schema(pfields)

    added_set = {_canon(f) for f in adds or []}
    # authoritative partition values + adding snapshot id of every file
    # already in the table (prior manifests); adds derive from their path
    prior_parts: dict[str, dict] = {}
    if pfields:
        prior_parts = {
            _canon(p): vals
            for p, vals in live_adds_from_metadata(
                md, table_path, fs
            ).items()
        }
    snap_of = {_canon(p): int(s) for p, s in (snap_of or {}).items()}
    # (record_count, file_size) the prior manifests recorded — reused for
    # EXISTING files so a commit never re-opens O(files) footers driver-side
    file_info = {_canon(p): v for p, v in (file_info or {}).items()}
    # v3 ROW LINEAGE (spec "Row Lineage"): carried files keep their
    # recorded first_row_id; adds — and legacy files a pre-lineage
    # writer committed without one (the v2→v3 upgrade path) — claim
    # fresh disjoint ranges from the table's next-row-id counter.
    # Stable across DV deletes/upserts by construction (positions never
    # move); a physical REWRITE re-mints (materializing _row_id before
    # rewriting is the documented seam).
    first_rows = {_canon(p): int(v) for p, v in (first_rows or {}).items()}
    # one footer open + stat per ADDED file, shared by the row-lineage
    # assignment below and the manifest data_file entries (each used to
    # re-open the footer independently — two driver-side opens per add)
    added_info = {
        p: (_record_count(p), fs.getsize(p)) for p in sorted(added_set)
    }
    next_row = int(md.get("next-row-id") or 0)
    assigned_first: dict[str, int] = {}
    for p in sorted(live):
        if p in first_rows and p not in added_set:
            assigned_first[p] = first_rows[p]
        else:
            info = added_info.get(p) or file_info.get(p)
            n = info[0] if info else _record_count(p)
            assigned_first[p] = next_row
            next_row += int(n)

    def _pvals(p: str) -> dict:
        if not pfields:
            return {}
        rec = prior_parts.get(p)
        if rec is not None and all(k in rec for k, _ in pfields):
            # a field PRESENT with value None is an explicit null
            # partition value (__HIVE_DEFAULT_PARTITION__) — honored
            return {k: rec.get(k) for k, _ in pfields}
        # prior record absent or missing a DECLARED field (e.g. a spec
        # hand-evolved after the file was written): derive from the hive
        # path — which raises when the file is outside the layout. A
        # silent null here would let external readers prune the file
        # out of partition-filtered scans (wrong results, not a crash).
        hive = _hive_pvals(table_path, p, pfields)
        if rec:
            return {
                k: rec[k] if k in rec else hive[k] for k, _ in pfields
            }
        return hive

    def data_entry(p: str, seq: int) -> dict:
        added = p in added_set
        info = added_info.get(p) if added else file_info.get(p)
        return {
            "status": 1 if added else 0,
            "snapshot_id": snap_id if added else snap_of.get(p, snap_id),
            "sequence_number": seq,
            "data_file": {
                "content": 0,
                "file_path": p,
                "file_format": "PARQUET",
                "partition": _pvals(p),
                "record_count": info[0] if info else _record_count(p),
                "file_size_in_bytes": info[1] if info else fs.getsize(p),
                "equality_ids": None,
                "referenced_data_file": None,
                "content_offset": None,
                "content_size_in_bytes": None,
                "first_row_id": assigned_first.get(p),
            },
        }

    def dv_entry(
        ref: str, puffin: str, off, size, card, seq, status, added_snap=None
    ) -> dict:
        return {
            "status": status,
            "snapshot_id": snap_id if status == 1 else (added_snap or snap_id),
            "sequence_number": seq,
            "data_file": {
                "content": 1,
                "file_path": canon_path(puffin),
                "file_format": "PUFFIN",
                # the DV's partition record matches its referenced data
                # file's (spec: delete files are scoped to the partition
                # of the rows they delete)
                "partition": _pvals(ref),
                "record_count": int(card),
                "file_size_in_bytes": fs.getsize(puffin),
                "equality_ids": None,
                "first_row_id": None,
                "referenced_data_file": ref,
                "content_offset": None if off is None else int(off),
                "content_size_in_bytes": None if size is None else int(size),
            },
        }

    data_manifest = os.path.join(
        meta_dir, f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.avro"
    )
    write_ocf(
        data_manifest,
        schema3,
        [data_entry(p, live[p]) for p in sorted(live)],
        fs=fs,
    )
    del_entries = [
        dv_entry(
            ref, m["puffin"], m["offset"], m["size"], m["cardinality"],
            commit_seq, 1,
        )
        for ref, m in sorted(new_blobs.items())
    ] + [
        dv_entry(
            ref, d["puffin"], d.get("offset"), d.get("size"),
            d.get("cardinality") or -1, d["seq"], 0,
            added_snap=d.get("snap"),
        )
        for ref, d in sorted(carried.items())
    ]
    del_manifest = os.path.join(
        meta_dir, f"manifest-del-{snap_id}-{uuid.uuid4().hex[:8]}.avro"
    )
    write_ocf(del_manifest, schema3, del_entries, fs=fs)

    ml = os.path.join(meta_dir, f"snap-{snap_id}-{uuid.uuid4().hex[:8]}.avro")
    min_seq = min([commit_seq] + [int(s) for s in live.values()])
    write_ocf(
        ml,
        MANIFEST_LIST_SCHEMA,
        [
            {
                "manifest_path": canon_path(m),
                "manifest_length": fs.getsize(m),
                "partition_spec_id": 0,
                "content": c,
                "sequence_number": commit_seq,
                "min_sequence_number": min_seq,
                "added_snapshot_id": snap_id,
            }
            for m, c in ((data_manifest, 0), (del_manifest, 1))
        ],
        fs=fs,
    )
    out = dict(md)
    out["format-version"] = 3
    out["last-sequence-number"] = commit_seq
    out["next-row-id"] = next_row  # v3 row lineage counter
    out["last-updated-ms"] = ts
    out["current-snapshot-id"] = snap_id
    out["snapshots"] = snaps + [
        {
            "snapshot-id": snap_id,
            "timestamp-ms": ts,
            "manifest-list": canon_path(ml),
            # written-under schema id — pinned reads resolve it
            "schema-id": int(md.get("current-schema-id") or 0),
            "summary": {"operation": operation},
        }
    ]
    md_path = os.path.join(meta_dir, f"v{new_version}.metadata.json")
    fs.create_exclusive(md_path, json.dumps(out).encode())
    fs.write_text(
        os.path.join(meta_dir, "version-hint.text"), str(new_version)
    )
    return snap_id
