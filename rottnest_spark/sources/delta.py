"""Read-only Delta Lake snapshot listing — the S8 table-format backend
(reference backends/delta.py:12-96) without requiring delta-spark.

The Delta transaction log is public JSON: `_delta_log/NNNNNNNNNNNNNNNNNNNN.json`
commits containing `add`/`remove` actions (+ periodic parquet checkpoints).
For the index layer only ONE question matters: *which data files are live
in the current snapshot* — exactly what the reference's backend extracts
from its snapshot (delta.py:25-26). We replay add/remove over the JSON
commits; checkpoint parquet files are also consumed when present (they
compact earlier commits).

`DeltaSnapshotLake` re-reads the log on every `.files` access, so the L1
incremental plan (anti-join vs the catalog) naturally indexes ONLY newly
added files on the next build, and search never scans files that are
physically present but removed from the snapshot — Delta semantics the
plain directory listing cannot give.

Deletion vectors (merge-on-read row-level deletes, the default on
Databricks-written tables) — EXCEEDS the reference, which ignores the
`deletionVector` field entirely and would surface ghost rows:
- `DeltaSnapshotLake.read()` APPLIES them: executor-side roaring decode
  (sources/roaring.py, the public PROTOCOL.md format) + one anti-join on
  (file path, row position);
- PREDICATE index search and `build_index` are DV-aware (core/lake.py
  `_search_files`/`_search_row_filter` hooks): indexes are supersets
  over deleted rows and every refine path anti-joins the decoded
  positions — exact results with NO compaction. Paths that treat files
  as fully live (`.files`, top-K probes, copy-on-write DML) still
  refuse; `delta_rewrite_deletes` (sources/delta_write.py) compacts
  the vectors for those.
"""

from __future__ import annotations

import json
import os

from rottnest_spark.core.fs import LakeFS, LocalFS, canon_path
from rottnest_spark.sources.reader import uri_path_col as _uri_path
from rottnest_spark.core.lake import ParquetLake


def _norm_col(c):
    from pyspark.sql import functions as F

    return F.regexp_replace(c, "^file:/+", "/")


def _read_cp_table(fs: LakeFS, path: str, columns=None):
    """Parquet checkpoint read through the FS seam (works on s3a:// —
    checkpoints are metadata-scale, an in-memory buffer is fine).
    `columns` restricts decode to the named top-level action columns
    (intersected with the schema): protocol/metaData recovery must not
    materialize O(live-files) add/remove structs into Python dicts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(pa.BufferReader(fs.read_bytes(path)))
    if columns is not None:
        columns = [c for c in columns if c in pf.schema_arrow.names]
    return pf.read(columns=columns)


def _log_lines(fs: LakeFS, path: str):
    return [ln for ln in fs.read_text(path).splitlines() if ln.strip()]


def _is_v2_checkpoint(path: str) -> bool:
    """V2 (UUID-named) checkpoint files are `V.checkpoint.<uuid>.json`
    or `.parquet` — 4 dot-segments; classic are 3 (single) or 5
    (multi-part `V.checkpoint.I.N.parquet`, all-numeric middle)."""
    segs = os.path.basename(path).split(".")
    return len(segs) == 4 and not segs[2].isdigit()


def _checkpoint_parts(
    log_dir: str, fs: LakeFS | None = None
) -> tuple[int, list[str]]:
    """Locate the latest checkpoint: (version, checkpoint files), or
    (-1, []) when the log has no checkpoint. Files are classic parquet
    parts OR one v2 UUID-named top-level file (json/parquet — see
    _is_v2_checkpoint; its add actions may live in sidecars, resolved
    at read time by _v2_checkpoint_actions).

    `_last_checkpoint` is the authoritative pointer (Delta protocol —
    readers must not rely on listing); multi-part checkpoints are named
    `V.checkpoint.I.N.parquet`, v2 ones `V.checkpoint.<uuid>.<ext>`
    (the pointer names the version, not the file — readers list the
    version's prefix). Fails loudly on missing parts rather than
    returning an incomplete live set."""
    fs = fs or LocalFS()
    lc = os.path.join(log_dir, "_last_checkpoint")
    if fs.exists(lc):
        info = json.loads(fs.read_text(lc))
        v = int(info["version"])
        n_parts = int(info.get("parts") or 0)
        base = f"{v:020d}"
        if n_parts:
            files = [
                os.path.join(
                    log_dir,
                    f"{base}.checkpoint.{i + 1:010d}.{n_parts:010d}.parquet",
                )
                for i in range(n_parts)
            ]
        else:
            files = [os.path.join(log_dir, f"{base}.checkpoint.parquet")]
        missing = [f for f in files if not fs.exists(f)]
        if missing:
            # v2 spec checkpoint: same version, UUID-named file (any one
            # of the version's UUID twins is a complete snapshot)
            v2 = sorted(
                f
                for f in fs.glob(
                    os.path.join(log_dir, f"{base}.checkpoint.*")
                )
                if _is_v2_checkpoint(f)
            )
            if v2:
                return v, [v2[-1]]
            raise ValueError(
                f"_last_checkpoint points at version {v} but parts are "
                f"missing: {missing} — refusing to return a partial snapshot"
            )
        return v, files
    # no pointer: glob single-, multi-part and v2 names, newest version
    found = (
        fs.glob(os.path.join(log_dir, "*.checkpoint.parquet"))
        + fs.glob(os.path.join(log_dir, "*.checkpoint.*.*.parquet"))
        + [
            # v2 UUID-named: 4 dot-segments, json OR parquet (the
            # 5-segment multi-part glob above can't match the parquet
            # form — this glob is the only path that finds it)
            f
            for f in fs.glob(os.path.join(log_dir, "*.checkpoint.*"))
            if _is_v2_checkpoint(f)
            and os.path.basename(f).split(".")[-1] in ("json", "parquet")
        ]
    )
    if not found:
        return -1, []
    by_ver: dict[int, list[str]] = {}
    for f in found:
        by_ver.setdefault(int(os.path.basename(f).split(".")[0]), []).append(f)
    v = max(by_ver)
    parts = sorted(by_ver[v])
    v2 = [p for p in parts if _is_v2_checkpoint(p)]
    if v2:
        return v, [v2[-1]]  # any UUID twin is complete on its own
    multi = [p for p in parts if len(os.path.basename(p).split(".")) == 5]
    if multi:
        expected = int(os.path.basename(multi[0]).split(".")[3])
        if len(multi) != expected:
            raise ValueError(
                f"checkpoint {v} has {len(multi)}/{expected} parts — "
                f"refusing to return a partial snapshot"
            )
    return v, parts


_ALL_CP_ACTIONS = ("add", "remove", "protocol", "metaData")


def _checkpoint_actions(
    fs: LakeFS,
    log_dir: str,
    cp_files: list[str],
    wanted: tuple[str, ...] = _ALL_CP_ACTIONS,
):
    """Yield plain action dicts ({'add': …} / {'remove': …} /
    {'protocol': …} / {'metaData': …}) from checkpoint files of EITHER
    layout — classic parquet parts or a v2 UUID-named top-level file
    (+sidecars) — so every checkpoint consumer (live replay, protocol/
    meta recovery, known-files walk, step generator) reads both without
    knowing which it got. Checkpoint `remove` rows are retention
    tombstones: liveness consumers must ignore them (a checkpoint's adds
    ARE the live set); they are yielded for the consumers that need the
    full referenced-ever set.

    `wanted` restricts which action columns are decoded: protocol/
    metaData recovery passes ('protocol', 'metaData') so a 10^6-file
    checkpoint's add/remove structs are never materialized into Python
    dicts (and v2 sidecars are never fetched) for a one-record lookup."""
    for cp in cp_files:
        if _is_v2_checkpoint(cp):
            yield from _v2_checkpoint_actions(fs, log_dir, cp, wanted=wanted)
            continue
        tbl = _read_cp_table(fs, cp, columns=list(wanted))
        for col in wanted:
            if col in tbl.column_names:
                for rec in tbl.column(col).to_pylist():
                    if rec and any(v is not None for v in rec.values()):
                        yield {col: rec}


def _v2_checkpoint_actions(
    fs: LakeFS,
    log_dir: str,
    path: str,
    wanted: tuple[str, ...] = _ALL_CP_ACTIONS,
):
    """Yield the action dicts of a V2 SPEC CHECKPOINT (Delta
    PROTOCOL.md 'V2 Spec Checkpoints', reader feature `v2Checkpoint`):
    the UUID-named top-level file (json lines or parquet rows) carries
    checkpointMetadata/protocol/metaData and either add/remove actions
    inline or `sidecar` actions naming parquet files under
    `_delta_log/_sidecars/` that hold them. Sidecars are resolved and
    their add/remove rows yielded as plain actions, so the replay
    consumes v2 exactly like classic. Missing sidecars raise — an
    incomplete snapshot must never read as a smaller live set.
    When `wanted` excludes add AND remove, sidecars are neither
    validated nor read (a protocol/metaData lookup is not a liveness
    construction)."""
    want_files = "add" in wanted or "remove" in wanted
    sidecars: list[str] = []

    def _rows():
        if path.endswith(".json"):
            for ln in _log_lines(fs, path):
                yield json.loads(ln)
        else:
            tbl = _read_cp_table(
                fs,
                path,
                columns=["checkpointMetadata", "sidecar", *wanted],
            )
            cols = [
                c
                for c in (
                    "checkpointMetadata",
                    "protocol",
                    "metaData",
                    "add",
                    "remove",
                    "sidecar",
                )
                if c in tbl.column_names
            ]
            for i in range(tbl.num_rows):
                for c in cols:
                    rec = tbl.column(c)[i].as_py()
                    if rec and any(v is not None for v in rec.values()):
                        yield {c: rec}

    saw_meta = False
    for action in _rows():
        if "checkpointMetadata" in action:
            saw_meta = True
            continue
        if "sidecar" in action:
            sidecars.append(action["sidecar"]["path"])
            continue
        if next(iter(action), None) in wanted:
            yield action
    if not saw_meta:
        raise ValueError(
            f"{path}: v2 checkpoint without a checkpointMetadata action — "
            "not a spec checkpoint; refusing"
        )
    if not want_files:
        return
    for sc in sidecars:
        sc_path = (
            sc
            if "/" in sc and fs.exists(sc)
            else os.path.join(log_dir, "_sidecars", os.path.basename(sc))
        )
        if not fs.exists(sc_path):
            raise ValueError(
                f"v2 checkpoint sidecar missing: {sc!r} — refusing to "
                "return a partial snapshot"
            )
        tbl = _read_cp_table(
            fs, sc_path, columns=[c for c in ("add", "remove") if c in wanted]
        )
        for col in ("add", "remove"):
            if col in wanted and col in tbl.column_names:
                for rec in tbl.column(col).to_pylist():
                    if rec and rec.get("path"):
                        yield {col: rec}


def _delta_live_state(
    table_path: str,
    version_as_of: int | None = None,
    fs: LakeFS | None = None,
) -> dict[str, tuple[dict, dict | None]]:
    """Replay the _delta_log: {absolute data-file path: (partitionValues,
    deletionVector-descriptor-or-None)}.

    `version_as_of` stops the replay at that commit (inclusive) — Delta
    time travel. Raises if the requested version precedes the earliest
    replayable state (a checkpoint hides older commits) or exceeds the
    log. partitionValues comes from the add action (the AUTHORITATIVE
    source per the protocol — file paths need not be hive-encoded).
    A re-add of the same path REPLACES its previous state, including the
    deletion vector (protocol: at most one live DV per file; attaching
    one commits remove+add of the same path)."""
    fs = fs or LocalFS()
    log_dir = os.path.join(table_path, "_delta_log")
    if not fs.isdir(log_dir):
        raise ValueError(f"{table_path} has no _delta_log — not a Delta table")

    commits = sorted(fs.glob(os.path.join(log_dir, "*.json")))

    live: dict[str, tuple[dict, dict | None]] = {}
    start_version, cp_files = _checkpoint_parts(log_dir, fs)
    if version_as_of is not None:
        all_versions = {int(os.path.basename(c).split(".")[0]) for c in commits}
        if all_versions and version_as_of > max(all_versions):
            raise ValueError(
                f"versionAsOf {version_as_of} exceeds the log "
                f"(latest commit {max(all_versions)})"
            )
        if version_as_of < start_version:
            raise ValueError(
                f"versionAsOf {version_as_of} precedes the earliest "
                f"checkpoint ({start_version}) — older commits may have "
                f"been vacuumed; cannot reconstruct that snapshot"
            )
    proto: dict | None = None
    meta: dict | None = None
    if cp_files:
        # classic parquet parts and v2 (json/parquet + sidecars) both
        # normalize to plain actions; checkpoint removes are retention
        # tombstones and do NOT affect liveness (the adds ARE the set)
        for action in _checkpoint_actions(
            fs, log_dir, cp_files, wanted=("add", "protocol", "metaData")
        ):
            if "add" in action and action["add"].get("path"):
                rec = action["add"]
                live[rec["path"]] = (
                    dict(rec.get("partitionValues") or {}),
                    rec.get("deletionVector") or None,
                )
            elif "protocol" in action:
                proto = action["protocol"]
            elif "metaData" in action:
                meta = action["metaData"]

    versions = {int(os.path.basename(c).split(".")[0]) for c in commits}
    if start_version < 0 and 0 not in versions:
        raise ValueError(
            f"{table_path}: commit 0 is absent and no checkpoint is "
            f"readable — the replay would miss earlier add actions"
        )

    for c in commits:
        version = int(os.path.basename(c).split(".")[0])
        if version <= start_version:
            continue
        if version_as_of is not None and version > version_as_of:
            break
        for line in _log_lines(fs, c):
                action = json.loads(line)
                if "add" in action:
                    live[action["add"]["path"]] = (
                        dict(action["add"].get("partitionValues") or {}),
                        action["add"].get("deletionVector") or None,
                    )
                elif "remove" in action:
                    live.pop(action["remove"]["path"], None)
                elif "protocol" in action:
                    proto = action["protocol"]
                elif "metaData" in action:
                    meta = action["metaData"]
    _check_reader_compat(table_path, proto, meta)
    return {os.path.join(table_path, p): st for p, st in live.items()}


#: reader features this replay actually implements — anything else is a
#: LOUD refusal, never a silent misread (the protocol's forward-compat
#: contract: clients must refuse tables with unknown reader features)
_SUPPORTED_READER_FEATURES = {
    "deletionVectors",
    "timestampNtz",  # Spark-native TIMESTAMP_NTZ parquet reads
    "vacuumProtocolCheck",  # write-side gate, read path unaffected
    "columnMapping",  # NAME mode (round 7) + ID mode (round 8)
    "v2Checkpoint",  # UUID-named spec checkpoints + sidecars (round 9)
    # type widening (round 9): scans pin the log's schemaString so files
    # written BEFORE a widen (int32 under a now-long column, float under
    # double, narrower decimal) read at the widened type — Spark's
    # parquet reader up-casts per file. Read/DML/diff/feed support it;
    # index build/search refuse (they read raw narrow values) — see
    # _refuse_widening_for_index.
    "typeWidening",
    "typeWidening-preview",
}

#: features whose PRESENCE makes raw-typed index reads unsound — index
#: paths refuse these while read()/DML/diff/feed support them
_WIDENING_FEATURES = {"typeWidening", "typeWidening-preview"}


def _widening_active(proto: dict | None) -> bool:
    return bool(
        set((proto or {}).get("readerFeatures") or []) & _WIDENING_FEATURES
    )


def _cm_mode(meta: dict | None) -> str | None:
    """'name' | 'id' | None (unmapped). Unknown modes raise — forward
    compat means refusing, never guessing resolution semantics."""
    mode = _table_configuration(meta).get("delta.columnMapping.mode")
    if not mode or mode == "none":
        return None
    if mode not in ("name", "id"):
        raise ValueError(
            f"delta.columnMapping.mode={mode!r} is not a mode this "
            "reader knows (name/id) — refusing instead of misreading"
        )
    return mode


def _map_type(t, mode: str):
    """Delta schemaString type node, logical → PHYSICAL, recursively:
    every struct field (at any depth — A nested field left unmapped
    would silently surface its col-<uuid> physical name) renames to its
    delta.columnMapping.physicalName; in id mode each also carries
    {'parquet.field.id': id} so Spark's parquet reader/writer resolves
    it BY FIELD ID (the spec mechanism for id mode,
    PROTOCOL.md §column-mapping) regardless of parquet column names."""
    if isinstance(t, str):
        return t
    kind = t.get("type")
    if kind == "struct":
        fields = []
        for f in t.get("fields", []):
            md = f.get("metadata") or {}
            phys = md.get("delta.columnMapping.physicalName")
            fid = md.get("delta.columnMapping.id")
            if not phys:
                raise ValueError(
                    f"column-mapped field {f.get('name')!r} lacks "
                    "delta.columnMapping.physicalName — cannot map, "
                    "refusing"
                )
            if mode == "id" and fid is None:
                raise ValueError(
                    f"id-mode field {f.get('name')!r} lacks "
                    "delta.columnMapping.id — cannot map, refusing"
                )
            fields.append(
                {
                    "name": phys,
                    "type": _map_type(f["type"], mode),
                    "nullable": f.get("nullable", True),
                    "metadata": (
                        {"parquet.field.id": int(fid)}
                        if mode == "id"
                        else {}
                    ),
                }
            )
        return {"type": "struct", "fields": fields}
    if kind == "array":
        return {**t, "elementType": _map_type(t["elementType"], mode)}
    if kind == "map":
        return {
            **t,
            "keyType": _map_type(t["keyType"], mode),
            "valueType": _map_type(t["valueType"], mode),
        }
    return t


def _relax_nullability(dt):
    """Recursively nullable copy of a Spark DataType — the READ/DML-side
    face of a schemaString (round 11, nested evolution): a struct
    subfield recorded non-nullable would make the logical↔physical
    struct CASTS refuse (Spark cannot cast a nullable field to a NOT
    NULL one), and a nested ADD fills null into old files regardless of
    what the writer recorded. Committed schemaStrings are built from
    their own JSON and never pass through here."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    _relax_nullability(f.dataType),
                    True,
                    f.metadata,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _relax_nullability(dt.keyType),
            _relax_nullability(dt.valueType),
            True,
        )
    return dt


def delta_logical_schema(meta: dict):
    """The table's LOGICAL Spark schema (schemaString names as-is),
    nullability-relaxed for the scan/cast layer."""
    from pyspark.sql.types import StructType

    return _relax_nullability(
        StructType.fromJson(json.loads(meta["schemaString"]))
    )


def delta_physical_schema(meta: dict | None, proto: dict | None = None):
    """Spark read/write schema addressing the DATA FILES of a
    column-mapped table: physical names at every nesting level; in ID
    mode every field carries parquet.field.id metadata, which makes
    Spark resolve scan columns by id (`spark.sql.parquet.fieldId.read.
    enabled`) and stamp ids into written footers (`...fieldId.write.
    enabled`, on by default).

    With `proto` given and TYPE WIDENING active (PROTOCOL.md Type
    Widening — files written before a widen physically carry the
    narrower type), an unmapped table also pins the log's schemaString:
    Spark's parquet reader then up-casts each file (int32→long,
    float→double, decimal scale-preserving widen) instead of inferring
    a narrow type from whichever footer it samples. None when the table
    is unmapped and unwidened (plain inference)."""
    from pyspark.sql.types import StructType

    mode = _cm_mode(meta)
    if not mode:
        if _widening_active(proto) and (meta or {}).get("schemaString"):
            return _relax_nullability(
                StructType.fromJson(json.loads(meta["schemaString"]))
            )
        return None
    return _relax_nullability(
        StructType.fromJson(
            _map_type(json.loads(meta["schemaString"]), mode)
        )
    )


def to_logical_frame(df, meta: dict | None):
    """Physical-named scan frame → LOGICAL names at every nesting level.
    Each top-level physical column casts to its logical field's type —
    struct→struct casts are positional in Spark, so nested fields rename
    without touching values — and aliases to the logical name. Columns
    not in the table schema (__path/__pos provenance tags) pass through
    untouched. Identity on unmapped tables."""
    if not _cm_mode(meta):
        return df
    from pyspark.sql import functions as F

    log = delta_logical_schema(meta)
    phys = delta_physical_schema(meta)
    rev = {p.name: (l.name, l.dataType) for p, l in zip(phys, log)}
    cols = []
    for c in df.columns:
        if c in rev:
            lname, ltype = rev[c]
            cols.append(F.col(f"`{c}`").cast(ltype).alias(lname))
        else:
            cols.append(F.col(f"`{c}`"))
    return df.select(*cols)


def to_physical_frame(df, meta: dict | None):
    """LOGICAL-named DataFrame → the physical write frame for staging
    new data files into a column-mapped table: rename at every level
    (positional struct casts, the inverse of to_logical_frame), then
    `.to(physical schema)` so ID-mode parquet.field.id metadata reaches
    the written footers. Raises on missing or extra columns — a DML
    writer must stage exactly the table's width (no silent drops)."""
    if not _cm_mode(meta):
        return df
    from pyspark.sql import functions as F

    log = delta_logical_schema(meta)
    phys = delta_physical_schema(meta)
    missing = [f.name for f in log.fields if f.name not in df.columns]
    extra = sorted(set(df.columns) - {f.name for f in log.fields})
    if missing or extra:
        raise ValueError(
            f"column-mapped write frame mismatch: missing {missing}, "
            f"extra {extra} vs table schema {[f.name for f in log.fields]}"
        )
    # NOT DataFrame.to(phys): .to() passes already-conforming columns
    # through untouched, silently dropping the target metadata — and
    # with it the ID-mode parquet field ids. alias(metadata=) stamps the
    # top-level id; the cast's TARGET TYPE carries the nested ids (the
    # writer reads them from the column's dataType tree).
    return df.select(
        *[
            F.col(f"`{lf.name}`")
            .cast(pf.dataType)
            .alias(pf.name, metadata=dict(pf.metadata or {}))
            for lf, pf in zip(log.fields, phys.fields)
        ]
    )


def stamp_physical_frame(df, meta: dict | None):
    """PHYSICAL-named frame (a rewrite scan) → same names with ID-mode
    parquet.field.id metadata stamped for the write; identity otherwise.
    Same alias/cast mechanics as to_physical_frame, minus the rename."""
    if _cm_mode(meta) != "id":
        return df
    from pyspark.sql import functions as F

    by = {f.name: f for f in delta_physical_schema(meta).fields}
    return df.select(
        *[
            F.col(f"`{c}`")
            .cast(by[c].dataType)
            .alias(c, metadata=dict(by[c].metadata or {}))
            if c in by
            else F.col(f"`{c}`")
            for c in df.columns
        ]
    )


def column_mapping_from_meta(meta: dict | None) -> dict[str, str]:
    """TOP-LEVEL logical → physical column names (both modes populate
    physicalName per the protocol). Empty when the table has no column
    mapping. Validates the FULL schema tree — a nested field missing its
    physicalName (or, in id mode, its id) raises here rather than
    surfacing physical names downstream."""
    mode = _cm_mode(meta)
    if not mode:
        return {}
    schema_json = json.loads(meta["schemaString"])
    _map_type(schema_json, mode)  # full-tree validation, raises on holes
    return {
        f["name"]: (f.get("metadata") or {})[
            "delta.columnMapping.physicalName"
        ]
        for f in schema_json.get("fields", [])
    }


def check_partition_mapping_aligned(meta: dict | None, what: str) -> None:
    """Partitioned COLUMN-MAPPED tables are supported exactly when every
    partition column's physicalName equals its logical name (round 11 —
    replaces the blanket refusal): partitionValues keys and hive dir
    segments are PHYSICAL names (PROTOCOL.md), the upgrade convention
    pins physicalName == current name, and the rename/drop writers
    refuse partition columns — so on every table this engine evolves,
    the two vocabularies agree on partition columns forever. A foreign
    table that renamed a partition column breaks that alignment and
    refuses loudly here rather than mis-keying partition values."""
    pcols = list((meta or {}).get("partitionColumns") or [])
    if not pcols:
        return
    cmap = column_mapping_from_meta(meta)
    if not cmap:
        return
    bad = sorted(c for c in pcols if cmap.get(c) != c)
    if bad:
        raise ValueError(
            f"{what}: partition column(s) {bad} have a physicalName "
            "differing from the logical name — partitionValues and hive "
            "segments are keyed physically, so the logical view cannot "
            "be reconstructed faithfully; refusing"
        )


def _table_configuration(meta: dict | None) -> dict:
    """metaData `configuration` as a dict — pyarrow deserializes the
    checkpoint's map-typed column as a LIST of (key, value) pairs, so
    a metaData recovered from a checkpoint (post log-vacuum) carries
    that shape."""
    cfg = (meta or {}).get("configuration") or {}
    if isinstance(cfg, list):
        cfg = dict(cfg)
    return cfg


def delta_row_tracking_enabled(meta: dict | None) -> bool:
    """The `delta.enableRowTracking` table property (PROTOCOL.md Row
    Tracking — the Delta twin of Iceberg v3 row lineage)."""
    return (
        str(_table_configuration(meta).get("delta.enableRowTracking"))
        .lower()
        == "true"
    )


def delta_row_id_state(
    table_path: str, fs: LakeFS | None = None
) -> tuple[dict[str, tuple[int, int | None]], int | None]:
    """Row-tracking replay: ({absolute data-file path: (baseRowId,
    defaultRowCommitVersion)}, rowIdHighWaterMark-or-None). Base row
    ids come from the live add actions (a re-add REPLACES, preserving
    semantics rides on writers carrying the id forward — which
    _stamp_row_tracking does); the high-water mark from the
    `delta.rowTracking` domainMetadata action. Checkpoints carry both
    (delta_checkpoint writes baseRowId columns + the domainMetadata
    row), so vacuumed logs keep lineage."""
    fs = fs or LocalFS()
    log_dir = os.path.join(table_path, "_delta_log")
    if not fs.isdir(log_dir):
        raise ValueError(f"{table_path} has no _delta_log")
    commits = sorted(fs.glob(os.path.join(log_dir, "*.json")))
    start_version, cp_files = _checkpoint_parts(log_dir, fs)
    live: dict[str, tuple[int, int | None]] = {}
    hwm: int | None = None
    if cp_files:
        for action in _checkpoint_actions(
            fs, log_dir, cp_files, wanted=("add", "domainMetadata")
        ):
            if "add" in action and action["add"].get("path"):
                rec = action["add"]
                if rec.get("baseRowId") is not None:
                    live[rec["path"]] = (
                        int(rec["baseRowId"]),
                        rec.get("defaultRowCommitVersion"),
                    )
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm and dm.get("domain") == "delta.rowTracking" and not dm.get(
                    "removed"
                ):
                    cfg = json.loads(dm.get("configuration") or "{}")
                    if cfg.get("rowIdHighWaterMark") is not None:
                        hwm = int(cfg["rowIdHighWaterMark"])
    for c in commits:
        if int(os.path.basename(c).split(".")[0]) <= start_version:
            continue
        for line in _log_lines(fs, c):
            action = json.loads(line)
            if "add" in action:
                rec = action["add"]
                if rec.get("baseRowId") is not None:
                    live[rec["path"]] = (
                        int(rec["baseRowId"]),
                        rec.get("defaultRowCommitVersion"),
                    )
                else:
                    live.pop(rec["path"], None)  # re-add without an id
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
            elif "domainMetadata" in action:
                dm = action["domainMetadata"]
                if dm.get("domain") == "delta.rowTracking" and not dm.get(
                    "removed"
                ):
                    cfg = json.loads(dm.get("configuration") or "{}")
                    if cfg.get("rowIdHighWaterMark") is not None:
                        hwm = int(cfg["rowIdHighWaterMark"])
    out = {
        os.path.join(table_path, p): v for p, v in live.items()
    }
    return out, hwm


def delta_column_mapping(
    table_path: str, fs: LakeFS | None = None
) -> dict[str, str]:
    """logical → physical column names of the table (empty when the
    table has no column mapping)."""
    return column_mapping_from_meta(delta_table_meta(table_path, fs=fs))


def _check_reader_compat(
    table_path: str, proto: dict | None, meta: dict | None
) -> None:
    """Refuse tables this replay cannot read FAITHFULLY:
    - column mapping with incomplete physicalName/id metadata at ANY
      nesting depth — NAME and ID modes are both supported (round 8):
      the snapshot lake renames physical→logical at scan, resolving by
      parquet field id in ID mode;
    - any minReaderVersion-3 readerFeature outside the supported set
      (typeWidening, variantType, ...): unknown read semantics;
    - minReaderVersion > 3: unknown protocol."""
    try:
        column_mapping_from_meta(meta)
    except ValueError as exc:
        raise ValueError(f"{table_path}: {exc}") from None
    if not proto:
        return
    mrv = int(proto.get("minReaderVersion") or 1)
    if mrv == 2:
        # column mapping is reader-v2's only capability; with the mode
        # unset/none the data reads plainly
        return
    if mrv == 3:
        unsupported = (
            set(proto.get("readerFeatures") or []) - _SUPPORTED_READER_FEATURES
        )
        if unsupported:
            extra = ""
            if {"variantType", "variantType-preview"} & unsupported:
                # surveyed + decided 2026-08-16 (COVERAGE.md "variantType
                # decision"): REFUSE. Reading variant faithfully needs
                # the Spark VariantType binary decoder (metadata+value
                # pair) AND shredded-subcolumn reassembly; a partial
                # reader that surfaces raw binary or drops shredded
                # fields is silent corruption for downstream SQL.
                extra = (
                    " (variantType: the binary variant encoding + "
                    "shredded-column reassembly are not implemented — "
                    "see COVERAGE.md 'variantType decision')"
                )
            raise ValueError(
                f"{table_path}: unsupported Delta reader features "
                f"{sorted(unsupported)} — refusing instead of misreading"
                + extra
            )
        return
    if mrv > 3:
        raise ValueError(
            f"{table_path}: minReaderVersion {mrv} exceeds this reader's "
            "protocol support (3)"
        )


def delta_live_adds(
    table_path: str,
    version_as_of: int | None = None,
    fs: LakeFS | None = None,
) -> dict[str, dict]:
    """{absolute data-file path: partitionValues} of the live snapshot
    (see `_delta_live_state`; DV-oblivious — callers that read rows must
    check `delta_live_dvs`)."""
    return {
        p: pv
        for p, (pv, _) in _delta_live_state(
            table_path, version_as_of, fs
        ).items()
    }


def _delta_states_range(
    table_path: str,
    from_version: int,
    to_version: int,
    fs: LakeFS | None = None,
):
    """Yield (version, {abs path: (partitionValues, dv)}) for
    from_version and every later version up to to_version, with ONE pass
    over the log — the change feed's incremental replay (calling
    _delta_live_state per version would re-parse the whole log each
    step: O(V²)).

    from_version == -1 (pre-creation) BOOTSTRAPS: with commit 0 in the
    log the empty state yields first; with a checkpoint hiding earlier
    commits, the checkpoint state itself yields as the first step (its
    rows arrive as inserts) — so a fresh consumer can always start on
    an old table. 0 <= from_version < checkpoint still raises (a
    genuine time-travel gap). The replay enforces the same
    reader-compat guard as _delta_live_state — a feed must refuse
    column-mapped / unknown-feature tables loudly, not replicate
    misread rows."""
    fs = fs or LocalFS()
    log_dir = os.path.join(table_path, "_delta_log")
    if not fs.isdir(log_dir):
        raise ValueError(f"{table_path} has no _delta_log — not a Delta table")
    _check_reader_compat(
        table_path,
        delta_protocol(table_path, fs=fs),
        delta_table_meta(table_path, fs=fs),
    )
    start_version, cp_files = _checkpoint_parts(log_dir, fs)
    if 0 <= from_version < start_version:
        raise ValueError(
            f"from_version {from_version} precedes the earliest "
            f"replayable state (checkpoint {start_version}) — older "
            "commits may have been cleaned"
        )
    live: dict[str, tuple[dict, dict | None]] = {}
    if cp_files:
        for action in _checkpoint_actions(
            fs, log_dir, cp_files, wanted=("add",)
        ):
            if "add" in action and action["add"].get("path"):
                rec = action["add"]
                live[rec["path"]] = (
                    dict(rec.get("partitionValues") or {}),
                    rec.get("deletionVector") or None,
                )

    def snap():
        return {os.path.join(table_path, p): st for p, st in live.items()}

    if from_version < 0:
        yield -1, {}
        if start_version >= 0:
            # checkpoint bootstrap: its state is the first step's "to"
            # side, so the pre-checkpoint table arrives as inserts
            yield start_version, snap()
    elif from_version == start_version:
        yield from_version, snap()  # the checkpoint IS the base state
    for c in sorted(fs.glob(os.path.join(log_dir, "*.json"))):
        version = int(os.path.basename(c).split(".")[0])
        if version <= start_version:
            continue
        if version > to_version:
            break
        for line in _log_lines(fs, c):
            action = json.loads(line)
            if "add" in action:
                live[action["add"]["path"]] = (
                    dict(action["add"].get("partitionValues") or {}),
                    action["add"].get("deletionVector") or None,
                )
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
        if version >= from_version:
            yield version, snap()


def delta_protocol(
    table_path: str, fs: LakeFS | None = None
) -> dict | None:
    """Latest `protocol` action of the log (checkpoint first, then
    commits) — what a feature-upgrading commit must MERGE with rather
    than replace."""
    fs = fs or LocalFS()
    log_dir = os.path.join(table_path, "_delta_log")
    if not fs.isdir(log_dir):
        raise ValueError(f"{table_path} has no _delta_log — not a Delta table")
    proto = None
    start_version, cp_files = _checkpoint_parts(log_dir, fs)
    for action in _checkpoint_actions(
        fs, log_dir, cp_files, wanted=("protocol",)
    ):
        if "protocol" in action:
            proto = action["protocol"]
    for c in sorted(fs.glob(os.path.join(log_dir, "*.json"))):
        if int(os.path.basename(c).split(".")[0]) <= start_version:
            continue
        for line in _log_lines(fs, c):
            a = json.loads(line)
            if "protocol" in a:
                proto = a["protocol"]
    return proto


def delta_live_dvs(
    table_path: str,
    version_as_of: int | None = None,
    fs: LakeFS | None = None,
) -> dict[str, dict]:
    """{absolute data-file path: deletionVector descriptor} for live
    files that carry one — the merge-on-read state readers must apply
    (storageType u/i/p, pathOrInlineDv, offset, cardinality)."""
    return {
        p: dv
        for p, (_, dv) in _delta_live_state(
            table_path, version_as_of, fs
        ).items()
        if dv
    }


def delta_live_files(
    table_path: str,
    version_as_of: int | None = None,
    fs: LakeFS | None = None,
    on_deletes: str = "raise",
) -> list[str]:
    """Replay the _delta_log: returns absolute paths of live data files
    (see delta_live_adds for the partitionValues-carrying form).

    `on_deletes`: "raise" (default) refuses snapshots whose files carry
    DELETION VECTORS — treating such a file as fully live would surface
    ghost rows (the index layer's safety stance, same as the Iceberg
    backend's positional-delete refusal). "ignore" returns the file list
    anyway — for liveness/vacuum accounting and for readers that APPLY
    the vectors (DeltaSnapshotLake.read)."""
    state = _delta_live_state(table_path, version_as_of, fs)
    if on_deletes == "raise":
        n_dv = sum(1 for _, dv in state.values() if dv)
        if n_dv:
            raise ValueError(
                f"table has {n_dv} file(s) with deletion vectors — this "
                "path treats files as fully live and would surface ghost "
                "rows. DeltaSnapshotLake.read(), build_index() and "
                "predicate search() are merge-on-read-aware; "
                "delta_rewrite_deletes() compacts the vectors for "
                "everything else (top-K search, copy-on-write DML)"
            )
    return sorted(state)


def dv_positions_df(spark, table_path: str, dvs: dict[str, dict]):
    """(file_path, pos) DataFrame of DELETED row positions decoded
    EXECUTOR-SIDE from deletion-vector descriptors. file_path is the
    data file's absolute path.

    Storage types per the protocol: "i" inline Z85 bitmap in the log
    (decoded straight from the descriptor — no I/O); "u" Z85-UUID-named
    `deletion_vector_<uuid>.bin` under the table (optional random
    prefix); "p" absolute path. File-backed vectors are loaded through
    Spark's binaryFile source — the SAME filesystem plane as the data
    files (works on s3a://; a raw python open() would not) — one content
    row per DISTINCT bin file, with that bin's descriptor list (data
    file, offset) captured by value, so shared bins decode all their
    vectors in one task without duplicating bytes."""
    import re as _re

    from rottnest_spark.sources.roaring import make_dv_decoder

    decode = make_dv_decoder()  # self-contained closure (ships by value)

    def canon(p: str) -> str:
        if "://" in p:
            return p
        return os.path.abspath(_re.sub("^file:/+", "/", p))

    inline: list[tuple[str, str]] = []  # (data file, z85 bitmap)
    by_bin: dict[str, list[tuple[str, int]]] = {}  # bin -> [(file, off)]
    # emitted file_path is CANONICAL (abspath, URI-safe): descriptor keys
    # come from the log replay (os.path.join(table_path, rel) — relative
    # whenever table_path is relative) while every consumer joins against
    # `_metadata.file_path` tags, which are always absolute
    dvs = {canon(fp): d for fp, d in dvs.items()}
    for fp, d in sorted(dvs.items()):
        st = str(d.get("storageType") or "")
        pi = str(d.get("pathOrInlineDv") or "")
        if st == "i":
            inline.append((fp, pi))
        elif st in ("u", "p"):
            if st == "p":
                path = pi if os.path.isabs(pi) else os.path.join(table_path, pi)
            else:
                # [optional random prefix +] z85(uuid16) = 20 chars
                import uuid as _uuid

                prefix, enc = pi[:-20], pi[-20:]
                path = os.path.join(
                    table_path,
                    prefix,
                    f"deletion_vector_{_uuid.UUID(bytes=decode.z85_decode(enc))}.bin",
                )
            off = -1 if d.get("offset") is None else int(d["offset"])
            by_bin.setdefault(canon(path), []).append((fp, off))
        else:
            raise ValueError(f"unknown deletionVector storageType {st!r}")

    out_schema = "file_path string, pos long"
    parts = []
    if inline:
        from rottnest_spark.core.smalldf import local_df

        # slices ARE the decode partitioning — no round-robin shuffle of
        # a 32-slice pickled relation (guide §4)
        desc = local_df(
            spark, inline, "file_path string, inline string",
            slices=max(1, min(len(inline), 32)),
        )

        def gen_inline(batches):
            import pandas as _pd

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    pos = decode(decode.z85_decode(r.inline))
                    yield _pd.DataFrame(
                        {"file_path": r.file_path, "pos": pos.astype("int64")}
                    )

        parts.append(desc.mapInPandas(gen_inline, out_schema))
    if by_bin:
        targets = dict(by_bin)  # captured by value — metadata scale
        bins = (
            spark.read.format("binaryFile")
            .load(sorted(by_bin))
            .select("path", "content")
        )

        def gen_bins(batches):
            import os as _os
            import re as _re2

            import pandas as _pd

            def _canon(p):
                if "://" in p:
                    return p
                return _os.path.abspath(_re2.sub("^file:/+", "/", p))

            for pdf in batches:
                for r in pdf.itertuples(index=False):
                    data = bytes(r.content)
                    for fp, off in targets[_canon(r.path)]:
                        pos = decode(data, None if off < 0 else off)
                        yield _pd.DataFrame(
                            {"file_path": fp, "pos": pos.astype("int64")}
                        )

        parts.append(bins.mapInPandas(gen_bins, out_schema))
    if not parts:
        return spark.createDataFrame([], out_schema)
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


def apply_deletion_vectors(
    spark, df, table_path: str, dvs: dict[str, dict], pairs=None
):
    """Anti-join a freshly-scanned DataFrame (its `_metadata` column must
    still resolve) against the decoded deletion-vector positions — the
    Delta merge-on-read read semantics (one distributed anti-join, AQE
    broadcast-converts it when the delete set is small). Pass `pairs`
    (a pre-decoded, ideally checkpointed positions DataFrame) when
    applying to several scans so the decode runs once."""
    from pyspark.sql import functions as F

    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    if pairs is None:
        pairs = dv_positions_df(spark, table_path, dvs)
    pairs = pairs.select(
        norm(F.col("file_path")).alias("__del_path"),
        F.col("pos").alias("__del_pos"),
    )
    tagged = df.withColumns(
        {
            "__del_path": _uri_path(F.col("_metadata.file_path")),
            "__del_pos": F.col("_metadata.row_index"),
        }
    )
    return tagged.join(pairs, ["__del_path", "__del_pos"], "left_anti").drop(
        "__del_path", "__del_pos"
    )


def delta_table_meta(
    table_path: str, fs: LakeFS | None = None
) -> dict | None:
    """Latest metaData action (schemaString, partitionColumns, ...) from
    the log — checkpoint first (it snapshots metaData), then any commit
    after it. None when the table has no metaData (not spec-valid, but
    degrade gracefully to 'unpartitioned, schema from footers')."""
    fs = fs or LocalFS()
    log_dir = os.path.join(table_path, "_delta_log")
    if not fs.isdir(log_dir):
        raise ValueError(f"{table_path} has no _delta_log — not a Delta table")
    meta = None
    start_version, cp_files = _checkpoint_parts(log_dir, fs)
    for action in _checkpoint_actions(
        fs, log_dir, cp_files, wanted=("metaData",)
    ):
        if "metaData" in action and action["metaData"].get("id"):
            meta = action["metaData"]
    for c in sorted(fs.glob(os.path.join(log_dir, "*.json"))):
        if int(os.path.basename(c).split(".")[0]) <= start_version:
            continue
        for line in _log_lines(fs, c):
            a = json.loads(line)
            if "metaData" in a:
                meta = a["metaData"]
    return meta


def delta_partition_columns(
    table_path: str, fs: LakeFS | None = None
) -> list[str]:
    meta = delta_table_meta(table_path, fs=fs)
    return list((meta or {}).get("partitionColumns") or [])


def delta_schema(table_path: str, fs: LakeFS | None = None):
    """The table's full Spark schema (INCLUDING partition columns, which
    data files do not physically carry) as a StructType, or None."""
    from pyspark.sql.types import StructType

    meta = delta_table_meta(table_path, fs=fs)
    ss = (meta or {}).get("schemaString")
    return StructType.fromJson(json.loads(ss)) if ss else None


def delta_known_files(
    table_path: str, fs: LakeFS | None = None
) -> list[str]:
    """Every data file the log has EVER referenced (live + logically
    removed): the add actions of all commits and checkpoints, ignoring
    later removes. Writable lakes diff the physical dir against this set
    to find a rewrite's new files — a logically-removed file stays on
    disk (format semantics) and must never be mistaken for new."""
    fs = fs or LocalFS()
    log_dir = os.path.join(table_path, "_delta_log")
    if not fs.isdir(log_dir):
        raise ValueError(f"{table_path} has no _delta_log — not a Delta table")
    known: set[str] = set()
    _, cp_files = _checkpoint_parts(log_dir, fs)
    for action in _checkpoint_actions(
        fs, log_dir, cp_files, wanted=("add", "remove")
    ):
        for key in ("add", "remove"):
            if key in action and action[key].get("path"):
                known.add(action[key]["path"])
    for c in sorted(fs.glob(os.path.join(log_dir, "*.json"))):
        for line in _log_lines(fs, c):
            action = json.loads(line)
            for key in ("add", "remove"):
                if key in action:
                    known.add(action[key]["path"])
    return sorted(os.path.join(table_path, p) for p in known)


class DeltaSnapshotLake(ParquetLake):
    """ParquetLake over a Delta snapshot. `.files` replays the log on each
    access (the log is metadata-scale), so incremental builds and searches
    always see the latest snapshot — or, with `version_as_of`, a pinned
    historical snapshot (time travel): searches then cover exactly that
    version's files, reusing whatever indexes apply and in-situ scanning
    the rest."""

    def __init__(
        self,
        spark,
        table_path: str,
        index_dir: str,
        version_as_of: int | None = None,
        **kw,
    ):
        super().__init__(spark, table_path, index_dir, **kw)
        self._table_path = table_path
        self._version_as_of = version_as_of
        self._state_cache: tuple | None = None  # (fingerprint, state)
        self._meta_cache: tuple | None = None  # (fingerprint, metaData)

    def _log_fingerprint(self) -> tuple:
        """Cheap freshness key: latest commit version + checkpoint
        version (one glob + the _last_checkpoint pointer). The full log
        replay is cached against this — a snapshot lake's read/search
        resolves the log MANY times per logical operation (plan, row
        filter, partition reconstruction), and every resolution at the
        same version must agree anyway."""
        log_dir = os.path.join(self._table_path, "_delta_log")
        versions = [
            int(os.path.basename(p).split(".")[0])
            for p in self.fs.glob(os.path.join(log_dir, "*.json"))
        ]
        cp_v, _ = _checkpoint_parts(log_dir, self.fs)
        return (max(versions, default=-1), cp_v, self._version_as_of)

    def _live_state(self) -> dict[str, tuple[dict, dict | None]]:
        key = self._log_fingerprint()
        if self._state_cache is not None and self._state_cache[0] == key:
            return self._state_cache[1]
        st = _delta_live_state(
            self._table_path, self._version_as_of, fs=self.fs
        )
        self._state_cache = (key, st)
        return st

    def _table_meta(self) -> dict | None:
        key = self._log_fingerprint()
        if self._meta_cache is not None and self._meta_cache[0] == key:
            return self._meta_cache[1]
        m = delta_table_meta(self._table_path, fs=self.fs)
        self._meta_cache = (key, m)
        return m

    def _table_proto(self) -> dict | None:
        key = self._log_fingerprint()
        cached = getattr(self, "_proto_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        p = delta_protocol(self._table_path, fs=self.fs)
        self._proto_cache = (key, p)
        return p

    def _refuse_widening_for_index(self, what: str) -> None:
        """Index paths read data-file bytes at their RAW (pre-widen)
        types — keys and zone stats would disagree with the table's
        widened schema. read(), DML, diffs and feeds pin the
        schemaString and up-cast per file; index builds/searches refuse
        until the narrow files are physically rewritten."""
        if _widening_active(self._table_proto()):
            raise ValueError(
                f"{self._table_path}: type widening is active "
                f"(readerFeatures) — {what} reads raw pre-widen column "
                "types and would index/compare the narrow values. "
                "read(), DML, snapshot diffs and change feeds support "
                "this table; rewrite the widened columns physical "
                "before indexing"
            )

    # -- column mapping (NAME mode round 7, ID mode + nested round 8) --------
    # Everything above the scan layer — search plans, refine joins,
    # brute_force predicates, user code — speaks LOGICAL names; the scan
    # layer translates: index builds read the physical column
    # (_physical_column hook, name-alignment-guarded in ID mode), every
    # returned frame renames physical→logical at every nesting level
    # (_to_logical), and ID-mode scans resolve columns by parquet field
    # id via an explicit read schema.

    def _cmap(self) -> dict[str, str]:
        return column_mapping_from_meta(self._table_meta())

    def _cm_mode(self) -> str | None:
        return _cm_mode(self._table_meta())

    def _phys_schema(self):
        return delta_physical_schema(
            self._table_meta(), proto=self._table_proto()
        )

    def _physical_column(self, column: str) -> str:
        return self._cmap().get(column, column)

    def _to_logical(self, df):
        return to_logical_frame(df, self._table_meta())

    @property
    def files(self) -> list[str]:
        self._refuse_widening_for_index("top-K / copy-on-write paths")
        st = self._live_state()
        n_dv = sum(1 for _, dv in st.values() if dv)
        if n_dv:
            raise ValueError(
                f"table has {n_dv} file(s) with deletion vectors — this "
                "path treats files as fully live and would surface ghost "
                "rows. DeltaSnapshotLake.read(), build_index() and "
                "predicate search() are merge-on-read-aware; "
                "delta_rewrite_deletes() compacts the vectors for "
                "everything else (top-K search, copy-on-write DML)"
            )
        return sorted(st)

    # -- type widening x indexing (round 10) --------------------------
    # build_index() and predicate search() now WORK on widened tables:
    # both wrap in a read-schema pin (sources/reader.py read_schema_pin)
    # so every scan they construct — whole-file read_parquet, row-group
    # pyarrow fetches, the refine candidate read — decodes pre-widen
    # narrow files AT the widened logical type (Spark's parquet up-cast
    # / arrow cast per batch). Index keys and zone stats then agree with
    # what read() surfaces. Everything not yet routed through the pin
    # (top-K search, lookup/read_rows_at) still refuses loudly.

    def _widen_scope(self):
        import contextlib

        if not _widening_active(self._table_proto()):
            return contextlib.nullcontext()
        from rottnest_spark.sources.reader import read_schema_pin

        return read_schema_pin(self._phys_schema())

    def search(self, *a, **kw):
        # search() constructs its full plan (index probe + refine scan)
        # eagerly inside this call; the returned DataFrame's plan has
        # the pinned schema baked in, so later .collect() is covered
        with self._widen_scope():
            return super().search(*a, **kw)

    def search_many(self, *a, **kw):
        with self._widen_scope():
            return super().search_many(*a, **kw)

    def search_conj(self, *a, **kw):
        with self._widen_scope():
            return super().search_conj(*a, **kw)

    def search_disj(self, *a, **kw):
        with self._widen_scope():
            return super().search_disj(*a, **kw)

    def count_matches(self, *a, **kw):
        with self._widen_scope():
            return super().count_matches(*a, **kw)

    # merge-on-read search contract (core/lake.py hooks): predicate
    # searches stay EXACT on DV-bearing snapshots — plan over the data
    # files (vectors ignored: files stay live, index entries stay valid
    # as supersets), refine anti-joins the decoded deleted positions.
    # Top-K search refuses in `ParquetLake._plan`.
    def _search_files(self) -> list[str]:
        from rottnest_spark.sources.reader import pinned_read_schema

        if pinned_read_schema() is None:
            # every in-repo search path (search/search_many/conj/disj,
            # count_matches, ...) wraps itself in _widen_scope(), so this
            # refusal now only guards EXTERNAL or core callers that reach
            # _search_files outside a widen pin — those would scan raw
            # narrow types
            self._refuse_widening_for_index("predicate index search")
        return sorted(self._live_state())

    def _search_row_filter(self):
        dvs = {
            p: dv for p, (_, dv) in self._live_state().items() if dv
        }
        if not dvs:
            return None
        spark, tp = self.spark, self._table_path
        key = self._log_fingerprint()

        def rf(df):
            from pyspark.sql import functions as F

            # decode once per snapshot: batched searches apply the
            # filter per query — the eager local checkpoint stops each
            # one re-reading and re-decoding every vector
            cached = getattr(self, "_rf_pairs_cache", None)
            if cached is not None and cached[0] == key:
                pairs = cached[1]
            else:
                pairs = dv_positions_df(spark, tp, dvs).localCheckpoint(
                    eager=True
                )
                self._rf_pairs_cache = (key, pairs)
            pairs = pairs.select(
                F.regexp_replace(F.col("file_path"), "^file:/+", "/").alias(
                    "__path"
                ),
                F.col("pos").alias("__pos"),
            )
            return df.join(pairs, ["__path", "__pos"], "left_anti").drop(
                "__path", "__pos"
            )

        return rf

    def _whole_file_units(self, columns=None) -> bool:
        """Column-mapped tables need the physical→logical rename, and a
        partition column asked for is reconstructed per file — both
        degrade candidate units to FILE granularity through self.read()
        (correct columns + delete state); otherwise the row-group-precise
        base path serves."""
        pcols = set((self._table_meta() or {}).get("partitionColumns") or [])
        return bool(
            self._cmap() or (pcols if columns is None else pcols & set(columns))
        )

    def build_index(self, index, column: str, *a, **kw):
        """Partition columns are path-encoded, not physical — an index
        over one would build against the reconstructed read but refine
        against data files that lack the column. Partition PRUNING
        (`partition_pruned(col=value)`) already serves those predicates
        at zero index cost, so refuse with that pointer."""
        if column in delta_partition_columns(self._table_path, fs=self.fs):
            raise ValueError(
                f"{column!r} is a partition column — it has no physical "
                "column in the data files. Use partition_pruned("
                f"{column}=...) for exact pruning instead of an index."
            )
        if self._cm_mode() == "id":
            self._check_id_names_aligned(column)
        with self._widen_scope():
            return super().build_index(index, column, *a, **kw)

    def _check_id_names_aligned(self, column: str) -> None:
        """ID-mode tables resolve scan columns by parquet FIELD ID — but
        index builders read raw data files by column NAME. That shortcut
        is only sound when the file's physical names agree with the
        metaData's physicalName for the same field id (how compliant
        writers, including ours, lay files out). One footer peek of one
        live file decides (lake invariant: uniform schema); a mismatch
        refuses the build with a pointer at the always-correct paths."""
        import json as _json

        import pyarrow.parquet as _pq

        meta = self._table_meta() or {}
        phys = self._physical_column(column)
        fields = _json.loads(meta["schemaString"]).get("fields", [])
        want_id = next(
            (
                (f.get("metadata") or {}).get("delta.columnMapping.id")
                for f in fields
                if f["name"] == column
            ),
            None,
        )
        if want_id is None:
            raise ValueError(
                f"{column!r} is not a column of {self._table_path}"
            )
        st = self._live_state()
        if not st:
            return
        probe = sorted(st)[0]
        sch = _pq.ParquetFile(probe).schema.to_arrow_schema()
        idx = sch.get_field_index(phys)
        got_id = None
        if idx >= 0:
            md = sch.field(idx).metadata or {}
            raw = md.get(b"PARQUET:field_id")
            got_id = int(raw) if raw is not None else None
        if idx < 0 or got_id != int(want_id):
            raise ValueError(
                f"{self._table_path}: id-mode table whose data-file "
                f"column names do not line up with physicalName "
                f"({phys!r} -> field id {got_id} vs metaData id "
                f"{want_id}) — index builds read files by name and "
                "would misread; read()/search() stay correct (field-id "
                "resolution), but build_index refuses"
            )

    def _base_read(self, fl: list[str], dvs: dict[str, dict], pairs=None):
        """Scan `fl`, applying the snapshot's deletion vectors when
        present — one shared tagged scan (sources/reader.py handles the
        `_metadata` tagging and nanosecond timestamps), one anti-join."""
        from rottnest_spark.sources import reader as _reader

        schema = self._phys_schema()
        if schema is None:
            # unmapped, unwidened: still pin the log's schemaString (the
            # TABLE schema per the protocol — round 10, for ADD COLUMN
            # evolution) minus partition columns (data files lack them;
            # the partition branch reconstructs). Files missing an
            # evolved column then read null for it deterministically,
            # instead of inference typing the table from whichever
            # footer Spark samples.
            _meta = self._table_meta() or {}
            ss = _meta.get("schemaString")
            parsed = None
            if ss:
                try:
                    parsed = json.loads(ss)
                except ValueError:
                    parsed = None
            if isinstance(parsed, dict) and parsed.get("fields"):
                from pyspark.sql.types import StructType

                full = StructType.fromJson(parsed)
                pcols = set(_meta.get("partitionColumns") or [])
                schema = StructType(
                    [f for f in full.fields if f.name not in pcols]
                )
            # degenerate/absent schemaString: stay on inference
        fid = self._cm_mode() == "id"
        if not dvs:
            return self._to_logical(
                _reader.read_parquet(
                    self.spark, fl, schema=schema, field_id=fid
                )
            )
        from pyspark.sql import functions as F

        df = _reader.read_parquet_tagged(
            self.spark, fl, schema=schema, field_id=fid
        )
        if pairs is None:
            pairs = dv_positions_df(self.spark, self._table_path, dvs)
        pairs = pairs.select(
            _norm_col(F.col("file_path")).alias("__path"),
            F.col("pos").alias("__pos"),
        )
        return self._to_logical(
            df.join(pairs, ["__path", "__pos"], "left_anti").drop(
                "__path", "__pos"
            )
        )

    def read_with_lineage(self):
        """Snapshot read carrying the ROW-TRACKING column `_row_id`
        (PROTOCOL.md Row Tracking — the Delta twin of Iceberg v3 row
        lineage): _row_id = the file's baseRowId + the row's position,
        stable across DV deletes/upserts because positions never move;
        physical rewrites re-mint (materialization-before-rewrite is
        the documented seam). Requires delta_enable_row_tracking (which
        assigns ids to existing files); partitioned tables refuse (the
        reconstruction path drops row positions)."""
        from pyspark.sql import functions as F

        from rottnest_spark.sources.reader import read_parquet_tagged

        meta = self._table_meta()
        if not delta_row_tracking_enabled(meta):
            raise ValueError(
                "row tracking is not enabled on this table — run "
                "delta_enable_row_tracking(table_path) first"
            )
        if (meta or {}).get("partitionColumns"):
            raise ValueError(
                "read_with_lineage on a partitioned table — partition "
                "reconstruction drops row positions; unsupported"
            )
        state = self._live_state()
        if not state:
            raise ValueError(
                f"Delta table at {self._table_path!r} has no live files"
            )
        ids, _hwm = delta_row_id_state(self._table_path, fs=self.fs)
        missing = [p for p in state if p not in ids]
        if missing:
            raise ValueError(
                f"{len(missing)} live file(s) have no baseRowId — "
                "re-run delta_enable_row_tracking to assign, then "
                "re-read"
            )
        df = read_parquet_tagged(
            self.spark,
            sorted(state),
            schema=self._phys_schema(),
            field_id=self._cm_mode() == "id",
        )
        dvs = {p: dv for p, (_, dv) in state.items() if dv}
        if dvs:
            pairs = dv_positions_df(
                self.spark, self._table_path, dvs
            ).select(
                _norm_col(F.col("file_path")).alias("__path"),
                F.col("pos").alias("__pos"),
            )
            df = df.join(pairs, ["__path", "__pos"], "left_anti")
        df = self._to_logical(df)
        from rottnest_spark.core.smalldf import local_df

        rows = [
            (canon_path(p), int(ids[p][0])) for p in sorted(state)
        ]
        m = local_df(self.spark, rows, "__path string, __base long")
        return (
            df.join(F.broadcast(m), "__path", "left")
            .withColumn("_row_id", F.col("__base") + F.col("__pos"))
            .drop("__path", "__pos", "__base")
        )

    def read(self, files: list[str] | None = None):
        """Snapshot read with PARTITION-COLUMN reconstruction: Delta data
        files do not physically carry partition columns — their values
        live in the log's add actions. Unpartitioned tables take the base
        path untouched.

        Merge-on-read: files carrying DELETION VECTORS (the v2+ Delta
        row-level-delete state Databricks writes by default) have their
        deleted positions APPLIED — executor-side roaring decode, one
        anti-join (sources/roaring.py; the index layer refuses such
        snapshots instead, `.files`).

        Plan shape (scale): one `spark.read.parquet` over the whole file
        set with `basePath` + the log's schemaString when the layout is
        hive-encoded and consistent with the log (one scan; Spark prunes
        and types partition columns from the explicit schema — no
        inference, no per-partition jobs). Non-hive layouts (Delta allows
        arbitrary file names) fall back to one scan per DISTINCT
        partition tuple with typed literal columns, unioned — bounded by
        partition count, not file count."""
        state = self._live_state()
        dvs = {p: dv for p, (_, dv) in state.items() if dv}
        all_live = sorted(state)
        pcols = list((self._table_meta() or {}).get("partitionColumns") or [])
        if pcols and self._cmap():
            # supported when partition columns' physical == logical
            # names (always true for tables this engine upgraded or
            # evolved — rename/drop refuse partition columns)
            check_partition_mapping_aligned(
                self._table_meta(), f"read of {self._table_path}"
            )
        if not pcols:
            use = files or all_live
            if not use:
                raise ValueError(
                    f"Delta table at {self._table_path!r} has no live "
                    "data files"
                )
            return self._base_read(use, dvs)
        use = files or all_live
        if not use:
            raise ValueError(
                f"Delta table at {self._table_path!r} has no live data files"
            )
        adds = {p: pv for p, (pv, _) in state.items()}
        from pyspark.sql.types import StructType

        _ss = (self._table_meta() or {}).get("schemaString")
        schema = StructType.fromJson(json.loads(_ss)) if _ss else None
        unknown = [f for f in use if f not in adds]
        if unknown:
            raise ValueError(
                f"files not in the Delta snapshot: {unknown[:3]} — "
                "partition values unknown"
            )

        def hive_consistent(f: str) -> bool:
            from urllib.parse import unquote

            segs = os.path.relpath(f, self._table_path).split(os.sep)[:-1]
            got = {}
            for s in segs:
                if "=" in s:
                    k, _, v = s.partition("=")
                    got[k] = (
                        None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
                    )
            return all(got.get(c) == adds[f].get(c) for c in pcols)

        if schema is not None and all(hive_consistent(f) for f in use):
            # mapped tables scan PHYSICAL names (partition columns are
            # alignment-checked above, so their hive segments type under
            # the same name) and rename back; unmapped scan the logical
            # schemaString directly
            df = (
                self.spark.read.schema(self._phys_schema() or schema)
                .option("basePath", self._table_path)
                .parquet(*use)
            )
            if dvs:
                df = apply_deletion_vectors(
                    self.spark, df, self._table_path, dvs
                )
            return self._to_logical(df)
        # fallback: group by partition tuple, literal columns, one union
        from pyspark.sql import functions as F

        groups: dict[tuple, list[str]] = {}
        for f in use:
            key = tuple((adds[f] or {}).get(c) for c in pcols)
            groups.setdefault(key, []).append(f)
        types = {f.name: f.dataType for f in schema.fields} if schema else {}
        # decode the vectors ONCE for all partition groups: the eager
        # local checkpoint materializes the positions so each group's
        # anti-join reuses them instead of re-running the decode job
        shared = None
        if dvs and len(groups) > 1:
            shared = dv_positions_df(
                self.spark, self._table_path, dvs
            ).localCheckpoint(eager=True)
        parts = []
        for key, fl in sorted(groups.items()):
            df = self._base_read(fl, dvs, pairs=shared)
            for c, v in zip(pcols, key):
                lit = F.lit(v)
                if c in types:
                    lit = lit.cast(types[c])
                df = df.withColumn(c, lit)
            parts.append(df)
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out
