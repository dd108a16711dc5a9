"""Read-only Apache Iceberg snapshot listing — the reference's PRIMARY
catalog backend (backends/iceberg.py:52-493) re-expressed over the public
Iceberg table spec, without pyiceberg (not in this environment).

Only one question matters to the index layer: *which data files are live in
the current snapshot*. The spec's answer:

    metadata/vN.metadata.json  →  current-snapshot-id + snapshot list
    snapshot.manifest-list     →  Avro file listing manifest files
    manifest (Avro)            →  entries (status, data_file{file_path,...})

Avro decoding is the hand-rolled spec codec in `avro_lite` (schema-driven,
reads manifests written by any engine; null/deflate codecs).

Row-level deletes (v2 merge-on-read) — EXCEEDS the reference, which
refuses delete-bearing tables outright (backends/iceberg.py:279-280):
- `IcebergSnapshotLake.read()` APPLIES positional delete files: data rows
  are anti-joined against the union of the snapshot's delete files on
  (file_path, row position) using Spark's `_metadata.file_path` /
  `_metadata.row_index` — one distributed anti-join, no driver state;
- PREDICATE index search and `build_index` are merge-on-read-aware
  (core/lake.py `_search_files`/`_search_row_filter` hooks): indexes
  are supersets over deleted rows and every refine path anti-joins the
  delete state, so results stay exact with NO compaction. Paths that
  treat files as fully live (`.files`, top-K probes like bm25_topk,
  copy-on-write DML) still refuse; `iceberg_rewrite_deletes`
  (sources/iceberg_write.py) compacts the deletes for those;
- EQUALITY deletes (content=2, the Flink-CDC shape) are applied by
  `read()` with the spec's sequence-number rule — a delete removes
  matching rows only from data files with a STRICTLY SMALLER data
  sequence number (null-safe value comparison on the schema columns the
  manifest's equality_ids name); index/search paths refuse
  equality-delete tables (value deletes don't fit the (path, pos)
  row-filter contract);
- unreadable manifest lists / unknown codecs raise instead of returning a
  partial live set.

Path relocation: metadata records absolute URIs under the table's original
`location`; tables are routinely copied/mounted elsewhere, so paths are
rebased onto the actual table directory (file:// URIs normalized).
"""

from __future__ import annotations


import json
import os
import re

from rottnest_spark.core.fs import canon_path
from rottnest_spark.sources.reader import uri_path_col as _uri_path
from rottnest_spark.core.lake import ParquetLake
from rottnest_spark.sources.avro_lite import read_ocf


def _norm_uri(p: str) -> str:
    return re.sub(r"^file:/+", "/", p)


def _rebase(path: str, location: str, table_path: str) -> str:
    """Map a metadata-recorded absolute path onto the actual table dir."""
    path, location = _norm_uri(path), _norm_uri(location).rstrip("/")
    if location and path.startswith(location + "/"):
        return os.path.join(table_path, path[len(location) + 1 :])
    if os.path.isabs(path) and os.path.exists(path):
        return path
    return os.path.join(table_path, path.lstrip("/"))


def _current_metadata(table_path: str, fs=None) -> dict:
    from rottnest_spark.core.fs import LocalFS

    fs = fs or LocalFS()
    meta_dir = os.path.join(table_path, "metadata")
    if not fs.isdir(meta_dir):
        raise ValueError(
            f"{table_path} has no metadata/ dir — not an Iceberg table"
        )
    hint = os.path.join(meta_dir, "version-hint.text")
    if fs.exists(hint):
        v = fs.read_text(hint).strip()
        cand = [
            os.path.join(meta_dir, f"v{v}.metadata.json"),
            os.path.join(meta_dir, f"{v}.metadata.json"),
        ]
        for c in cand:
            if fs.exists(c):
                return json.loads(fs.read_text(c))
        raise ValueError(
            f"version-hint.text names version {v} but no matching "
            f"metadata.json exists"
        )
    files = fs.glob(os.path.join(meta_dir, "*.metadata.json"))
    if not files:
        raise ValueError(f"{meta_dir} has no *.metadata.json")

    def _ver(f: str) -> int:
        m = re.match(r"v?(\d+)", os.path.basename(f))
        return int(m.group(1)) if m else -1

    return json.loads(fs.read_text(max(files, key=_ver)))


def iceberg_live_files(table_path: str, fs=None) -> list[str]:
    """Absolute paths of the data files live in the CURRENT snapshot."""
    return live_files_from_metadata(
        _current_metadata(table_path, fs), table_path, fs
    )


def live_files_from_metadata(md: dict, table_path: str, fs=None) -> list[str]:
    """Current-snapshot live set from an already-loaded TableMetadata dict —
    the shared core for storage-resolved metadata (`_current_metadata`) and
    catalog-served metadata (the REST adapter's LoadTableResult,
    sources/iceberg_rest.py)."""
    snap_id = md.get("current-snapshot-id")
    snaps = md.get("snapshots", [])
    if snap_id in (None, -1) or not snaps:
        return []  # empty table: no snapshot yet
    by_id = {s["snapshot-id"]: s for s in snaps}
    if snap_id not in by_id:
        raise ValueError(
            f"current-snapshot-id {snap_id} not in the snapshot list"
        )
    return sorted(_snapshot_data_files(md, by_id[snap_id], table_path, fs))


def iceberg_history_files(
    table_path: str,
    history_days: float,
    now_ms: int | None = None,
    fs=None,
) -> list[str]:
    """Union of data files across every snapshot whose `timestamp-ms` falls
    within the last `history_days`, plus the current snapshot regardless of
    age — the reference's history-aware vacuum liveness set
    (backends/iceberg.py:307-384: indexes covering files readable by
    time-travel within the retention window must survive vacuum).

    `now_ms` defaults to the newest snapshot timestamp (wall-clock-free, so
    tests and replayed tables behave deterministically)."""
    return history_files_from_metadata(
        _current_metadata(table_path, fs), table_path, history_days, now_ms,
        fs=fs,
    )


def history_files_from_metadata(
    md: dict,
    table_path: str,
    history_days: float,
    now_ms: int | None = None,
    fs=None,
) -> list[str]:
    snaps = md.get("snapshots", [])
    if not snaps:
        return []
    stamps = [int(s.get("timestamp-ms") or 0) for s in snaps]
    ref = now_ms if now_ms is not None else max(stamps)
    cutoff = ref - int(history_days * 86_400_000)
    cur = md.get("current-snapshot-id")
    keep: set[str] = set()
    for s, ts in zip(snaps, stamps):
        if ts >= cutoff or s["snapshot-id"] == cur:
            keep.update(
                _snapshot_data_files(md, s, table_path, fs, on_deletes="ignore")
            )
    return sorted(keep)


def iceberg_live_files_and_deletes(
    table_path: str, fs=None
) -> tuple[list[str], list[str]]:
    """(live data files, live positional delete files) of the CURRENT
    snapshot — the merge-on-read contract: readers must anti-join data
    rows against the delete files' (file_path, pos) pairs."""
    return files_and_deletes_from_metadata(
        _current_metadata(table_path, fs), table_path, fs
    )


def files_and_deletes_from_metadata(
    md: dict, table_path: str, fs=None
) -> tuple[list[str], list[str]]:
    """Metadata-level twin of `iceberg_live_files_and_deletes` — shared
    by the storage-resolved lake and the catalog-served lakes (REST,
    Glue), whose metadata freshness comes from the catalog pointer."""
    snap_id = md.get("current-snapshot-id")
    snaps = md.get("snapshots", [])
    if snap_id in (None, -1) or not snaps:
        return [], []
    by_id = {s["snapshot-id"]: s for s in snaps}
    if snap_id not in by_id:
        raise ValueError(
            f"current-snapshot-id {snap_id} not in the snapshot list"
        )
    data, dels = _snapshot_files_and_deletes(
        md, by_id[snap_id], table_path, fs
    )
    return sorted(data), sorted(dels)


def snapshot_state_from_metadata(md: dict, table_path: str, fs=None) -> dict:
    """CURRENT-snapshot full state (see `_snapshot_state`): data files
    with sequence numbers, positional delete files, and equality delete
    entries — the read path's input; empty state for empty tables."""
    snap_id = md.get("current-snapshot-id")
    snaps = md.get("snapshots", [])
    if snap_id in (None, -1) or not snaps:
        return {"data": {}, "pos_deletes": {}, "eq_deletes": [], "dvs": {}, "data_snap": {}, "data_info": {}, "data_spec": {}}
    by_id = {s["snapshot-id"]: s for s in snaps}
    if snap_id not in by_id:
        raise ValueError(
            f"current-snapshot-id {snap_id} not in the snapshot list"
        )
    return _snapshot_state(md, by_id[snap_id], table_path, fs)


def _current_schema(md: dict) -> dict:
    """The table's CURRENT schema, resolved the way the spec requires:
    spec-canonical `schemas` + `current-schema-id` first, legacy
    (deprecated) single `schema` key as the fallback. Every schema
    consumer must go through this — a v3 table written by a real engine
    omits the legacy key entirely, so reading only `schema` silently
    drops fields (and with them initial-defaults and their guards)."""
    if md.get("schemas"):
        sid = md.get("current-schema-id", 0)
        for s in md["schemas"]:
            if s.get("schema-id") == sid:
                return s
    return md.get("schema") or {}


#: iceberg primitive → spark cast target for v3 `initial-default` fills
#: where the JSON single-value serialization IS the plain literal (the
#: metadata value feeds F.lit directly).
_DEFAULTABLE_TYPES = {
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
}


def _parse_default(name: str, t: str, raw) -> tuple[object, str]:
    """(python literal, spark cast target) for one `initial-default`
    value per the spec's single-value JSON serialization
    (iceberg.apache.org/spec/#json-single-value-serialization):
    date/timestamp(tz) are ISO-8601 strings, decimal is a
    scale-preserving string, uuid is its canonical string, fixed/binary
    are hexadecimal strings. `timestamp` (no tz) is returned as the ISO
    string with a `timestamp_ntz` cast target — Spark parses the string
    directly into ntz with no session-timezone involvement, which a
    naive-datetime literal would not survive. Unparseable types (time,
    nanosecond timestamps, struct/list/map) refuse loudly: a wrong fill
    is silent corruption."""
    import datetime
    import decimal as _dec
    import re as _re

    if t in _DEFAULTABLE_TYPES:
        return raw, _DEFAULTABLE_TYPES[t]
    if t == "date":
        return datetime.date.fromisoformat(raw), "date"
    if t == "timestamp":
        return str(raw), "timestamp_ntz"
    if t == "timestamptz":
        dt = datetime.datetime.fromisoformat(str(raw).replace("Z", "+00:00"))
        if dt.tzinfo is None:
            raise ValueError(
                f"timestamptz initial-default {raw!r} on field {name!r} "
                "lacks a UTC offset — the spec serializes timestamptz "
                "with one; refusing instead of guessing a zone"
            )
        return dt, "timestamp"
    if t == "uuid":
        return str(raw), "string"
    m = _re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
    if m:
        return _dec.Decimal(str(raw)), f"decimal({m.group(1)},{m.group(2)})"
    if t == "binary" or _re.fullmatch(r"fixed\[\d+\]", t or ""):
        return bytes.fromhex(str(raw)), "binary"
    raise ValueError(
        f"Iceberg v3 field {name!r} carries an initial-default of type "
        f"{t!r} — fills are implemented for primitives "
        f"{sorted(_DEFAULTABLE_TYPES)} plus date/timestamp/timestamptz/"
        "decimal/uuid/fixed/binary; refusing instead of misreading"
    )


def _spark_ddl_of_iceberg(t) -> str:
    """Spark DDL type string for an iceberg type (string primitive or
    nested dict) — the cast target for nested default fills and the
    null-fill type for omitted struct fields."""
    import re as _re

    if isinstance(t, str):
        prim = {
            "int": "int", "long": "bigint", "float": "float",
            "double": "double", "string": "string", "boolean": "boolean",
            "date": "date", "timestamp": "timestamp_ntz",
            "timestamptz": "timestamp", "uuid": "string",
            "binary": "binary",
        }
        if t in prim:
            return prim[t]
        m = _re.fullmatch(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)", t)
        if m:
            return f"decimal({m.group(1)},{m.group(2)})"
        if _re.fullmatch(r"fixed\[\d+\]", t):
            return "binary"
        raise ValueError(f"no spark mapping for iceberg type {t!r}")
    kind = t.get("type")
    if kind == "struct":
        inner = ",".join(
            f"`{f['name']}`:{_spark_ddl_of_iceberg(f['type'])}"
            for f in t.get("fields", [])
        )
        return f"struct<{inner}>"
    if kind == "list":
        return f"array<{_spark_ddl_of_iceberg(t['element'])}>"
    if kind == "map":
        return (
            f"map<{_spark_ddl_of_iceberg(t['key'])},"
            f"{_spark_ddl_of_iceberg(t['value'])}>"
        )
    raise ValueError(f"no spark mapping for iceberg type {t!r}")


def _nested_default_column(name: str, t, raw):
    """pyspark Column for a NESTED (struct/list/map) `initial-default`
    per the spec's JSON single-value serialization (round 10; spec
    Appendix D): struct = JSON object keyed by FIELD ID as a string,
    list = JSON array of element values, map = {"keys": [...],
    "values": [...]}. Primitives inside recurse through _parse_default
    (same date/ts/decimal handling as top-level). A struct field id
    ABSENT from the object fills null of the field's type."""
    from pyspark.sql import functions as F

    if isinstance(t, str):
        v, cast_t = _parse_default(name, t, raw)
        return F.lit(v).cast(cast_t)
    kind = t.get("type")
    if kind == "struct":
        cols = []
        for f in t.get("fields", []):
            key = str(f["id"])
            if isinstance(raw, dict) and key in raw:
                c = _nested_default_column(
                    f"{name}.{f['name']}", f["type"], raw[key]
                )
            else:
                c = F.lit(None).cast(_spark_ddl_of_iceberg(f["type"]))
            cols.append(c.alias(f["name"]))
        return F.struct(*cols)
    if kind == "list":
        elems = [
            _nested_default_column(f"{name}[]", t["element"], x)
            for x in (raw or [])
        ]
        if elems:
            return F.array(*elems)
        return F.array().cast(_spark_ddl_of_iceberg(t))
    if kind == "map":
        if not isinstance(raw, dict) or set(raw) != {"keys", "values"}:
            raise ValueError(
                f"map initial-default on {name!r} must be the spec's "
                f'{{"keys": [...], "values": [...]}} object, got {raw!r}'
            )
        ks = [
            _nested_default_column(f"{name}.key", t["key"], k)
            for k in raw["keys"]
        ]
        vs = [
            _nested_default_column(f"{name}.value", t["value"], v)
            for v in raw["values"]
        ]
        if len(ks) != len(vs):
            raise ValueError(
                f"map initial-default on {name!r}: {len(ks)} keys vs "
                f"{len(vs)} values"
            )
        if not ks:
            return F.map_from_arrays(F.array(), F.array()).cast(
                _spark_ddl_of_iceberg(t)
            )
        return F.map_from_arrays(F.array(*ks), F.array(*vs))
    raise ValueError(
        f"Iceberg v3 field {name!r}: unknown nested type {t!r}"
    )


def initial_default_fields(md: dict) -> dict[str, tuple[object, str]]:
    """{column: (default literal-or-Column-builder, spark type)} for v3
    `initial-default` schema fields
    (iceberg.apache.org/spec/#default-values): the value a reader must
    surface for rows whose data file PREDATES the field.
    `write-default` is a writer-side concern — readers ignore it.
    Schema resolution goes through _current_schema (spec-canonical
    `schemas` list first) so engine-written v3 metadata — which omits
    the deprecated `schema` key — cannot silently hide its defaults.
    NESTED (struct/list/map) defaults (round 10) return a zero-arg
    CALLABLE building the Column (spec Appendix D serialization) —
    scan_with_initial_defaults resolves either form."""
    out: dict[str, tuple[object, str]] = {}
    for f in _current_schema(md).get("fields", []):
        if "initial-default" not in f:
            continue
        t = f.get("type")
        if f["initial-default"] is None:
            # explicit null default (iceberg_add_column without a value
            # records it): pre-evolution rows surface null THROUGH the
            # footer-grouped fill — the marker is what makes mixed
            # pre/post-evolution scans safe
            out[f["name"]] = (None, _spark_ddl_of_iceberg(t))
            continue
        if not isinstance(t, str):
            name, raw = f["name"], f["initial-default"]
            ddl = _spark_ddl_of_iceberg(t)  # validates the nested type
            out[name] = (
                (lambda n=name, tt=t, r=raw: _nested_default_column(n, tt, r)),
                ddl,
            )
            continue
        out[f["name"]] = _parse_default(f["name"], t, f["initial-default"])
    return out


#: below this many files the defaults footer peek stays a driver loop —
#: a Spark job's fixed latency exceeds a handful of footer reads
_DEFAULTS_PROBE_DRIVER_MAX = 16


def _missing_defaults_by_file(
    spark, fl: list[str], dcols: list[str]
) -> dict[str, frozenset]:
    """{file: frozenset(defaulted columns its footer LACKS)} — the
    grouping key for the defaults-fill scan. Small lists peek footers on
    the driver; larger ones probe EXECUTOR-side (mapInPandas over the
    path list, one footer open per file per task) and collect one tiny
    (path, missing) row per file — descriptor-scale, like dv_pairs_df.
    At 10^5 files over object storage a driver loop is O(files) GET
    round-trips serialized on one node; the executor pass is the same
    total work spread across the cluster."""
    import pyarrow.parquet as pq

    if len(fl) <= _DEFAULTS_PROBE_DRIVER_MAX:
        return {
            f: frozenset(
                c
                for c in dcols
                if c not in set(pq.ParquetFile(f).schema_arrow.names)
            )
            for f in fl
        }
    cols = sorted(dcols)

    def probe(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        for pdf in batches:
            missing = []
            for p in pdf["p"]:
                names = set(_pq.ParquetFile(p).schema_arrow.names)
                missing.append(",".join(c for c in cols if c not in names))
            yield _pd.DataFrame({"p": pdf["p"], "missing": missing})

    from rottnest_spark.core.smalldf import local_df

    # slices ARE the probe partitioning: one boundary crossing per task,
    # no round-robin shuffle of a 32-slice pickled relation (guide §4)
    paths = local_df(
        spark, [(f,) for f in sorted(fl)], "p string",
        slices=min(len(fl), 64),
    )
    rows = (
        paths.mapInPandas(probe, "p string, missing string")
        .collect()  # one short row per file — descriptor-scale
    )
    return {
        r.p: frozenset(r.missing.split(",")) if r.missing else frozenset()
        for r in rows
    }


def scan_with_initial_defaults(spark, fl, dmap: dict, tagged: bool):
    """Scan data files on a v3 table with `initial-default` fields:
    files are GROUPED by which defaulted columns their footers lack
    (footer peek — pre-evolution files physically miss the column;
    executor-distributed past a small-file threshold, see
    _missing_defaults_by_file), each group scans uniformly and fills
    the missing columns with the spec literal, and the groups union by
    name. Splitting the scan is what keeps an explicit NULL written
    AFTER the evolution distinct from a missing pre-evolution value — a
    single mixed scan surfaces both as null and a blanket coalesce
    would corrupt the explicit one."""
    from pyspark.sql import functions as F

    from rottnest_spark.sources.reader import (
        read_parquet,
        read_parquet_tagged,
    )

    by_file = _missing_defaults_by_file(spark, list(fl), list(dmap))
    groups: dict[frozenset, list[str]] = {}
    for f in fl:
        groups.setdefault(by_file[f], []).append(f)
    scan = read_parquet_tagged if tagged else read_parquet
    parts = []
    for missing in sorted(groups, key=sorted):
        df = scan(spark, sorted(groups[missing]))
        for c in sorted(missing):
            v, t = dmap[c]
            # nested defaults carry a Column BUILDER (struct/list/map
            # literals aren't F.lit-able); primitives stay plain values
            lit = v() if callable(v) else F.lit(v)
            df = df.withColumn(c, lit.cast(t))
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def renamed_fields(md: dict) -> dict[str, list[str]]:
    """current name → FORMER names of the same field id, most recent
    schema first — the rename history a scan must resolve: a data file
    carries the name its write-time schema gave the field, while the
    spec keys field identity on the id, which renames preserve
    (iceberg.apache.org/spec/#schema-evolution)."""
    schemas = md.get("schemas") or []
    if len(schemas) < 2:
        return {}
    out: dict[str, list[str]] = {}
    for f in _current_schema(md).get("fields", []):
        fid = f.get("id")
        if fid is None:
            continue
        formers: list[str] = []
        for s in sorted(
            schemas, key=lambda s: -(int(s.get("schema-id") or 0))
        ):
            for g in s.get("fields", []):
                if (
                    g.get("id") == fid
                    and g["name"] != f["name"]
                    and g["name"] not in formers
                ):
                    formers.append(g["name"])
        if formers:
            out[f["name"]] = formers
    return out


def _resolve_evolved_column(expr, wt, ct, path: str):
    """Column expression resolving a value WRITTEN under iceberg type
    `wt` to the CURRENT type `ct` by NESTED FIELD ID (round 11 —
    nested-path schema evolution). The spec keys field identity on ids
    at every depth, so a struct subfield renamed/dropped/promoted/added
    after a file was written resolves the same way top-level fields do:

    - primitives cast to the current (possibly promoted) type;
    - structs rebuild FIELD BY ID: a current subfield found in the
      write type reads the name the file carries (rename), one absent
      fills its `initial-default` (nested add, Appendix-D JSON) or a
      typed null, and write-side subfields missing from the current
      type are simply not selected (drop). NULL struct values stay
      NULL — F.struct would otherwise resurrect them as all-null rows;
    - lists/maps recurse through transform/transform_keys+values with
      element/key/value ids required to agree (our writers never remint
      them; a foreign table that did cannot be resolved faithfully);
    - a kind mismatch (struct vs primitive, list vs map, ...) refuses
      loudly — no cast is faithful there.
    """
    from pyspark.sql import functions as F

    if isinstance(wt, str) or isinstance(ct, str):
        if isinstance(wt, str) != isinstance(ct, str):
            raise ValueError(
                f"field {path!r}: write type {wt!r} and current type "
                f"{ct!r} are different kinds — cannot resolve faithfully"
            )
        return expr.cast(_spark_ddl_of_iceberg(ct))
    wk, ck = wt.get("type"), ct.get("type")
    if wk != ck:
        raise ValueError(
            f"field {path!r}: write type kind {wk!r} vs current kind "
            f"{ck!r} — cannot resolve faithfully"
        )
    if ck == "struct":
        w_by_id = {
            f["id"]: f
            for f in wt.get("fields", [])
            if f.get("id") is not None
        }
        subs = []
        for cf in ct.get("fields", []):
            sub_path = f"{path}.{cf['name']}"
            wf = (
                w_by_id.get(cf["id"]) if cf.get("id") is not None else None
            )
            if wf is not None:
                sub = _resolve_evolved_column(
                    expr.getField(wf["name"]), wf["type"], cf["type"],
                    sub_path,
                )
            elif cf.get("initial-default") is not None:
                sub = _nested_default_column(
                    sub_path, cf["type"], cf["initial-default"]
                )
            else:
                sub = F.lit(None).cast(_spark_ddl_of_iceberg(cf["type"]))
            subs.append(sub.alias(cf["name"]))
        if not subs:
            raise ValueError(
                f"field {path!r}: current struct has no fields — refusing"
            )
        return F.when(expr.isNull(), F.lit(None)).otherwise(
            F.struct(*subs)
        ).cast(_spark_ddl_of_iceberg(ct))
    if ck == "list":
        if wt.get("element-id") != ct.get("element-id"):
            raise ValueError(
                f"field {path!r}: list element-id changed "
                f"({wt.get('element-id')} → {ct.get('element-id')}) — "
                "element identity lost; cannot resolve faithfully"
            )
        return F.transform(
            expr,
            lambda x: _resolve_evolved_column(
                x, wt["element"], ct["element"], f"{path}[]"
            ),
        )
    if ck == "map":
        if wt.get("key-id") != ct.get("key-id") or wt.get(
            "value-id"
        ) != ct.get("value-id"):
            raise ValueError(
                f"field {path!r}: map key/value ids changed — cannot "
                "resolve faithfully"
            )
        out = F.transform_values(
            expr,
            lambda k, v: _resolve_evolved_column(
                v, wt["value"], ct["value"], f"{path}.value"
            ),
        )
        return F.transform_keys(
            out,
            lambda k, v: _resolve_evolved_column(
                k, wt["key"], ct["key"], f"{path}.key"
            ),
        )
    raise ValueError(f"field {path!r}: unknown nested kind {ck!r}")


def _schema_needs_resolution(md: dict) -> bool:
    """True when the schemas history records a rename, a drop, or a
    type promotion — some data file was then written under a top-level
    column the CURRENT schema does not carry as-is: by name (rename),
    by name under a DIFFERENT field id (drop-then-re-ADD keeps the name
    but mints a new id, and a plain union scan would resurrect the
    dropped file data), or under a NARROWER type (promotion — a mixed
    union scan would fail or silently coerce). The scan must then
    resolve through each file's write schema."""
    import json as _json

    schemas = md.get("schemas") or []
    if len(schemas) < 2:
        return False
    cur_by_id = {
        f.get("id"): f
        for f in _current_schema(md).get("fields", [])
        if f.get("id") is not None
    }
    for s in schemas:
        for g in s.get("fields", []):
            cf = cur_by_id.get(g.get("id"))
            if cf is None:
                return True  # dropped (or re-added under a fresh id)
            if cf["name"] != g["name"]:
                return True  # renamed
            if _json.dumps(cf.get("type"), sort_keys=True) != _json.dumps(
                g.get("type"), sort_keys=True
            ):
                return True  # type-promoted
    return False


def _footer_present_by_file(
    spark, fl: list[str], cols: list[str]
) -> dict[str, frozenset]:
    """{file: frozenset(cols its footer CARRIES)} over the `cols` of
    interest — the footer probe behind schema-history resolution. Same
    driver/executor split as _missing_defaults_by_file: descriptor-scale
    result rows either way."""
    import pyarrow.parquet as pq

    want = sorted(set(cols))
    if len(fl) <= _DEFAULTS_PROBE_DRIVER_MAX:
        return {
            f: frozenset(
                c
                for c in want
                if c in set(pq.ParquetFile(f).schema_arrow.names)
            )
            for f in fl
        }

    def probe(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        for pdf in batches:
            hit = []
            for p in pdf["p"]:
                names = set(_pq.ParquetFile(p).schema_arrow.names)
                hit.append(",".join(c for c in want if c in names))
            yield _pd.DataFrame({"p": pdf["p"], "hit": hit})

    from rottnest_spark.core.smalldf import local_df

    paths = local_df(
        spark, [(f,) for f in sorted(fl)], "p string",
        slices=min(len(fl), 64),
    )
    rows = (
        paths.mapInPandas(probe, "p string, hit string")
        .collect()  # one short row per file — descriptor-scale
    )
    return {
        r.p: frozenset(r.hit.split(",")) if r.hit else frozenset()
        for r in rows
    }


def _footer_field_types(
    spark, fl: list[str], column: str
) -> dict[str, str | None]:
    """{file: str(arrow type) of `column` in its footer, or None when
    absent} — the build-side evolution probe (_indexable_files). Same
    driver/executor split as _footer_present_by_file."""
    import pyarrow.parquet as pq

    def one(path: str):
        sch = pq.ParquetFile(path).schema_arrow
        if column not in sch.names:
            return None
        return str(sch.field(column).type)

    if len(fl) <= _DEFAULTS_PROBE_DRIVER_MAX:
        return {f: one(f) for f in fl}

    def probe(batches):
        import pandas as _pd
        import pyarrow.parquet as _pq

        for pdf in batches:
            out = []
            for p in pdf["p"]:
                sch = _pq.ParquetFile(p).schema_arrow
                out.append(
                    str(sch.field(column).type)
                    if column in sch.names
                    else ""
                )
            yield _pd.DataFrame({"p": pdf["p"], "t": out})

    from rottnest_spark.core.smalldf import local_df

    paths = local_df(
        spark, [(f,) for f in sorted(fl)], "p string",
        slices=min(len(fl), 64),
    )
    rows = (
        paths.mapInPandas(probe, "p string, t string")
        .collect()  # one short row per file — descriptor-scale
    )
    return {r.p: (r.t or None) for r in rows}


def scan_with_schema_resolution(
    spark, fl, md: dict, tagged: bool, file_snap: dict | None = None
):
    """Snapshot scan honoring the FULL schema history (round 11 —
    rename/drop evolution): each file resolves through the schema its
    ADDING snapshot recorded (file → snapshot → schema-id → write
    schema), mapping every current field BY FIELD ID to the name that
    file physically carries — the spec's resolution rule, which is what
    keeps a dropped-then-re-added name from resurrecting stale data (the
    new field's id never existed in old files). Files land in one scan
    per distinct write schema; per group the scan renames former→current
    (rename evolution), fills initial-defaults / typed nulls (add
    evolution), and PROJECTS to the current schema so dropped columns
    stay invisible (drop evolution). Tag columns __path/__pos survive
    when `tagged`. Time-travel pins compose for free because `md`
    arrives already pinned.

    Files WITHOUT snapshot attribution (foreign manifests that inherit
    entry snapshot ids, hand-built fixtures) fall back to a footer-name
    signature — refusing loudly when a name is ambiguous in the history
    (same name, different field ids: name-based resolution could
    resurrect dropped data, so guessing is not allowed). Each
    metadata-attributed group additionally verifies its signature
    against one real footer and demotes to the fallback on mismatch."""
    from pyspark.sql import functions as F

    from rottnest_spark.sources.reader import (
        read_parquet,
        read_parquet_tagged,
    )

    dmap = initial_default_fields(md)
    rmap = renamed_fields(md)
    schemas = md.get("schemas") or []
    by_sid = {int(s.get("schema-id") or 0): s for s in schemas}
    cur_sid = int(md.get("current-schema-id") or 0)
    snap_schema = {
        s["snapshot-id"]: s.get("schema-id")
        for s in md.get("snapshots") or []
        if s.get("schema-id") is not None
    }
    cur = _current_schema(md).get("fields", [])
    cur_ddl = {f["name"]: _spark_ddl_of_iceberg(f["type"]) for f in cur}
    cur_type = {f["name"]: f["type"] for f in cur}

    def tj(t) -> str:
        import json as _json

        return _json.dumps(t, sort_keys=True)

    #: current names whose HISTORY also carries the same name under a
    #: DIFFERENT id — footer-name resolution would be a guess there
    ambiguous = {
        f["name"]
        for f in cur
        for s in schemas
        for g in s.get("fields", [])
        if g["name"] == f["name"] and g.get("id") != f.get("id")
    }
    #: current names whose NESTED shape ever differed in the history
    #: (nested rename/drop/add/promote) — footer PRESENCE cannot tell
    #: which shape an unattributed file carries, so resolving by name
    #: there would be a guess (round 11, nested-path evolution)
    nested_evolved = {
        f["name"]
        for f in cur
        if not isinstance(f.get("type"), str)
        for s in schemas
        for g in s.get("fields", [])
        if g.get("id") == f.get("id") and tj(g["type"]) != tj(f["type"])
    }

    def sig_from_schema(write_schema: dict) -> tuple:
        """Per current field: (name, source, write-type-json) — the
        third slot is "" when the file's write type IS the current
        type, else the iceberg type JSON the file was written under
        (what the nested/promotion resolver needs; it also keys the
        scan groups so every group is footer-homogeneous)."""
        w_by_id = {
            f["id"]: f
            for f in write_schema.get("fields", [])
            if f.get("id") is not None
        }
        sig = []
        for f in cur:
            wf = w_by_id.get(f.get("id"))
            if wf is None:
                sig.append((f["name"], "__fill__", ""))
                continue
            wt = "" if tj(wf["type"]) == tj(f["type"]) else tj(wf["type"])
            src = "self" if wf["name"] == f["name"] else wf["name"]
            sig.append((f["name"], src, wt))
        return tuple(sig)

    def sig_from_footer(pset: frozenset, path: str) -> tuple:
        sig = []
        for f in cur:
            name = f["name"]
            if name in pset:
                if name in ambiguous:
                    raise ValueError(
                        f"{path}: column {name!r} exists in the schema "
                        "history under a different field id and the file "
                        "has no snapshot attribution — name-based "
                        "resolution could resurrect dropped data; refusing"
                    )
                if name in nested_evolved:
                    raise ValueError(
                        f"{path}: column {name!r} changed nested shape "
                        "across the schema history and the file has no "
                        "snapshot attribution — footer presence cannot "
                        "pick the write shape; refusing instead of "
                        "guessing"
                    )
                sig.append((name, "self", ""))
            else:
                former = next(
                    (n for n in rmap.get(name, []) if n in pset), None
                )
                if former is not None and name in nested_evolved:
                    raise ValueError(
                        f"{path}: column {name!r} (file name {former!r}) "
                        "changed nested shape across the schema history "
                        "and the file has no snapshot attribution — "
                        "refusing instead of guessing"
                    )
                sig.append((name, former or "__fill__", ""))
        return tuple(sig)

    meta_groups: dict[tuple, list[str]] = {}
    fallback: list[str] = []
    for f in fl:
        sid = snap_schema.get((file_snap or {}).get(f))
        ws = by_sid.get(int(sid)) if sid is not None else None
        if ws is not None:
            meta_groups.setdefault(sig_from_schema(ws), []).append(f)
        else:
            fallback.append(f)

    interesting = sorted(
        set(cur_ddl) | {n for fs_ in rmap.values() for n in fs_}
    )
    groups: dict[tuple, list[str]] = {}
    # verify each metadata signature against ONE real footer (cheap:
    # one footer per group) — manifests that re-stamped carried entries
    # with a later snapshot would otherwise mis-attribute the schema
    for sig, files in meta_groups.items():
        probe = _footer_present_by_file(spark, files[:1], interesting)
        pset = probe[files[0]]
        needed = {
            (name if src == "self" else src)
            for name, src, _wt in sig
            if src != "__fill__"
        }
        if needed <= pset:
            groups.setdefault(sig, []).extend(files)
        else:
            fallback.extend(files)
    if fallback:
        present = _footer_present_by_file(spark, fallback, interesting)
        for f in fallback:
            groups.setdefault(sig_from_footer(present[f], f), []).append(f)

    scan = read_parquet_tagged if tagged else read_parquet
    parts = []
    for sig in sorted(groups):
        df = scan(spark, sorted(groups[sig]))
        cols = []
        for name, src, wt_json in sig:
            if src == "__fill__":
                if name in dmap:
                    v, t = dmap[name]
                    lit = v() if callable(v) else F.lit(v)
                    cols.append(lit.cast(t).alias(name))
                else:
                    # spec: a field absent from the write schema with no
                    # initial-default reads null
                    cols.append(
                        F.lit(None).cast(cur_ddl[name]).alias(name)
                    )
                continue
            base = F.col(name if src == "self" else src)
            if wt_json:
                # the file was written under a DIFFERENT type for this
                # field id — nested rename/drop/add and primitive
                # promotions resolve by nested field id (round 11)
                import json as _json

                cols.append(
                    _resolve_evolved_column(
                        base, _json.loads(wt_json), cur_type[name], name
                    ).alias(name)
                )
            else:
                # same-type casts are no-ops; renames re-alias
                cols.append(base.cast(cur_ddl[name]).alias(name))
        if tagged:
            cols += [F.col("__path"), F.col("__pos")]
        parts.append(df.select(cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _schema_field_names(md: dict) -> dict[int, str]:
    """field-id → name map from the table's current schema
    (_current_schema: spec-canonical `schemas`+`current-schema-id`
    first, legacy `schema` fallback)."""
    return {
        int(f["id"]): f["name"]
        for f in _current_schema(md).get("fields", [])
        if "id" in f
    }


def apply_equality_deletes(spark, df, state: dict, md: dict):
    """Apply EQUALITY delete files to a tagged DataFrame (`__path`
    normalized absolute path column present): per the spec, an equality
    delete removes every row whose delete-column values match
    (null-safe) in any data file whose data sequence number is STRICTLY
    LESS than the delete's. One broadcast join attaches each row's file
    sequence number; one anti-join per distinct equality-id set (delete
    files sharing an id set union together, each tagged its own
    sequence). Scan cost: the delete files, once."""
    from pyspark.sql import functions as F

    names = _schema_field_names(md)
    # canon both sides: state keys are _rebase() outputs (relative when
    # table_path is relative) while __path tags are absolute URIs — an
    # unmatched join would null __seq and silently unapply every delete.
    # canon_path, NOT os.path.abspath: a URI-schemed key (s3a://...)
    # would be mangled to <cwd>/s3a:/... and miss the same way
    from rottnest_spark.core.smalldf import local_df

    seq_rows = [
        (canon_path(p), int(s))
        for p, s in sorted(state["data"].items())
    ]
    seq_df = local_df(spark, seq_rows, "__path string, __seq long")
    df = df.join(F.broadcast(seq_df), "__path", "left")

    dmap = initial_default_fields(md)
    by_ids: dict[tuple, list[dict]] = {}
    for d in state["eq_deletes"]:
        by_ids.setdefault(tuple(d["equality_ids"]), []).append(d)
    for ids, dels in sorted(by_ids.items()):
        cols = []
        for i in ids:
            if i not in names:
                raise ValueError(
                    f"equality delete references unknown field id {i} "
                    f"(schema has {sorted(names)})"
                )
            if names[i] in dmap:
                # a delete file written before the field evolution would
                # carry the key column MISSING — its rows would then
                # match nothing instead of the default-valued rows
                raise ValueError(
                    f"equality delete keyed on {names[i]!r}, a field "
                    "with a v3 initial-default — pre-evolution delete "
                    "files cannot be value-matched faithfully; refusing "
                    "instead of misreading"
                )
            cols.append(names[i])
        del_df = _eq_delete_rows_df(spark, dels, cols)
        cond = F.col("__dseq") > F.col("__seq")
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        df = df.join(del_df, cond, "left_anti")
    return df.drop("__seq")


def _eq_delete_rows_df(spark, dels: list[dict], cols: list[str]):
    """All rows of one id-set's equality delete files, each tagged its
    file's data sequence number (`__dseq`) — ONE `spark.read.parquet`
    over every delete file plus a broadcast (path → seq) join on
    `_metadata.file_path`, instead of one plan branch per file. A CDC
    stream without rewrite accumulates one equality-delete file per
    micro-batch; per-file union branches blow the driver's plan size up
    thousands of commits before data size matters."""
    from pyspark.sql import functions as F

    from rottnest_spark.core.smalldf import local_df

    paths = [d["path"] for d in sorted(dels, key=lambda d: d["path"])]
    seq_map = local_df(
        spark,
        [(canon_path(d["path"]), int(d["seq"])) for d in dels],
        "__dfile string, __dseq long",
    )
    return (
        spark.read.parquet(*paths)
        .select(
            *[F.col(c).alias(f"__eq_{c}") for c in cols],
            _uri_path(F.col("_metadata.file_path")).alias("__dfile"),
        )
        .join(F.broadcast(seq_map), "__dfile", "inner")
        .drop("__dfile")
    )


def delete_pairs_df(
    spark,
    delete_files: list[str],
    location: str = "",
    table_path: str = "",
):
    """(__del_path, __del_pos) DataFrame from positional delete files,
    with the recorded paths NORMALIZED (file: URIs stripped) and REBASED
    from the table's metadata `location` onto the actual table directory
    — external tables are routinely copied/mounted elsewhere, and delete
    rows address data files by their ORIGINAL absolute URIs (the same
    relocation `_rebase` performs for manifest paths)."""
    from pyspark.sql import functions as F

    norm = lambda c: F.regexp_replace(c, "^file:/+", "/")  # noqa: E731
    col = norm(F.col("file_path"))
    loc = _norm_uri(location or "").rstrip("/")
    tp = canon_path(table_path) if table_path else ""
    if loc and tp and loc != tp:
        col = F.regexp_replace(
            col, "^" + re.escape(loc) + "/", tp.rstrip("/") + "/"
        )
    return (
        spark.read.parquet(*delete_files)
        .select(
            col.alias("__del_path"),
            F.col("pos").cast("long").alias("__del_pos"),
        )
        .distinct()
    )


def dv_pairs_df(
    spark,
    dvs: dict[str, dict],
    location: str = "",
    table_path: str = "",
):
    """(__del_path, __del_pos) DataFrame from v3 puffin DELETION VECTORS
    — decoded EXECUTOR-side: one binaryFile row per DISTINCT puffin
    file, each task slicing + CRC-checking its blobs and emitting the
    referenced data file's deleted positions (the Delta dv_positions_df
    twin, sources/delta.py:625). `dvs` is `_snapshot_state`'s "dvs" map
    {referenced data path: {puffin, ref_orig, offset, size, seq, ...}};
    emitted __del_path is CANONICAL, matching the `_metadata.file_path`
    tags every consumer joins against."""
    from rottnest_spark.sources.puffin import make_puffin_dv_decoder

    decode = make_puffin_dv_decoder()  # self-contained, ships by value

    by_puffin: dict[str, list[tuple[str, object, object, str]]] = {}
    for ref, d in sorted(dvs.items()):
        by_puffin.setdefault(canon_path(d["puffin"]), []).append(
            (canon_path(ref), d.get("offset"), d.get("size"),
             d.get("ref_orig") or ref)
        )
    out_schema = "__del_path string, __del_pos long"
    if not by_puffin:
        return spark.createDataFrame([], out_schema)
    targets = dict(by_puffin)  # captured by value — metadata scale
    bins = (
        spark.read.format("binaryFile")
        .load(sorted(by_puffin))
        .select("path", "content")
    )

    def gen(batches):
        import os as _os
        import re as _re

        import pandas as _pd

        def _canon(p):
            if "://" in p:
                return p
            return _os.path.abspath(_re.sub("^file:/+", "/", p))

        for pdf in batches:
            for r in pdf.itertuples(index=False):
                data = bytes(r.content)
                for ref, off, size, ref_orig in targets[_canon(r.path)]:
                    pos = decode(data, off, size, referenced=ref_orig)
                    yield _pd.DataFrame(
                        {"__del_path": ref, "__del_pos": pos.astype("int64")}
                    )

    return bins.mapInPandas(gen, out_schema)


def position_delete_pairs_df(spark, state: dict, location: str, table_path: str):
    """Union of the snapshot's position-delete sources — parquet delete
    files (v2) and puffin deletion vectors (v3) — as ONE
    (__del_path, __del_pos) frame; None when the snapshot has neither.
    The single entry point every consumer (read, search row-filter,
    diff, feed) funnels through, so v3 support is uniform."""
    dels = sorted(state.get("pos_deletes") or {})
    dvs = state.get("dvs") or {}
    parts = []
    if dels:
        parts.append(
            delete_pairs_df(
                spark, dels, location=location, table_path=table_path
            )
        )
    if dvs:
        parts.append(
            dv_pairs_df(spark, dvs, location=location, table_path=table_path)
        )
    if not parts:
        return None
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _snapshot_state(md: dict, snap: dict, table_path: str, fs=None) -> dict:
    """Walk one snapshot's manifest list → manifests → files, returning
    the full live state:

        {"data": {path: data_sequence_number},
         "pos_deletes": {path: seq},
         "eq_deletes": [{"path", "seq", "equality_ids"} ...]}

    Data sequence numbers follow the spec's inheritance: the manifest
    entry's own `sequence_number` when present, else the manifest-list
    entry's `sequence_number` (ADDED entries inherit at read time), else
    0 (v1 tables have no sequencing — every delete then applies)."""
    fv = int(md.get("format-version") or 1)
    if fv > 3:
        raise ValueError(
            f"Iceberg format-version {fv} exceeds this reader's support "
            "(v1/v2/v3) — unknown read semantics; refusing"
        )
    # v3 (fv == 3): puffin deletion vectors READ here (round 8 — the
    # "dvs" state key below + dv_pairs_df). Row lineage is additive
    # metadata, ignorable for reads. FIELD DEFAULTS (also round 8): state
    # resolution is unaffected — `initial-default` changes what a MISSING
    # column in a pre-evolution data file means, so it is handled where
    # files are scanned (initial_default_fields + scan_with_initial_
    # defaults; read/diff/feed fill, index paths refuse). `write-default`
    # is writer-side only per the spec — readers ignore it. Unsupported
    # defaulted TYPES refuse at scan time inside initial_default_fields.
    location = md.get("location", "")

    # (path, content, ml_seq, ml_added_snap, ml_spec_id)
    manifests: list[tuple[str, int, int, int | None, int]] = []
    if "manifest-list" in snap:
        ml_path = _rebase(snap["manifest-list"], location, table_path)
        _, entries = read_ocf(ml_path, fs=fs)
        for e in entries:
            manifests.append(
                (
                    e["manifest_path"],
                    int(e.get("content") or 0),
                    int(e.get("sequence_number") or 0),
                    e.get("added_snapshot_id"),
                    int(e.get("partition_spec_id") or 0),
                )
            )
    else:  # v1 tables may inline "manifests"
        manifests = [(p, 0, 0, None, 0) for p in snap.get("manifests", [])]

    state = {
        "data": {},
        "pos_deletes": {},
        "eq_deletes": [],
        "dvs": {},
        # {data file path: snapshot id that ADDED it} — the manifest
        # entry's own snapshot_id, falling back to the manifest list's
        # added_snapshot_id (entry-level inheritance, same as sequence
        # numbers); lets commit tails preserve lineage on status-0 rows
        "data_snap": {},
        # {data file path: (record_count, file_size_in_bytes)} from the
        # manifests — commit tails reuse these for EXISTING files
        # instead of re-opening O(files) footers on the driver
        "data_info": {},
        # {data file path: partition-spec-id of its manifest} — spec
        # EVOLUTION attribution (round 11): each file's r102 partition
        # record is keyed/typed by the spec it was written under, and
        # reconstruction/pruning must follow THAT spec, not the default
        "data_spec": {},
        # {data file path: first_row_id} — v3 ROW LINEAGE: _row_id of
        # row `pos` in the file is first_row_id + pos (read surface:
        # IcebergSnapshotLake.read_with_lineage)
        "data_first_row": {},
    }
    for mpath, list_content, ml_seq, ml_snap, ml_spec in manifests:
        _, entries = read_ocf(_rebase(mpath, location, table_path), fs=fs)
        for e in entries:
            status = int(e.get("status") or 0)  # 0 existing, 1 added, 2 deleted
            if status == 2:
                continue
            df = e["data_file"]
            content = int(df.get("content") or 0)
            if content == 0 and list_content == 1:
                # a delete manifest holds only delete files (spec) — when
                # the entry's own content field is silent, the manifest
                # list's classification wins
                content = 1
            seq = e.get("sequence_number")
            seq = int(seq) if seq is not None else ml_seq
            p = _rebase(df["file_path"], location, table_path)
            e_snap = e.get("snapshot_id")
            e_snap = int(e_snap) if e_snap is not None else (
                int(ml_snap) if ml_snap is not None else None
            )
            if content == 0:
                state["data"][p] = seq
                if e_snap is not None:
                    state["data_snap"][p] = e_snap
                state["data_spec"][p] = ml_spec
                if df.get("first_row_id") is not None:
                    state["data_first_row"][p] = int(df["first_row_id"])
                rc, fsz = df.get("record_count"), df.get("file_size_in_bytes")
                if rc is not None and fsz is not None:
                    state["data_info"][p] = (int(rc), int(fsz))
            elif content == 1 and (
                df.get("referenced_data_file")
                or str(df.get("file_format") or "").upper() == "PUFFIN"
            ):
                # v3 deletion vector: the entry addresses ONE blob inside
                # a puffin file, keyed by the data file it deletes from
                ref_orig = df.get("referenced_data_file")
                if not ref_orig:
                    raise ValueError(
                        f"{mpath}: PUFFIN delete entry without "
                        "referenced_data_file — cannot attribute the DV"
                    )
                ref = _rebase(ref_orig, location, table_path)
                if ref in state["dvs"]:
                    raise ValueError(
                        f"two deletion vectors reference {ref} in one "
                        "snapshot — spec allows at most one; refusing"
                    )
                off = df.get("content_offset")
                sz = df.get("content_size_in_bytes")
                state["dvs"][ref] = {
                    "puffin": p,
                    "ref_orig": ref_orig,
                    "offset": None if off is None else int(off),
                    "size": None if sz is None else int(sz),
                    "seq": seq,
                    "snap": e_snap,
                    "cardinality": int(df.get("record_count") or -1),
                }
            elif content == 1:  # positional delete files (parquet)
                state["pos_deletes"][p] = seq
            else:  # equality deletes
                state["eq_deletes"].append(
                    {
                        "path": p,
                        "seq": seq,
                        "equality_ids": [
                            int(i) for i in (df.get("equality_ids") or [])
                        ],
                    }
                )
    return state


def _snapshot_files_and_deletes(
    md: dict, snap: dict, table_path: str, fs=None
) -> tuple[set[str], set[str]]:
    """(live data files, live POSITIONAL delete files) of one snapshot.
    Equality delete files raise here — only `IcebergSnapshotLake.read()`
    applies them (sequence-aware value anti-joins don't fit the
    (path, pos) row-filter contract the search layer uses)."""
    state = _snapshot_state(md, snap, table_path, fs)
    if state["eq_deletes"]:
        raise ValueError(
            f"table has {len(state['eq_deletes'])} equality delete "
            "file(s) — only IcebergSnapshotLake.read() applies them "
            "(sequence-aware value anti-join); index paths require "
            "compacting with an engine first"
        )
    if state["dvs"]:
        raise ValueError(
            f"table has {len(state['dvs'])} v3 deletion vector(s) — the "
            "(files, delete-parquet-files) contract cannot express "
            "puffin blobs; use snapshot_state_from_metadata / "
            "IcebergSnapshotLake (DV-aware since round 8)"
        )
    return set(state["data"]), set(state["pos_deletes"])


def _snapshot_data_files(
    md: dict, snap: dict, table_path: str, fs=None, on_deletes: str = "raise"
) -> set[str]:
    """One snapshot's live data files. `on_deletes`:
    - "raise" (default): refuse delete-bearing snapshots — the INDEX
      layer's ghost-row safety (an index over files with un-applied
      deletes returns rows the table no longer has);
    - "ignore": return the data files anyway — vacuum/history liveness
      (row deletes remove ROWS, the files stay live and their
      indexes must survive vacuum)."""
    state = _snapshot_state(md, snap, table_path, fs)
    if on_deletes == "raise" and (
        state["pos_deletes"] or state["eq_deletes"] or state["dvs"]
    ):
        raise ValueError(
            f"table has {len(state['pos_deletes'])} positional delete "
            f"file(s), {len(state['dvs'])} deletion vector(s) "
            f"and {len(state['eq_deletes'])} equality delete "
            "file(s) — this path treats files as fully live and would "
            "surface ghost rows. IcebergSnapshotLake.read(), "
            "build_index() and predicate search() are "
            "merge-on-read-aware (equality deletes: read() only); "
            "iceberg_rewrite_deletes() compacts positional deletes for "
            "everything else (top-K search, copy-on-write DML)"
        )
    return set(state["data"])


def iceberg_partition_columns(table_path: str, fs=None) -> list[str]:
    """Identity-transform partition column names of the current spec.
    Non-identity transforms (bucket/day/truncate) are ignored here: their
    SOURCE columns stay physical in the data files, so reads need no
    reconstruction for them."""
    return partition_columns_from_metadata(_current_metadata(table_path, fs))


def partition_columns_from_metadata(md: dict) -> list[str]:
    spec = md.get("partition-spec")
    if spec is None and md.get("partition-specs"):
        sid = md.get("default-spec-id", 0)
        for s in md["partition-specs"]:
            if s.get("spec-id") == sid:
                spec = s.get("fields")
    return [
        f["name"]
        for f in (spec or [])
        if f.get("transform", "identity") == "identity"
    ]


def iceberg_live_adds(table_path: str, fs=None) -> dict[str, dict]:
    """{absolute data-file path: partition-values dict} for the CURRENT
    snapshot — the manifests' r102 partition records (authoritative per
    the spec; identity values are typed at write time)."""
    return live_adds_from_metadata(_current_metadata(table_path, fs), table_path, fs)


def live_adds_from_metadata(md: dict, table_path: str, fs=None) -> dict[str, dict]:
    by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
    cur = md.get("current-snapshot-id")
    if cur not in by_id:
        return {}
    location = md.get("location", "")
    snap = by_id[cur]
    manifests: list[str] = []
    if "manifest-list" in snap:
        ml_path = _rebase(snap["manifest-list"], location, table_path)
        _, entries = read_ocf(ml_path, fs=fs)
        manifests = [e["manifest_path"] for e in entries]
    else:
        manifests = list(snap.get("manifests", []))
    out: dict[str, dict] = {}
    for mpath in manifests:
        _, entries = read_ocf(_rebase(mpath, location, table_path), fs=fs)
        for e in entries:
            if int(e.get("status") or 0) == 2:
                continue
            df = e["data_file"]
            out[_rebase(df["file_path"], location, table_path)] = dict(
                df.get("partition") or {}
            )
    return out


class IcebergSnapshotLake(ParquetLake):
    """ParquetLake over the CURRENT Iceberg snapshot. `.files` re-resolves
    the snapshot on each access (metadata-scale), so incremental builds
    index exactly the new snapshot's delta and searches never scan files
    that are physically present but dropped from the snapshot.

    TIME TRAVEL (round 9): `snapshot_id=` pins a historical snapshot,
    `as_of_ms=` the latest snapshot at-or-before that timestamp — the
    Iceberg twin of DeltaSnapshotLake's `version_as_of`. Pinning
    happens at the METADATA seam (`current-snapshot-id` is rewritten,
    and `current-schema-id` follows the snapshot's recorded schema-id
    when the canonical `schemas` list is present), so every consumer —
    read with merge-on-read state, partition reconstruction, index
    search scope, defaults handling — follows the pinned snapshot with
    no per-path special cases. Reads within a `history_days` vacuum
    window stay index-accelerated (vacuum keeps those files' indexes)."""

    def __init__(
        self,
        spark,
        table_path: str,
        index_dir: str,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        **kw,
    ):
        super().__init__(spark, table_path, index_dir, **kw)
        self._table_path = table_path
        self._state_cache: tuple | None = None  # (snapshot key, state)
        if snapshot_id is not None and as_of_ms is not None:
            raise ValueError("pass snapshot_id OR as_of_ms, not both")
        self._pin_snapshot_id = snapshot_id
        self._pin_as_of_ms = as_of_ms

    def _pin_metadata(self, md: dict) -> dict:
        """Rewrite `current-snapshot-id` (+`current-schema-id`) to the
        pinned snapshot; identity when the lake is unpinned."""
        if self._pin_snapshot_id is None and self._pin_as_of_ms is None:
            return md
        snaps = md.get("snapshots") or []
        if self._pin_snapshot_id is not None:
            target = next(
                (
                    s
                    for s in snaps
                    if s.get("snapshot-id") == self._pin_snapshot_id
                ),
                None,
            )
            if target is None:
                raise ValueError(
                    f"snapshot {self._pin_snapshot_id} is not in the "
                    f"table's snapshot log ({len(snaps)} snapshots) — "
                    "it may have been expired"
                )
        else:
            eligible = [
                s
                for s in snaps
                if int(s.get("timestamp-ms") or 0) <= self._pin_as_of_ms
            ]
            if not eligible:
                raise ValueError(
                    f"no snapshot at or before as_of_ms="
                    f"{self._pin_as_of_ms} (earliest is "
                    f"{min((int(s.get('timestamp-ms') or 0) for s in snaps), default=None)})"
                )
            target = max(
                eligible, key=lambda s: int(s.get("timestamp-ms") or 0)
            )
        out = dict(md)
        out["current-snapshot-id"] = target["snapshot-id"]
        if target.get("schema-id") is not None and md.get("schemas"):
            # the snapshot records which schema wrote it — resolve THAT
            # schema so post-pin column evolution doesn't leak backwards
            out["current-schema-id"] = target["schema-id"]
        return out

    def _cached_state(self, md: dict) -> dict:
        """Snapshot state memoized on (current-snapshot-id,
        manifest-list): one logical operation (plan + row filter +
        partition reconstruction) resolves the snapshot several times,
        and every resolution of the SAME snapshot must agree — so the
        manifest walk happens once per distinct snapshot, while a commit
        (new snapshot id / manifest list) naturally invalidates."""
        cur = md.get("current-snapshot-id")
        snap = next(
            (
                s
                for s in md.get("snapshots", [])
                if s.get("snapshot-id") == cur
            ),
            None,
        )
        key = (cur, (snap or {}).get("manifest-list"))
        if self._state_cache is not None and self._state_cache[0] == key:
            return self._state_cache[1]
        st = snapshot_state_from_metadata(md, self._table_path, fs=self.fs)
        self._state_cache = (key, st)
        return st

    def _table_metadata(self) -> dict:
        """The TableMetadata dict every snapshot resolution goes
        through, time-travel pin applied. Catalog-served lakes (REST,
        Glue) override `_resolve_metadata` ONLY, so catalog freshness
        and snapshot pinning compose."""
        return self._pin_metadata(self._resolve_metadata())

    def _resolve_metadata(self) -> dict:
        """Storage-resolved metadata (version-hint / max-version file) —
        the override point for catalog-served lakes."""
        return _current_metadata(self._table_path, fs=self.fs)

    def _files_and_deletes(self) -> tuple[list[str], list[str]]:
        md = self._table_metadata()
        self._refuse_defaults_for_index(md)
        st = self._cached_state(md)
        if st["eq_deletes"]:
            raise ValueError(
                f"table has {len(st['eq_deletes'])} equality delete "
                "file(s) — only IcebergSnapshotLake.read() applies them "
                "(sequence-aware value anti-join); index paths require "
                "compacting with an engine first"
            )
        return sorted(st["data"]), sorted(st["pos_deletes"]) + sorted(
            st["dvs"]
        )

    @property
    def files(self) -> list[str]:
        data, dels = self._files_and_deletes()
        if dels:
            raise ValueError(
                f"table has {len(dels)} positional delete source(s) "
                "(files / v3 deletion vectors) — this "
                "path treats files as fully live and would surface ghost "
                "rows. IcebergSnapshotLake.read(), build_index() and "
                "predicate search() are merge-on-read-aware; "
                "iceberg_rewrite_deletes() compacts the deletes for "
                "everything else (top-K search, copy-on-write DML)"
            )
        return data

    @staticmethod
    def _refuse_defaults_for_index(md: dict) -> None:
        """Index paths read candidate file bytes raw — a v3
        initial-default field would surface NULL instead of the default
        in build keys and refine rows. read()/diff/feed fill defaults
        (scan_with_initial_defaults); index paths refuse until the table
        is rewritten with the column materialized."""
        dmap = initial_default_fields(md)
        if dmap:
            raise ValueError(
                f"Iceberg v3 initial-default field(s) {sorted(dmap)} — "
                "index build/search reads data files raw and would index "
                "NULL where the spec says the default. read(), snapshot "
                "diffs, and change feeds support this table; rewrite the "
                "defaulted column physical before indexing"
            )

    # merge-on-read search contract (core/lake.py hooks): predicate
    # searches stay EXACT on delete-bearing snapshots — the plan runs
    # over the data files (deletes ignored: files stay live, index
    # entries stay valid as supersets) and the refine anti-joins the
    # positional delete pairs. Top-K search refuses in
    # `ParquetLake._plan`.
    def _search_files(self) -> list[str]:
        data, _ = self._files_and_deletes()
        return data

    def _search_row_filter(self):
        md = self._table_metadata()
        st = self._cached_state(md)
        if st["eq_deletes"]:
            raise ValueError(
                "equality delete files present — index search cannot "
                "row-filter value deletes; use read() or compact"
            )
        if not st["pos_deletes"] and not st["dvs"]:
            return None
        spark, loc, tp = self.spark, md.get("location", ""), self._table_path
        key = (self._state_cache or (None,))[0]

        def rf(df):
            from pyspark.sql import functions as F

            # decode once per snapshot (see DeltaSnapshotLake twin)
            cached = getattr(self, "_rf_pairs_cache", None)
            if cached is not None and cached[0] == key:
                pairs = cached[1]
            else:
                pairs = position_delete_pairs_df(
                    spark, st, loc, tp
                ).localCheckpoint(eager=True)
                self._rf_pairs_cache = (key, pairs)
            pairs = pairs.select(
                F.col("__del_path").alias("__path"),
                F.col("__del_pos").alias("__pos"),
            )
            return df.join(pairs, ["__path", "__pos"], "left_anti").drop(
                "__path", "__pos"
            )

        return rf

    def _whole_file_units(self, columns=None) -> bool:
        """A partition column asked for is reconstructed per file —
        candidate units then degrade to FILE granularity through
        self.read() (correct columns + delete state); otherwise the
        row-group-precise base path serves."""
        pcols = set(partition_columns_from_metadata(self._table_metadata()))
        return bool(pcols if columns is None else pcols & set(columns))

    def _indexable_files(self, column: str, files: list[str]) -> list[str]:
        """Schema-evolution guard for index builds (round 11): once the
        history records a rename/drop/promotion, a file written under an
        OLD schema may carry `column` under its former name or a
        narrower physical type — the raw per-file builders (which read
        data files directly for row-group provenance) cannot extract it
        faithfully, and committing coverage anyway would mis-prune
        searches. Keep only files whose FOOTER carries the current name
        at the current arrow type; the rest stay uncovered — exact via
        the anti-join planner's in-situ scan (which resolves the full
        schema history) — until a physical rewrite re-homogenizes them.
        Deterministic, unlike letting the builder's one-file schema
        probe decide by sort order."""
        md = self._table_metadata()
        if not files or not _schema_needs_resolution(md):
            return files
        cur = next(
            (
                f
                for f in _current_schema(md).get("fields", [])
                if f["name"] == column
            ),
            None,
        )
        if cur is None:
            return files  # let the builder raise its own refusal
        try:
            from pyspark.sql.pandas.types import to_arrow_type
            from pyspark.sql.types import _parse_datatype_string

            want = str(
                to_arrow_type(
                    _parse_datatype_string(
                        _spark_ddl_of_iceberg(cur["type"])
                    )
                )
            )
        except Exception:
            return files
        got = _footer_field_types(self.spark, files, column)
        keep = [f for f in files if got.get(f) == want]
        if len(keep) < len(files):
            import logging

            logging.getLogger(__name__).info(
                "build_index(%s): %d/%d files predate the schema "
                "evolution of this column and stay uncovered (exact "
                "in-situ scan serves them; rewrite to re-index)",
                column, len(files) - len(keep), len(files),
            )
        return keep

    def build_index(self, index, column: str, *a, **kw):
        """Identity partition columns of a hive-migrated-style table are
        not physical in the data files — same refusal-with-pointer as
        DeltaSnapshotLake (partition pruning serves those predicates)."""
        if column in partition_columns_from_metadata(self._table_metadata()):
            import pyarrow.parquet as pq

            probe = self._search_files()[:1]
            if probe and column not in pq.ParquetFile(
                probe[0]
            ).schema_arrow.names:
                raise ValueError(
                    f"{column!r} is an identity partition column with no "
                    "physical data-file column. Use partition_pruned("
                    f"{column}=...) for exact pruning instead of an index."
                )
        return super().build_index(index, column, *a, **kw)

    # -- transform partition pruning (round 10) -----------------------
    # The planner's side of iceberg_transforms: a predicate value on a
    # transform SOURCE column determines the partition value its rows
    # must carry (bucket via the spec murmur3, temporal via the day/
    # month/year/hour arithmetic), so files whose r102 manifest record
    # differs are pruned without opening them. A point lookup on a
    # bucket[N] key then scans 1/N of the table; a date range on a
    # day()/month() spec scans only the covered partitions — the reason
    # real tables use these specs, now available to the index layer.

    def _transform_view(self, keep_fn, what: str) -> ParquetLake:
        """`keep_fn(rec, spec_id)` — each file's r102 record is
        evaluated against the spec THAT FILE was written under (round
        11, spec evolution): two specs can share a field name with
        different transform params (bucket[4] vs bucket[8] both name
        `col_bucket`), so name-only matching across specs would prune
        wrongly."""
        md = self._table_metadata()
        state = self._cached_state(md)
        adds = {
            canon_path(p): v
            for p, v in live_adds_from_metadata(
                md, self._table_path, self.fs
            ).items()
        }
        default_sid = int(md.get("default-spec-id") or 0)
        fspec = {
            canon_path(p): int(v)
            for p, v in (state.get("data_spec") or {}).items()
        }
        files = self.files  # refuses MOR/default-bearing snapshots
        sub = [
            f
            for f in files
            if keep_fn(
                adds.get(canon_path(f)) or {},
                fspec.get(canon_path(f), default_sid),
            )
        ]
        if not sub:
            raise ValueError(
                f"no lake files match {what} — {len(files)} files total"
            )
        return ParquetLake(
            self.spark, sub, self.index_dir, self.brute_force_threshold,
            fs=self.fs,
        )

    def _fields_by_source(
        self, spec_id: int | None = None
    ) -> dict[str, list[dict]]:
        from rottnest_spark.sources.iceberg_transforms import (
            partition_fields_from_spec,
        )

        md = self._table_metadata()
        if spec_id is not None:
            md = {
                **md,
                "partition-spec": None,
                "default-spec-id": spec_id,
            }
        out: dict[str, list[dict]] = {}
        for pf in partition_fields_from_spec(md):
            out.setdefault(pf["source"], []).append(pf)
        return out

    def partition_pruned(self, **partition_values) -> ParquetLake:
        """Hive-path pruning is DEFAULT-SPEC addressing: files written
        under an older spec lack the `col=value` segments and would be
        silently dropped — refuse on mixed-spec snapshots (use the
        spec-aware transform_pruned, or iceberg_rewrite_partition_spec
        to migrate)."""
        md = self._table_metadata()
        state = self._cached_state(md)
        default_sid = int(md.get("default-spec-id") or 0)
        sids = {
            int(v) for v in (state.get("data_spec") or {}).values()
        }
        if sids - {default_sid}:
            raise ValueError(
                "partition_pruned addresses the default spec's hive "
                f"layout, but live files span specs {sorted(sids)} — "
                "use transform_pruned (spec-aware per file) or "
                "iceberg_rewrite_partition_spec first"
            )
        return super().partition_pruned(**partition_values)

    def transform_pruned(self, **source_values) -> ParquetLake:
        """View of the lake restricted to files that can contain
        `source_col == value`, evaluated through the table's partition
        TRANSFORMS (`lake.transform_pruned(o_custkey=42)` on a
        bucket[4] spec keeps the one matching bucket). Shares the index
        dir, so index entries keep covering the restricted files —
        transform pruning composes with index pruning exactly like
        `partition_pruned`. Files whose r102 value is unknown (null)
        are KEPT (sound). Raises on columns that are not transform
        sources of the default spec."""
        from rottnest_spark.sources.iceberg_transforms import (
            transform_value,
        )

        by_source = self._fields_by_source()
        unknown = [c for c in source_values if c not in by_source]
        if unknown:
            raise ValueError(
                f"{unknown} are not partition-transform source columns "
                f"(spec sources: {sorted(by_source)})"
            )

        # per-SPEC want maps (round 11): each file prunes only through
        # transforms its OWN spec declares — a spec without one simply
        # keeps the file (sound)
        _want_cache: dict[int, dict[str, object]] = {}

        def want_for(sid: int) -> dict[str, object]:
            if sid not in _want_cache:
                w: dict[str, object] = {}
                for col, val in source_values.items():
                    for pf in self._fields_by_source(sid).get(col, []):
                        w[pf["name"]] = transform_value(
                            pf["kind"], pf["param"], val, pf["source_type"]
                        )
                _want_cache[sid] = w
            return _want_cache[sid]

        def keep(rec: dict, sid: int) -> bool:
            for name, exp in want_for(sid).items():
                got = rec.get(name)
                if got is not None and got != exp:
                    return False
            return True

        return self._transform_view(
            keep, f"transform_pruned({source_values})"
        )

    def transform_pruned_range(self, **source_ranges) -> ParquetLake:
        """Range twin of `transform_pruned` for MONOTONIC transforms:
        `lake.transform_pruned_range(o_orderdate=(lo, hi))` on a
        day()/month()/year()/hour() or truncate[W]-int spec keeps files
        whose partition value lies in [transform(lo), transform(hi)]
        (inclusive — transforms floor, so the bounds are widened to the
        containing partitions). bucket[N] is not monotonic and refuses."""
        from rottnest_spark.sources.iceberg_transforms import (
            transform_value,
        )

        by_source = self._fields_by_source()
        unknown = [c for c in source_ranges if c not in by_source]
        if unknown:
            raise ValueError(
                f"{unknown} are not partition-transform source columns "
                f"(spec sources: {sorted(by_source)})"
            )

        def bounds_for_spec(sid: int) -> dict[str, tuple]:
            out: dict[str, tuple] = {}
            src = (
                by_source if sid is None else self._fields_by_source(sid)
            )
            for col, (lo, hi) in source_ranges.items():
                for pf in src.get(col, []):
                    if pf["kind"] == "bucket" or (
                        pf["kind"] == "truncate"
                        and pf["source_type"] == "string"
                    ):
                        continue  # not usable for a range — stay sound
                    out[pf["name"]] = (
                        transform_value(
                            pf["kind"], pf["param"], lo, pf["source_type"]
                        ),
                        transform_value(
                            pf["kind"], pf["param"], hi, pf["source_type"]
                        ),
                    )
            return out

        if not bounds_for_spec(None):
            raise ValueError(
                "no monotonic transform field covers the given columns "
                "(bucket[N] cannot serve ranges)"
            )
        _bounds_cache: dict[int, dict[str, tuple]] = {}

        def keep(rec: dict, sid: int) -> bool:
            if sid not in _bounds_cache:
                _bounds_cache[sid] = bounds_for_spec(sid)
            for name, (lo, hi) in _bounds_cache[sid].items():
                got = rec.get(name)
                if got is not None and not (lo <= got <= hi):
                    return False
            return True

        return self._transform_view(
            keep, f"transform_pruned_range({source_ranges})"
        )

    def _base_read(
        self, fl: list[str], state: dict, location: str, md: dict,
        pairs=None, keep_tags: bool = False,
    ):
        """Scan `fl`, applying the snapshot's positional AND equality
        delete files when present. Rows are tagged from `_metadata`
        BEFORE any projection (metadata columns resolve only on the scan
        relation): one tagging pass feeds the positional (path, pos)
        anti-join and the sequence-aware equality anti-joins, then the
        nanosecond-timestamp handling mirrors sources/reader.read_parquet."""
        has_pos = bool(state["pos_deletes"]) or bool(state["dvs"])
        eqs = state["eq_deletes"]
        dmap = initial_default_fields(md)
        # rename/drop history subsumes the defaults fill (round 11):
        # the history-resolving scan also fills initial-defaults, so the
        # two grouped-scan paths never stack
        hist = _schema_needs_resolution(md)
        if not has_pos and not eqs and not keep_tags:
            if hist:
                return scan_with_schema_resolution(
                    self.spark, fl, md, tagged=False,
                    file_snap=state.get("data_snap"),
                )
            if dmap:
                return scan_with_initial_defaults(
                    self.spark, fl, dmap, tagged=False
                )
            from rottnest_spark.sources.reader import read_parquet

            return read_parquet(self.spark, fl)
        from pyspark.sql import functions as F

        from rottnest_spark.sources.reader import read_parquet_tagged

        if hist:
            df = scan_with_schema_resolution(
                self.spark, fl, md, tagged=True,
                file_snap=state.get("data_snap"),
            )
        elif dmap:
            df = scan_with_initial_defaults(self.spark, fl, dmap, tagged=True)
        else:
            df = read_parquet_tagged(self.spark, fl)
        if has_pos:
            if pairs is None:
                pairs = position_delete_pairs_df(
                    self.spark, state, location, self._table_path
                )
            pairs = pairs.select(
                F.col("__del_path").alias("__path"),
                F.col("__del_pos").alias("__pos"),
            )
            df = df.join(pairs, ["__path", "__pos"], "left_anti")
        if eqs:
            df = apply_equality_deletes(self.spark, df, state, md)
        return df if keep_tags else df.drop("__path", "__pos")

    def read(self, files: list[str] | None = None):
        """Snapshot read with identity-partition-column reconstruction
        when the data files physically LACK those columns (hive-migrated
        / add_files-style tables — exactly what iceberg_write
        partition_by produces). Tables whose files carry the columns
        physically (normal engine-written Iceberg) take the base path.

        Merge-on-read: positional delete files in the current snapshot
        are APPLIED (anti-join on file path + row position) — the v2
        row-level-delete read semantics the reference refuses outright.

        Plan shape: values come from the manifests (typed at write), so
        reconstruction is one scan per DISTINCT partition tuple with
        literal columns, unioned — bounded by partition count, not file
        count; no schema-widening risk from a forced global schema."""
        md = self._table_metadata()
        state = self._cached_state(md)
        data = sorted(state["data"])
        use = files or data
        if not use:
            raise ValueError(
                f"Iceberg table at {self._table_path!r} has no live "
                "data files"
            )
        default_sid = int(md.get("default-spec-id") or 0)
        fspec = state.get("data_spec") or {}
        sids = {int(fspec.get(f, default_sid)) for f in use}
        pcols = partition_columns_from_metadata(md)
        if not pcols and sids <= {default_sid}:
            return self._base_read(use, state, md.get("location", ""), md)
        import pyarrow.parquet as pq

        if sids <= {default_sid}:
            physical = set(pq.ParquetFile(use[0]).schema_arrow.names)
            if all(c in physical for c in pcols):
                return self._base_read(
                    use, state, md.get("location", ""), md
                )
        adds = live_adds_from_metadata(md, self._table_path, fs=self.fs)
        unknown = [f for f in use if f not in adds]
        if unknown:
            raise ValueError(
                f"files not in the Iceberg snapshot: {unknown[:3]} — "
                "partition values unknown"
            )
        from pyspark.sql import functions as F

        # identity columns PER SPEC (round 11, spec evolution): a file
        # fills exactly the identity columns ITS spec moved out of the
        # data; columns another spec moved out are physical in this
        # file. Group key = (spec, that spec's partition tuple); plan
        # stays bounded by specs × partition tuples, not file count.
        def idcols(sid: int) -> list[str]:
            if sid == default_sid:
                return pcols
            return partition_columns_from_metadata(
                {**md, "partition-spec": None, "default-spec-id": sid}
            )

        # per-spec physical probe (one footer per spec): hive-migrated
        # tables whose files CARRY the identity columns physically need
        # no reconstruction for that spec
        missing_by_sid: dict[int, list[str]] = {}
        groups: dict[tuple, list[str]] = {}
        for f in use:
            sid = int(fspec.get(f, default_sid))
            if sid not in missing_by_sid:
                phys = set(pq.ParquetFile(f).schema_arrow.names)
                missing_by_sid[sid] = [
                    c for c in idcols(sid) if c not in phys
                ]
            key = (
                sid,
                tuple(adds[f].get(c) for c in missing_by_sid[sid]),
            )
            groups.setdefault(key, []).append(f)

        # literal types follow the table schema (F.lit would narrow a
        # long partition value to IntegerType)
        _spark_of_iceberg = {
            "long": "bigint", "int": "bigint", "double": "double",
            "float": "double", "boolean": "boolean",
            "timestamp": "timestamp", "date": "date", "string": "string",
        }
        casts = {}
        for f in _current_schema(md).get("fields", []):
            if isinstance(f.get("type"), str):
                casts[f["name"]] = _spark_of_iceberg.get(f["type"], "string")

        parts = []
        shared = None
        if (state["pos_deletes"] or state["dvs"]) and len(groups) > 1:
            shared = position_delete_pairs_df(
                self.spark, state, md.get("location", ""), self._table_path
            ).localCheckpoint(eager=True)
        for (sid, key), fl in sorted(
            groups.items(),
            key=lambda kv: (kv[0][0], tuple(str(k) for k in kv[0][1])),
        ):
            df = self._base_read(
                fl, state, md.get("location", ""), md, pairs=shared
            )
            for c, v in zip(missing_by_sid[sid], key):
                lit = F.lit(v)
                if c in casts:
                    lit = lit.cast(casts[c])
                df = df.withColumn(c, lit)
            parts.append(df)
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out

    def read_with_lineage(self):
        """Snapshot read carrying the v3 ROW-LINEAGE column `_row_id`
        (spec "Row Lineage": a stable per-row id = the file's
        first_row_id + the row's position — survives DV deletes and
        upserts because positions never move; a physical rewrite
        re-mints, the documented seam until _row_id materialization).
        Requires a v3 table whose live files all carry first_row_id
        (any v3 DML commit assigns it, including to legacy files);
        identity-partitioned hive-laid tables refuse (the
        reconstruction path drops row positions)."""
        from pyspark.sql import functions as F

        md = self._table_metadata()
        if int(md.get("format-version") or 1) < 3:
            raise ValueError(
                "row lineage is an Iceberg v3 feature — this table is "
                f"format-version {md.get('format-version') or 1}; any "
                "v3 DML commit upgrades and assigns lineage"
            )
        state = self._cached_state(md)
        data = sorted(state["data"])
        if not data:
            raise ValueError(
                f"Iceberg table at {self._table_path!r} has no live "
                "data files"
            )
        fr = state.get("data_first_row") or {}
        missing = [p for p in data if p not in fr]
        if missing:
            raise ValueError(
                f"{len(missing)} live file(s) have no first_row_id "
                "(written before row lineage) — run any v3 DML commit "
                "(e.g. iceberg_v3_append) to assign ranges, then re-read"
            )
        pcols = partition_columns_from_metadata(md)
        if pcols:
            import pyarrow.parquet as pq

            phys = set(pq.ParquetFile(data[0]).schema_arrow.names)
            if any(c not in phys for c in pcols):
                raise ValueError(
                    "read_with_lineage on a hive-laid identity-"
                    "partitioned table — partition reconstruction drops "
                    "row positions; rewrite to physical columns first"
                )
        df = self._base_read(
            data, state, md.get("location", ""), md, keep_tags=True
        )
        from rottnest_spark.core.smalldf import local_df

        rows = [(canon_path(p), int(fr[p])) for p in data]
        m = local_df(self.spark, rows, "__path string, __first long")
        return (
            df.join(F.broadcast(m), "__path", "left")
            .withColumn("_row_id", F.col("__first") + F.col("__pos"))
            .drop("__path", "__pos", "__first")
        )

    def vacuum(
        self,
        live_files: set[str] | None = None,
        history_days: float | None = None,
        now_ms: int | None = None,
        orphan_min_age_sec: float = 0.0,
    ) -> list[str]:
        """History-aware vacuum (reference backends/iceberg.py:307-384):
        with `history_days`, indexes covering files of any snapshot inside
        the retention window survive even if the current snapshot no longer
        references those files — time-travel reads within the window stay
        accelerated. Without it, plain current-snapshot liveness.

        Refuses on a time-travel-pinned lake: liveness would be computed
        against the PINNED snapshot, so indexes and catalog entries for
        files added after it would be treated as dead and deleted —
        pinning is a read-only concern and must never shrink the
        table's index state."""
        if self._pin_snapshot_id is not None or self._pin_as_of_ms is not None:
            raise ValueError(
                "vacuum() is not allowed on a time-travel-pinned "
                "IcebergSnapshotLake — the pinned snapshot would define "
                "liveness and index state for files added after it would "
                "be destroyed; vacuum from an unpinned lake instead"
            )
        if history_days is not None:
            live_files = set(
                iceberg_history_files(self._table_path, history_days, now_ms)
            )
        return super().vacuum(
            live_files=live_files, orphan_min_age_sec=orphan_min_age_sec
        )


def _eq_candidate_prune(
    cands: list[str], dels: list[dict], col: str
) -> list[str]:
    """Sound footer-statistics pruning of equality-delete CANDIDATE data
    files on one equality column: a data file whose key-column [min,max]
    cannot intersect the delete files' key range cannot lose a row, so
    its scan is skipped entirely. On a key-clustered table this turns
    the value-delete projection from O(table) into O(matching files) —
    the difference between a flat and a linear feed-consumption decade
    (tools/feed_scale_probe.py's eq-upsert row).

    Soundness guards — ANY of these keeps everything:
    - a delete file with null keys (null_count > 0): null-safe equality
      matches null rows, which ranges cannot bound;
    - missing/unreadable stats on a delete file;
    - missing stats on a data file keep THAT file."""
    import pyarrow.parquet as _pq

    dmn = dmx = None
    for d in dels:
        try:
            md_ = _pq.ParquetFile(d["path"]).metadata
        except Exception:
            return cands
        names = [md_.schema.column(i).name for i in range(md_.num_columns)]
        if col not in names:
            return cands
        ci = names.index(col)
        for rg in range(md_.num_row_groups):
            st = md_.row_group(rg).column(ci).statistics
            if (
                st is None
                or not st.has_min_max
                or st.null_count is None
                or st.null_count > 0
            ):
                return cands
            dmn = st.min if dmn is None or st.min < dmn else dmn
            dmx = st.max if dmx is None or st.max > dmx else dmx
    if dmn is None:
        return cands
    from rottnest_spark.core.layout import footer_key_ranges

    try:
        ranges = footer_key_ranges(None, cands, col)
    except Exception:
        # footers unreadable from the driver (e.g. URI-schemed store
        # without a local mount): pruning is an optimization — keep all
        return cands
    out = []
    for f in cands:
        lo, hi = ranges.get(f, (None, None))
        try:
            prunable = lo is not None and hi is not None and (
                hi < dmn or lo > dmx
            )
        except TypeError:  # incomparable stat types: keep (sound)
            prunable = False
        if not prunable:
            out.append(f)
    return out


def equality_delete_positions(spark, state: dict, md: dict):
    """(__path, __pos) of every row HIDDEN by the state's equality
    deletes — the positional projection of value deletes, computed with
    the same sequence-gated null-safe semantics as
    `apply_equality_deletes` but keeping the matches instead of dropping
    them. One scan of the candidate files (those older than the newest
    delete, footer-range-pruned per key set — `_eq_candidate_prune`).
    Lets position-based consumers (snapshot diff) treat equality deletes
    uniformly."""
    from pyspark.sql import functions as F

    if not state["eq_deletes"]:
        return spark.createDataFrame([], "__path string, __pos long")
    names = _schema_field_names(md)
    max_eq = max(d["seq"] for d in state["eq_deletes"])
    cands = sorted(
        f for f, s in state["data"].items() if int(s) < max_eq
    )
    # per-key-set footer pruning; a file survives if ANY key set might
    # touch it (the union keeps each set's semi-join sound)
    by_ids_prune: dict[tuple, list[dict]] = {}
    for d in state["eq_deletes"]:
        by_ids_prune.setdefault(tuple(d["equality_ids"]), []).append(d)
    kept: set[str] = set()
    for ids, dels in by_ids_prune.items():
        col = names.get(int(ids[0])) if ids else None
        kept.update(
            _eq_candidate_prune(cands, dels, col) if col else cands
        )
    cands = sorted(kept)
    if not cands:
        return spark.createDataFrame([], "__path string, __pos long")
    df = spark.read.parquet(*cands).withColumns(
        {
            "__path": _uri_path(F.col("_metadata.file_path")),
            "__pos": F.col("_metadata.row_index"),
        }
    )
    from rottnest_spark.core.smalldf import local_df

    seq_rows = [
        (canon_path(p), int(s))
        for p, s in sorted(state["data"].items())
    ]
    seq_df = local_df(spark, seq_rows, "__path string, __seq long")
    df = df.join(F.broadcast(seq_df), "__path", "left")

    by_ids: dict[tuple, list[dict]] = {}
    for d in state["eq_deletes"]:
        by_ids.setdefault(tuple(d["equality_ids"]), []).append(d)
    parts = []
    for ids, dels in sorted(by_ids.items()):
        cols = [names[i] for i in ids]
        del_df = _eq_delete_rows_df(spark, dels, cols)
        cond = F.col("__dseq") > F.col("__seq")
        for c in cols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"__eq_{c}"))
        parts.append(
            df.join(del_df, cond, "left_semi").select("__path", "__pos")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct()
