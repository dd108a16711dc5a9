"""Iceberg partition transforms (spec: iceberg.apache.org/spec
#partition-transforms + Appendix B "32-bit Hash Requirements").

Pure value→value functions evaluated as Spark COLUMN EXPRESSIONS on the
write paths: staging writes partition the change set by the transformed
value, the hive layout then carries the partition value in the path, and
the commit tail derives each file's r102 partition record from it — the
same discipline the identity path has always used, extended to
`year`/`month`/`day`/`hour`, `bucket[N]` and `truncate[W]`.

Reference behavior: the reference engine refuses all delete state on
Iceberg (/root/reference/python/rottnest/backends/iceberg.py:279-280)
and never writes transform specs; this module follows the public spec
directly.

Result types (spec table):
  identity     -> source type
  year/month   -> int (years / months from 1970-01-01)
  day          -> date, physically int32 days from epoch (recorded as
                  avro int here — the date logical type's physical form)
  hour         -> int (hours from 1970-01-01 00:00:00)
  bucket[N]    -> int in [0, N)
  truncate[W]  -> source type

Bucket hashing is the spec's 32-bit Murmur3 (x86 variant, seed 0) over
the single-value binary representation: int/long widen to 8-byte
little-endian long, date hashes as its day ordinal widened to long,
timestamp as micros-from-epoch long, string as UTF-8 bytes. The long
case is numpy-vectorized (fixed 2-block input); strings hash per row
inside the pandas UDF — write-path change-set scale only, never a query
hot path.
"""

from __future__ import annotations

import re

def murmur3_32(data: bytes, seed: int = 0) -> int:
    """Murmur3 x86 32-bit of `data` — signed int32, matching the spec's
    Appendix B test vectors (e.g. hashBytes(utf8('iceberg')) ==
    1210000089)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n = len(data)
    nblocks = n // 4
    for i in range(nblocks):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[nblocks * 4 :]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def murmur3_longs(vals):
    """Vectorized murmur3_32 of int64 values hashed as their 8-byte
    little-endian form (the spec widens int/date to long first) — the
    fixed 2-block, no-tail case. Returns np.int32; input NaN-free."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).view(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(v.shape, np.uint32)
    for blk in (
        (v & np.uint64(0xFFFFFFFF)).astype(np.uint32),
        (v >> np.uint64(32)).astype(np.uint32),
    ):
        k = blk * c1
        k = (k << np.uint32(15)) | (k >> np.uint32(17))
        k = k * c2
        h = h ^ k
        h = (h << np.uint32(13)) | (h >> np.uint32(19))
        h = h * np.uint32(5) + np.uint32(0xE6546B64)
    h = h ^ np.uint32(8)  # length in bytes
    h = h ^ (h >> np.uint32(16))
    h = h * np.uint32(0x85EBCA6B)
    h = h ^ (h >> np.uint32(13))
    h = h * np.uint32(0xC2B2AE35)
    h = h ^ (h >> np.uint32(16))
    return h.astype(np.int32)


def parse_transform(t: str) -> tuple[str, int | None]:
    """'identity' -> ('identity', None); 'bucket[16]' -> ('bucket', 16);
    'truncate[4]' -> ('truncate', 4); 'day' -> ('day', None). Raises on
    void/unknown — the write paths must not silently drop a declared
    partition field (metadata corruption for external readers)."""
    t = (t or "identity").strip()
    m = re.fullmatch(r"(bucket|truncate)\[(\d+)\]", t)
    if m:
        n = int(m.group(2))
        if n <= 0:
            raise ValueError(f"transform {t!r}: width/buckets must be > 0")
        return m.group(1), n
    if t in ("identity", "year", "month", "day", "hour"):
        return t, None
    raise ValueError(
        f"unsupported partition transform {t!r} — this writer evaluates "
        "identity/year/month/day/hour/bucket[N]/truncate[W]; writing "
        "would drop the field from the manifests, refusing instead"
    )


#: source types each transform accepts (spec "Partition Transforms")
_TEMPORAL_OK = {
    "year": ("date", "timestamp", "timestamptz"),
    "month": ("date", "timestamp", "timestamptz"),
    "day": ("date", "timestamp", "timestamptz"),
    "hour": ("timestamp", "timestamptz"),
}
_BUCKET_OK = ("int", "long", "date", "timestamp", "timestamptz", "string")
_TRUNCATE_OK = ("int", "long", "string")


def result_type(kind: str, param, source_type: str) -> str:
    """Iceberg type string of the PARTITION VALUE a transform produces —
    what the r102 manifest record field is typed as. `day` records the
    date's physical int32 day ordinal (avro date logical = int)."""
    if kind == "identity":
        return source_type
    if kind in ("year", "month", "day", "hour"):
        if source_type not in _TEMPORAL_OK[kind]:
            raise ValueError(
                f"{kind}() does not apply to source type {source_type!r}"
            )
        return "int"
    if kind == "bucket":
        if source_type not in _BUCKET_OK:
            raise ValueError(
                f"bucket[{param}] on source type {source_type!r} is not "
                f"supported here (supported: {_BUCKET_OK}; decimal/uuid/"
                "fixed hashing not implemented — refusing loudly rather "
                "than hashing wrong)"
            )
        return "int"
    if kind == "truncate":
        if source_type not in _TRUNCATE_OK:
            raise ValueError(
                f"truncate[{param}] on source type {source_type!r} is not "
                f"supported here (supported: {_TRUNCATE_OK})"
            )
        return source_type
    raise ValueError(f"unsupported transform {kind!r}")


def default_field_name(kind: str, param, source_name: str) -> str:
    """Iceberg's conventional partition-field names (what Spark's own
    Iceberg writer generates)."""
    if kind == "identity":
        return source_name
    if kind == "bucket":
        return f"{source_name}_bucket"
    if kind == "truncate":
        return f"{source_name}_trunc"
    return f"{source_name}_{kind}"  # year/month/day/hour


def transform_spec_str(kind: str, param) -> str:
    if kind in ("bucket", "truncate"):
        return f"{kind}[{param}]"
    return kind


def transform_column(kind: str, param, source_name: str, source_type: str):
    """pyspark Column computing the partition value of `source_name`
    under the transform — pure built-in expressions for everything
    except bucket (whose spec hash needs murmur3 over the value's binary
    single-value form: a vectorized pandas UDF, write-path only).
    Nulls map to null (spec: null partition values are allowed)."""
    from pyspark.sql import functions as F

    result_type(kind, param, source_type)  # validate the pairing
    col = F.col(source_name)
    if kind == "identity":
        return col
    if kind == "year":
        return (F.year(col) - F.lit(1970)).cast("int")
    if kind == "month":
        return (
            (F.year(col) - F.lit(1970)) * F.lit(12) + F.month(col) - F.lit(1)
        ).cast("int")
    if kind == "day":
        return F.datediff(F.to_date(col), F.lit("1970-01-01")).cast("int")
    if kind == "hour":
        # micros-from-epoch // 3.6e9. TIMESTAMP_NTZ needs the LTZ hop
        # (unix_micros is LTZ-only); the session tz is pinned to UTC
        # (rottnest_spark.session), so the hop is value-preserving.
        return F.floor(
            F.unix_micros(col.cast("timestamp")) / F.lit(3_600_000_000)
        ).cast("int")
    if kind == "truncate":
        if source_type == "string":
            return F.substring(col, 1, int(param))
        # int/long: v - (((v % W) + W) % W) — pmod is exactly that
        return (col - F.pmod(col, F.lit(int(param)))).cast(
            "bigint" if source_type == "long" else "int"
        )
    if kind == "bucket":
        return _bucket_udf_column(int(param), col, source_type)
    raise ValueError(f"unsupported transform {kind!r}")


def _bucket_udf_column(n: int, col, source_type: str):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    if source_type in ("int", "long"):

        @pandas_udf("int")
        def _bucket(s):
            import numpy as np
            import pandas as pd

            mask = s.notna()
            out = pd.Series([None] * len(s), dtype="Int32")
            if mask.any():
                h = murmur3_longs(s[mask].astype("int64").to_numpy())
                out[mask] = (h.astype(np.int64) & 0x7FFFFFFF) % n
            return out

        return _bucket(col.cast("long"))

    if source_type == "date":
        # hash the day ordinal widened to long
        days = F.datediff(col, F.lit("1970-01-01")).cast("long")
        return _bucket_udf_column(n, days, "long").alias("b")

    if source_type in ("timestamp", "timestamptz"):
        # spec: hash micros-from-epoch as long (NTZ hops through LTZ —
        # exact under the repo's pinned UTC session tz)
        micros = F.unix_micros(col.cast("timestamp"))
        return _bucket_udf_column(n, micros, "long")

    if source_type == "string":

        @pandas_udf("int")
        def _bucket_s(s):
            import pandas as pd

            return pd.Series(
                [
                    None
                    if v is None
                    else (murmur3_32(v.encode("utf-8")) & 0x7FFFFFFF) % n
                    for v in s
                ],
                dtype="Int32",
            )

        return _bucket_s(col)

    raise ValueError(f"bucket on {source_type!r} not supported")


def transform_value(kind: str, param, value, source_type: str):
    """DRIVER-side scalar evaluation of a transform — the planner's side
    of transform partition pruning: given a predicate value on the
    SOURCE column, compute the partition value its rows must carry, so
    files whose r102 record differs are pruned without a scan. Must
    agree exactly with transform_column (tested both ways)."""
    import datetime as _dt
    import struct as _struct

    if value is None:
        return None
    result_type(kind, param, source_type)  # validate the pairing
    if kind == "identity":
        return value

    def _as_date(v):
        if isinstance(v, _dt.datetime):
            return v.date()
        if isinstance(v, _dt.date):
            return v
        return _dt.datetime.fromisoformat(str(v)).date()

    def _as_dt(v):
        if isinstance(v, _dt.datetime):
            return v
        if isinstance(v, _dt.date):
            return _dt.datetime(v.year, v.month, v.day)
        return _dt.datetime.fromisoformat(str(v))

    epoch = _dt.date(1970, 1, 1)

    def _micros(dt: _dt.datetime) -> int:
        # Integer-exact micros-since-epoch. float(dt.timestamp()) loses
        # ~1µs on ~3/million timestamps, which flips the murmur3 bucket
        # relative to the write side's exact F.unix_micros and silently
        # prunes files that contain matching rows.
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        return (
            dt - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        ) // _dt.timedelta(microseconds=1)

    if kind == "year":
        return _as_date(value).year - 1970
    if kind == "month":
        d = _as_date(value)
        return (d.year - 1970) * 12 + d.month - 1
    if kind == "day":
        return (_as_date(value) - epoch).days
    if kind == "hour":
        return _micros(_as_dt(value)) // 3_600_000_000
    if kind == "truncate":
        if source_type == "string":
            return str(value)[: int(param)]
        w = int(param)
        return int(value) - (int(value) % w)  # python % is floor-mod
    if kind == "bucket":
        n = int(param)
        if source_type in ("int", "long"):
            h = murmur3_32(_struct.pack("<q", int(value)))
        elif source_type == "date":
            h = murmur3_32(_struct.pack("<q", (_as_date(value) - epoch).days))
        elif source_type in ("timestamp", "timestamptz"):
            h = murmur3_32(_struct.pack("<q", _micros(_as_dt(value))))
        elif source_type == "string":
            h = murmur3_32(str(value).encode("utf-8"))
        else:
            raise ValueError(f"bucket on {source_type!r} not supported")
        return (h & 0x7FFFFFFF) % n
    raise ValueError(f"unsupported transform {kind!r}")


def partition_fields_from_spec(md: dict) -> list[dict]:
    """The default partition spec resolved to evaluable field structs:
    [{name, transform, kind, param, source, source_type, result_type,
    source_id}]. Raises on transforms outside the supported set (void,
    unknown) and on identity fields whose name differs from the source
    column (the hive layout addresses identity values by column name).
    Empty list for unpartitioned tables."""
    from rottnest_spark.sources.iceberg import _current_schema

    if not md:
        return []
    spec = md.get("partition-spec")
    if spec is None and md.get("partition-specs"):
        sid = md.get("default-spec-id", 0)
        for s in md["partition-specs"]:
            if s.get("spec-id") == sid:
                spec = s.get("fields")
    if not spec:
        return []
    by_id = {
        int(f["id"]): f
        for f in _current_schema(md).get("fields", [])
        if f.get("id") is not None
    }
    by_name = {f["name"]: f for f in _current_schema(md).get("fields", [])}
    out = []
    for f in spec:
        kind, param = parse_transform(f.get("transform", "identity"))
        src = by_id.get(int(f["source-id"])) if f.get("source-id") else None
        if src is None:  # engine metadata without ids resolvable: by name
            src = by_name.get(f.get("name"))
        if src is None:
            raise ValueError(
                f"partition field {f.get('name')!r}: source-id "
                f"{f.get('source-id')} not in the current schema"
            )
        if not isinstance(src.get("type"), str):
            raise ValueError(
                f"partition source column {src['name']!r} has non-primitive "
                f"type {src.get('type')!r} — transforms are defined on "
                f"primitive types only"
            )
        stype = src["type"]
        name = f.get("name") or default_field_name(kind, param, src["name"])
        if kind == "identity" and name != src["name"]:
            raise ValueError(
                f"identity partition field {name!r} renames source column "
                f"{src['name']!r} — the hive layout cannot carry that"
            )
        out.append(
            {
                "name": name,
                "transform": transform_spec_str(kind, param),
                "kind": kind,
                "param": param,
                "source": src["name"],
                "source_type": stype,
                "result_type": result_type(kind, param, stype),
                "source_id": int(src["id"]),
                "field_id": f.get("field-id"),
            }
        )
    return out


def parse_partition_by(entries: list[str], schema: dict) -> list[dict]:
    """User-facing partition_by syntax -> field structs: each entry is a
    plain column name (identity) or 'day(col)' / 'bucket(16, col)' /
    'truncate(4, col)'. `schema` is the table's iceberg struct."""
    by_name = {f["name"]: f for f in schema.get("fields", [])}

    def resolve(col: str):
        f = by_name.get(col.strip())
        if f is None:
            raise ValueError(
                f"partition column {col.strip()!r} is not in the table "
                f"schema ({sorted(by_name)})"
            )
        return f

    out = []
    for e in entries:
        e = e.strip()
        m = re.fullmatch(r"(year|month|day|hour)\s*\(\s*([\w.]+)\s*\)", e)
        m2 = re.fullmatch(
            r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([\w.]+)\s*\)", e
        )
        if m:
            kind, param, col = m.group(1), None, m.group(2)
        elif m2:
            kind, param, col = m2.group(1), int(m2.group(2)), m2.group(3)
        else:
            kind, param, col = "identity", None, e
        f = resolve(col)
        if not isinstance(f.get("type"), str):
            raise ValueError(
                f"partition column {f['name']!r} has non-primitive type "
                f"{f.get('type')!r} — transforms are defined on primitive "
                f"types only"
            )
        stype = f["type"]
        out.append(
            {
                "name": default_field_name(kind, param, f["name"]),
                "transform": transform_spec_str(kind, param),
                "kind": kind,
                "param": param,
                "source": f["name"],
                "source_type": stype,
                "result_type": result_type(kind, param, stype),
                "source_id": int(f["id"]),
                "field_id": None,
            }
        )
    return out


def stage_partitioned(df, pfs: list[dict]):
    """(staging DataFrame, partition dir column names): identity fields
    partition by the source column itself (stripped from data files —
    reconstructed at read, the long-standing layout); transform fields
    get a DERIVED column named after the partition field (stripped by
    partitionBy, while the SOURCE column stays physical in the data
    files — exactly the spec's expectation for non-identity specs)."""
    names = []
    for pf in pfs:
        if pf["kind"] == "identity":
            names.append(pf["source"])
            continue
        if pf["name"] in df.columns:
            raise ValueError(
                f"column {pf['name']!r} collides with the generated "
                f"partition field name for {pf['transform']}({pf['source']})"
            )
        df = df.withColumn(
            pf["name"],
            transform_column(
                pf["kind"], pf["param"], pf["source"], pf["source_type"]
            ),
        )
        names.append(pf["name"])
    return df, names
