"""Puffin container + Iceberg v3 deletion-vector blobs (round 8).

Public specs implemented (no other sources):

- Puffin file format, https://iceberg.apache.org/puffin-spec/ :
  ``Magic "PFA1" | blob payloads | Magic | FooterPayload (UTF-8 JSON) |
  FooterPayloadSize (int32 LE) | Flags (4 bytes) | Magic``. Flag bit 0
  of byte 0 marks an lz4-compressed footer payload — REFUSED loudly
  (this reader/writer speaks plain JSON footers only; misparsing a
  compressed footer would mis-locate every blob).

- Deletion vectors, https://iceberg.apache.org/spec/#deletion-vectors :
  blob type ``deletion-vector-v1`` laid out as
  ``<combined length of magic+vector, int32 BE> <magic D1 D3 39 64>
  <vector> <CRC-32 of magic+vector, int32 BE>``; the blob's Puffin
  metadata carries ``referenced-data-file`` and ``cardinality``
  properties, and the v3 delete-manifest entry addresses the blob
  directly via ``content_offset`` / ``content_size_in_bytes``.

The vector itself is the RoaringFormatSpec 64-bit "portable"
serialization: int64 LE bucket count, then per bucket an int32 LE
high-32-bits key + the standard 32-bit roaring container layout. That
is EXACTLY the Delta RoaringBitmapArray layout (sources/roaring.py)
minus Delta's leading int32 magic 1681511377 — so the battle-tested
codec is shared by reframing four bytes, not reimplemented.

The reference has no analog: it refuses delete-bearing Iceberg tables
outright (/root/reference/python/rottnest/backends/iceberg.py:279-280).
"""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np

from rottnest_spark.sources.roaring import PORTABLE_MAGIC, roaring64_encode

MAGIC = b"PFA1"
DV_MAGIC = bytes((0xD1, 0xD3, 0x39, 0x64))
DV_BLOB_TYPE = "deletion-vector-v1"


def iceberg_vector_encode(positions) -> bytes:
    """Row positions → the spec's portable 64-bit roaring bytes."""
    return roaring64_encode(positions)[4:]  # drop Delta's int32 magic


def encode_dv_blob(positions) -> bytes:
    """One deletion-vector-v1 blob: length + magic + vector + CRC."""
    body = DV_MAGIC + iceberg_vector_encode(positions)
    return (
        struct.pack(">i", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def make_puffin_dv_blob_encoder():
    """encode(positions) → one framed deletion-vector-v1 blob (length +
    magic + portable-64 roaring + CRC). Self-contained closure (repo
    convention: ships to executors by value) — reuses the roaring
    encoder closure and reframes Delta's 4-byte magic into the Iceberg
    blob framing, exactly like the module-level encode_dv_blob."""
    import struct as _struct
    import zlib as _zlib

    from rottnest_spark.sources.roaring import make_dv_encoder

    enc = make_dv_encoder()
    dv_magic = DV_MAGIC

    def encode(positions) -> bytes:
        body = dv_magic + enc(positions)[4:]
        return (
            _struct.pack(">i", len(body))
            + body
            + _struct.pack(">I", _zlib.crc32(body) & 0xFFFFFFFF)
        )

    return encode


def make_puffin_dv_packer(snapshot_id: int, sequence_number: int):
    """pack(rows) → (puffin file bytes, descriptors): assemble ONE Puffin
    container from pre-encoded (referenced data file, blob bytes,
    cardinality) rows — the EXECUTOR-side tail of a distributed DV
    write (each task packs its partition's blobs into one file and
    ships back descriptor rows only; bitmaps never reach the driver —
    the delta_write.pack_bins discipline). Self-contained closure:
    json/struct only, framing mirrors write_puffin_dvs byte for byte."""
    import json as _json
    import struct as _struct

    magic = MAGIC
    blob_type = DV_BLOB_TYPE

    def pack(rows):
        buf = bytearray(magic)
        blobs, desc = [], []
        for ref, blob, card in rows:
            off = len(buf)
            buf += blob
            blobs.append(
                {
                    "type": blob_type,
                    "fields": [],
                    "snapshot-id": snapshot_id,
                    "sequence-number": sequence_number,
                    "offset": off,
                    "length": len(blob),
                    "properties": {
                        "referenced-data-file": ref,
                        "cardinality": str(int(card)),
                    },
                }
            )
            desc.append(
                {
                    "ref": ref,
                    "offset": off,
                    "size": len(blob),
                    "cardinality": int(card),
                }
            )
        payload = _json.dumps({"blobs": blobs, "properties": {}}).encode()
        buf += magic + payload
        buf += _struct.pack("<i", len(payload)) + b"\x00\x00\x00\x00" + magic
        return bytes(buf), desc

    return pack


def make_puffin_dv_decoder():
    """decode(file_bytes, offset, size=None, referenced=None) →
    np.ndarray of deleted positions. Self-contained closure (repo
    convention — ships to executors by value, no package import on
    workers). `offset=None` falls back to locating the blob through the
    Puffin footer by its referenced-data-file property."""
    from rottnest_spark.sources.roaring import (
        make_dv_decoder as _mk,
    )

    _roaring = _mk()  # itself a self-contained closure
    _dv_magic = DV_MAGIC
    _pfa = MAGIC
    _pm = PORTABLE_MAGIC
    _blob_type = DV_BLOB_TYPE

    def _footer(data):
        import json as _json
        import struct as _struct

        if data[:4] != _pfa or data[-4:] != _pfa:
            raise ValueError("not a Puffin file (PFA1 magic missing)")
        flags = data[-8:-4]
        if flags[0] & 1:
            raise ValueError(
                "Puffin footer payload is compressed (lz4) — unsupported, "
                "refusing instead of misparsing blob offsets"
            )
        (psize,) = _struct.unpack_from("<i", data, len(data) - 12)
        start = len(data) - 12 - psize
        if data[start - 4 : start] != _pfa:
            raise ValueError("Puffin footer framing corrupt")
        return _json.loads(bytes(data[start : start + psize]).decode())

    def decode(data, offset=None, size=None, referenced=None):
        import struct as _struct
        import zlib as _zlib

        if offset is None:
            for b in _footer(data).get("blobs", []):
                props = b.get("properties") or {}
                if b.get("type") == _blob_type and (
                    referenced is None
                    or props.get("referenced-data-file") == referenced
                ):
                    offset, size = int(b["offset"]), int(b["length"])
                    break
            else:
                raise KeyError(
                    f"no {_blob_type} blob for {referenced!r} in footer"
                )
        offset = int(offset)
        (ln,) = _struct.unpack_from(">i", data, offset)
        body = bytes(data[offset + 4 : offset + 4 + ln])
        if body[:4] != _dv_magic:
            raise ValueError("deletion-vector blob magic mismatch")
        (crc,) = _struct.unpack_from(">I", data, offset + 4 + ln)
        if _zlib.crc32(body) & 0xFFFFFFFF != crc:
            raise ValueError("deletion-vector blob CRC mismatch")
        if size is not None and int(size) != ln + 8:
            raise ValueError(
                f"content_size_in_bytes {size} != stored blob size {ln + 8}"
            )
        return _roaring(_struct.pack("<i", _pm) + body[4:])

    decode.footer = _footer
    return decode


_DECODE = make_puffin_dv_decoder()


def puffin_dv_positions(
    data: bytes,
    offset: int | None = None,
    size: int | None = None,
    referenced: str | None = None,
) -> np.ndarray:
    """Deleted positions of one DV blob (driver-side convenience)."""
    return _DECODE(data, offset, size, referenced)


def write_puffin_dvs(
    path: str,
    dvs: dict[str, object],
    fs=None,
    snapshot_id: int = -1,
    sequence_number: int = -1,
) -> dict[str, dict]:
    """Write ONE Puffin file holding one deletion-vector-v1 blob per
    referenced data file. Returns {data_file: {"offset", "size",
    "cardinality"}} — exactly what the caller's v3 delete-manifest
    entries need (content_offset / content_size_in_bytes /
    record_count). Writing happens through the FS seam; this is the
    fixture/commit path (the reference writes nothing here either)."""
    from rottnest_spark.core.fs import LocalFS

    fs = fs or LocalFS()
    buf = bytearray(MAGIC)
    blobs, out = [], {}
    for ref, positions in sorted(dvs.items()):
        blob = encode_dv_blob(positions)
        off = len(buf)
        buf += blob
        card = int(np.unique(np.asarray(positions, np.uint64)).size)
        blobs.append(
            {
                "type": DV_BLOB_TYPE,
                "fields": [],
                "snapshot-id": snapshot_id,
                "sequence-number": sequence_number,
                "offset": off,
                "length": len(blob),
                "properties": {
                    "referenced-data-file": ref,
                    "cardinality": str(card),
                },
            }
        )
        out[ref] = {"offset": off, "size": len(blob), "cardinality": card}
    payload = json.dumps({"blobs": blobs, "properties": {}}).encode()
    buf += MAGIC + payload
    buf += struct.pack("<i", len(payload)) + b"\x00\x00\x00\x00" + MAGIC
    fs.makedirs(os.path.dirname(path))
    fs.write_bytes(path, bytes(buf))
    return out
