"""REAL Apache Iceberg table-metadata walk — the lakehouse layer the
north rule names ("Iceberg tables of interleaved text + media documents")
parsed from first principles: a v2 ``metadata.json`` resolves the current
snapshot, the snapshot's MANIFEST LIST (an Avro object-container file)
enumerates manifests with length + count accounting, each MANIFEST (Avro
again) carries data-file entries with per-column value bounds, and the
walker finishes with the planner's first move — min/max PRUNING of data
files against a scan predicate, exactly the metadata skip a 100 TB scan
performs before reading a single parquet footer.

The whole table directory travels as one ZIP (archive.walk_zip_members —
the shared structural walk docx/epub ride), members resolved BY THE PATHS
the metadata chain declares, never by zip order.

Format discipline (fixed-subset, the avro_real precedent): the Avro
records are written and read in a FIXED field order documented here —
manifest_file = (manifest_path:string, manifest_length:long,
partition_spec_id:int, content:int, added_snapshot_id:long,
added_files_count:int, added_rows_count:long); manifest_entry =
(status:int, snapshot_id:long, data_file=(content:int, file_path:string,
file_format:string, partition.bucket:int, record_count:long,
file_size_in_bytes:long, lower_bounds:map<int,bytes>,
upper_bounds:map<int,bytes>)). Bounds bytes use Iceberg's single-value
serialization (spec Appendix D): longs are 8-byte LITTLE-ENDIAN — the
field a big-endian habit silently mis-prunes, pinned by test.

Integrity gates (every one poison-tiered in the registry query):
  * manifest_length recorded in the manifest list must equal the actual
    member's byte length;
  * every Avro block's trailing sync marker must echo the header's;
  * added_files_count / added_rows_count must match the entries walked;
  * current-snapshot-id must resolve to a listed snapshot;
  * format-version must be 2.

Failure contract: every malformed table yields an error ROW, never an
exception (the MediaCodec discipline).

Reference parity: none — the reference stores documents in S3 + tags
(DocumentExtractManager.java:680-697); table-format metadata is
beyond-reference, but it is THIS repo's own storage story
(sources/snapshots.py is the engine's Iceberg analog, SURVEY §7.0).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.archive import build_zip, walk_zip_members
from cies_ocr_java_spark.operators.avro_real import (
    decode_long,
    encode_long,
    encode_string,
)
from cies_ocr_java_spark.operators.walker import map_blobs

AVRO_MAGIC = b"Obj\x01"
_SYNC = b"\x42" * 16
_DOC_ID_FIELD = 1  # column id carrying doc_id bounds


def _le_long(v: int) -> bytes:
    return struct.pack("<q", v)


def _ocf(records: list[bytes], schema_name: str,
         sync: bytes = _SYNC) -> bytes:
    """Minimal Avro OCF: header meta (schema name + null codec), ONE
    data block, sync-terminated."""
    meta = {
        "avro.schema": json.dumps(
            {"type": "record", "name": schema_name}).encode(),
        "avro.codec": b"null",
    }
    out = bytearray(AVRO_MAGIC)
    out += encode_long(len(meta))
    for k, v in sorted(meta.items()):
        out += encode_string(k) + encode_long(len(v)) + v
    out += encode_long(0)
    out += sync
    payload = b"".join(records)
    out += encode_long(len(records)) + encode_long(len(payload))
    out += payload
    out += sync
    return bytes(out)


def _ocf_records(data: bytes, what: str) -> list[bytes]:
    """Walk the OCF envelope; returns the concatenated record payloads
    per block (decoded by the caller's fixed-subset reader)."""
    if len(data) < 4 or data[:4] != AVRO_MAGIC:
        raise ValueError(f"bad avro magic in {what}")
    pos = 4
    while True:
        count, pos = decode_long(data, pos)
        if count == 0:
            break
        if count < 0:
            raise ValueError(f"negative meta count in {what}")
        for _ in range(count):
            klen, pos = decode_long(data, pos)
            pos += klen
            vlen, pos = decode_long(data, pos)
            pos += vlen
            if pos > len(data):
                raise ValueError(f"meta overruns {what}")
    sync = data[pos:pos + 16]
    if len(sync) != 16:
        raise ValueError(f"truncated sync in {what}")
    pos += 16
    payloads = []
    while pos < len(data):
        n, pos = decode_long(data, pos)
        size, pos = decode_long(data, pos)
        if n < 0 or size < 0 or pos + size + 16 > len(data):
            raise ValueError(f"block overruns {what}")
        payloads.append((n, data[pos:pos + size]))
        pos += size
        if data[pos:pos + 16] != sync:
            raise ValueError("sync marker mismatch")
        pos += 16
    return payloads


def _dec_string(data: bytes, pos: int) -> tuple[str, int]:
    n, pos = decode_long(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("string overruns record")
    return data[pos:pos + n].decode("utf-8"), pos + n


def _dec_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = decode_long(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("bytes overrun record")
    return data[pos:pos + n], pos + n


def _dec_map_int_bytes(data: bytes, pos: int) -> tuple[dict, int]:
    out: dict[int, bytes] = {}
    while True:
        n, pos = decode_long(data, pos)
        if n == 0:
            break
        if n < 0:  # block with byte-size prefix (legal avro) — skip size
            _, pos = decode_long(data, pos)
            n = -n
        for _ in range(n):
            k, pos = decode_long(data, pos)
            v, pos = _dec_bytes(data, pos)
            out[k] = v
    return out, pos


# --- builder ---------------------------------------------------------------

def _enc_manifest_file(path: str, length: int, added_files: int,
                       added_rows: int, snapshot_id: int) -> bytes:
    return (
        encode_string(path)
        + encode_long(length)
        + encode_long(0)          # partition_spec_id
        + encode_long(0)          # content = data
        + encode_long(snapshot_id)
        + encode_long(added_files)
        + encode_long(added_rows)
    )


def _enc_map_int_bytes(m: dict[int, bytes]) -> bytes:
    out = bytearray()
    if m:
        out += encode_long(len(m))
        for k, v in sorted(m.items()):
            out += encode_long(k) + encode_long(len(v)) + v
    out += encode_long(0)
    return bytes(out)


def _enc_manifest_entry(file_path: str, bucket: int, record_count: int,
                        file_size: int, lo: int, hi: int,
                        snapshot_id: int) -> bytes:
    return (
        encode_long(1)            # status = ADDED
        + encode_long(snapshot_id)
        + encode_long(0)          # data_file.content = data
        + encode_string(file_path)
        + encode_string("PARQUET")
        + encode_long(bucket)
        + encode_long(record_count)
        + encode_long(file_size)
        + _enc_map_int_bytes({_DOC_ID_FIELD: _le_long(lo)})
        + _enc_map_int_bytes({_DOC_ID_FIELD: _le_long(hi)})
    )


def build_iceberg_table(
    manifests: list[list[tuple[int, int, int]]],
    n_hist: int = 0,
    *,
    bad_manifest_length: bool = False,
    bad_sync: bool = False,
    bad_current: bool = False,
    bad_row_count: bool = False,
) -> bytes:
    """One Iceberg v2 table as a ZIP of its metadata directory.

    ``manifests[mi]`` lists that manifest's data files as
    (lo, hi, record_count) doc_id-bound triples. ``n_hist`` adds that
    many historical snapshots to metadata.json (only the current one is
    walked). Poison knobs: inflate the first recorded manifest_length
    by one / corrupt the first manifest's trailing sync / point
    current-snapshot-id at a snapshot that is not listed.
    """
    cur_sid = 9000 + len(manifests)
    members: list[tuple[str, bytes | str, int]] = []
    mf_entries = []
    for mi, files in enumerate(manifests):
        recs = []
        rows = 0
        for j, (lo, hi, nrec) in enumerate(files):
            recs.append(_enc_manifest_entry(
                f"data/part-{mi:03d}-{j:03d}.parquet",
                bucket=mi, record_count=nrec,
                file_size=4096 + 64 * j, lo=lo, hi=hi,
                snapshot_id=cur_sid))
            rows += nrec
        body = _ocf(recs, "manifest_entry")
        if bad_sync and mi == 0:
            body = body[:-16] + bytes(16)
        path = f"metadata/manifest-{mi:05d}.avro"
        length = len(body) + (1 if bad_manifest_length and mi == 0 else 0)
        if bad_row_count and mi == 0:
            rows += 1
        mf_entries.append(_enc_manifest_file(
            path, length, len(files), rows, cur_sid))
        members.append((path, body, 0))
    mlist_path = f"metadata/snap-{cur_sid}-manifest-list.avro"
    members.append((mlist_path, _ocf(mf_entries, "manifest_file"), 0))
    snaps = [
        {"snapshot-id": 8000 + k, "sequence-number": k + 1,
         "timestamp-ms": 1700000000000 + k,
         "manifest-list": f"metadata/snap-{8000 + k}-gone.avro",
         "summary": {"operation": "append"}}
        for k in range(n_hist)
    ]
    snaps.append({
        "snapshot-id": cur_sid, "sequence-number": n_hist + 1,
        "timestamp-ms": 1700000000000 + n_hist,
        "manifest-list": mlist_path,
        "summary": {"operation": "append"},
    })
    meta = {
        "format-version": 2,
        "table-uuid": "0" * 8 + "-dead-beef-cafe-" + "0" * 12,
        "location": "zip://table",
        "last-sequence-number": n_hist + 1,
        "current-snapshot-id": cur_sid + (1 if bad_current else 0),
        "snapshots": snaps,
        "schemas": [{"schema-id": 0, "fields": [
            {"id": _DOC_ID_FIELD, "name": "doc_id", "required": True,
             "type": "long"}]}],
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "bucket", "transform": "identity",
             "source-id": _DOC_ID_FIELD, "field-id": 1000}]}],
    }
    members.append(("metadata/v3.metadata.json",
                    json.dumps(meta, sort_keys=True), 0))
    return build_zip(members)


# --- parser ----------------------------------------------------------------

_ICE_NONE = {
    "format_version": None, "n_snapshots": None, "n_manifests": None,
    "n_data_files": None, "total_records": None, "n_scanned": None,
}


def parse_iceberg_table(data: bytes | None, scan_lo: int,
                        scan_hi: int) -> dict:
    """Walk metadata.json -> manifest list -> manifests -> data files;
    returns table facts plus ``n_scanned`` = data files whose
    [lower, upper] doc_id bounds intersect [scan_lo, scan_hi]."""
    if data is None:
        return {**_ICE_NONE, "error": "short or missing payload"}
    members, err = walk_zip_members(bytes(data))
    if err is not None:
        return {**_ICE_NONE, "error": err}
    by_name = {name: payload for name, payload, _ in members}
    try:
        meta_raw = by_name.get("metadata/v3.metadata.json")
        if meta_raw is None:
            raise ValueError("missing metadata.json")
        meta = json.loads(meta_raw.decode("utf-8"))
        if meta.get("format-version") != 2:
            raise ValueError("unsupported format-version")
        cur = meta.get("current-snapshot-id")
        snaps = meta.get("snapshots", [])
        snap = next((s for s in snaps if s.get("snapshot-id") == cur),
                    None)
        if snap is None:
            raise ValueError("current snapshot not found")
        mlist_raw = by_name.get(snap["manifest-list"])
        if mlist_raw is None:
            raise ValueError("manifest list member missing")
        n_manifests = n_files = total = scanned = 0
        for count, payload in _ocf_records(mlist_raw, "manifest list"):
            pos = 0
            for _ in range(count):
                path, pos = _dec_string(payload, pos)
                length, pos = decode_long(payload, pos)
                _spec, pos = decode_long(payload, pos)
                _content, pos = decode_long(payload, pos)
                _sid, pos = decode_long(payload, pos)
                afiles, pos = decode_long(payload, pos)
                arows, pos = decode_long(payload, pos)
                body = by_name.get(path)
                if body is None:
                    raise ValueError("manifest member missing")
                if len(body) != length:
                    raise ValueError("manifest length mismatch")
                n_manifests += 1
                got_files = got_rows = 0
                for c2, p2 in _ocf_records(body, "manifest"):
                    q = 0
                    for _ in range(c2):
                        _status, q = decode_long(p2, q)
                        _esid, q = decode_long(p2, q)
                        _dcontent, q = decode_long(p2, q)
                        _fp, q = _dec_string(p2, q)
                        fmt, q = _dec_string(p2, q)
                        if fmt != "PARQUET":
                            raise ValueError("unsupported file format")
                        _bucket, q = decode_long(p2, q)
                        nrec, q = decode_long(p2, q)
                        _fsz, q = decode_long(p2, q)
                        lob, q = _dec_map_int_bytes(p2, q)
                        hib, q = _dec_map_int_bytes(p2, q)
                        lo = struct.unpack(
                            "<q", lob[_DOC_ID_FIELD])[0]
                        hi = struct.unpack(
                            "<q", hib[_DOC_ID_FIELD])[0]
                        got_files += 1
                        got_rows += nrec
                        total += nrec
                        n_files += 1
                        if not (hi < scan_lo or lo > scan_hi):
                            scanned += 1
                    if q != len(p2):
                        raise ValueError("manifest record overrun")
                if got_files != afiles or got_rows != arows:
                    raise ValueError("manifest count mismatch")
            if pos != len(payload):
                raise ValueError("manifest list record overrun")
    except (ValueError, KeyError, struct.error,
            UnicodeDecodeError) as e:
        msg = str(e) if isinstance(e, ValueError) \
            else "malformed table metadata"
        return {**_ICE_NONE, "error": msg}
    return {
        "format_version": 2,
        "n_snapshots": len(snaps),
        "n_manifests": n_manifests,
        "n_data_files": n_files,
        "total_records": total,
        "n_scanned": scanned,
        "error": None,
    }


_ICE_SCHEMA = (
    "doc_id long, format_version int, n_snapshots int, n_manifests int, "
    "n_data_files int, total_records bigint, n_scanned int, error string"
)


def extract_iceberg_features(df: DataFrame, content_col: str = "content",
                             id_col: str = "doc_id", scan_lo: int = 20,
                             scan_hi: int = 40) -> DataFrame:
    return map_blobs(
        df, lambda b: parse_iceberg_table(b, scan_lo, scan_hi), _ICE_SCHEMA,
        id_col, content_col)
