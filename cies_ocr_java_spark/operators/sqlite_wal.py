"""REAL SQLite WAL (write-ahead log) walker — the RECOVERY layer over
sqlite_real.py's b-tree walk: fixtures are genuine ``-wal`` files
written by the REAL sqlite3 engine mid-transaction (copied before
close() checkpoints them away), and the reader implements the
recovery scan every SQLite open performs:

- 32-byte header: magic 0x377F0682/83 (the LOW BIT selects the byte
  order of CHECKSUM WORDS — a format that stores its endianness in
  one bit of the magic), format version 3007000, page size, salts;
- frames: 24-byte header (page number, commit size, the header
  salts ECHOED — a frame whose salts disagree belongs to a previous
  incarnation of the log and is dead) + one page image;
- the CUMULATIVE checksum: s1 += w[i] + s2; s2 += w[i+1] + s1 over
  32-bit words, seeded from the header's first 24 bytes and threaded
  through every frame (header first 8 bytes + page content) — so a
  frame's checksum commits to the ENTIRE log prefix, and recovery
  stops at the first mismatch, DISCARDING everything after (torn
  writes are expected, not exceptional);
- only frames up to the last valid COMMIT frame (nonzero commit size)
  are part of the database.

Failure contract (the MediaCodec discipline, multimodal.py): every
structurally malformed log yields an error ROW; torn tails are
per-document FLAGS (n_valid < n_frames_file), the AVI-index
tolerance split.

Reference parity: none — beyond-reference storage-recovery operator.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

WAL_MAGIC_LE = 0x377F0682  # checksum words little-endian
WAL_MAGIC_BE = 0x377F0683


def wal_checksum(data: bytes, s1: int, s2: int,
                 little: bool) -> tuple[int, int]:
    """The SQLite WAL cumulative checksum over 8-byte chunks."""
    fmt = "<II" if little else ">II"
    for at in range(0, len(data), 8):
        x0, x1 = struct.unpack_from(fmt, data, at)
        s1 = (s1 + x0 + s2) & 0xFFFFFFFF
        s2 = (s2 + x1 + s1) & 0xFFFFFFFF
    return s1, s2


def build_wal_fixture(n_inserts: int, seed: int,
                      torn_tail: bool = False,
                      bad_frame1: bool = False) -> bytes:
    """A REAL -wal file: sqlite3 creates a table and commits
    ``n_inserts`` single-row transactions in WAL mode with
    autocheckpoint off; the log is copied before close()."""
    import os
    import sqlite3
    import tempfile

    d = tempfile.mkdtemp(prefix="cies_wal_")
    p = os.path.join(d, "t.db")
    try:
        con = sqlite3.connect(p)
        con.execute("PRAGMA journal_mode=WAL")
        con.execute("PRAGMA wal_autocheckpoint=0")
        con.execute("CREATE TABLE t(a INTEGER, b TEXT)")
        con.commit()
        for k in range(n_inserts):
            con.execute("INSERT INTO t VALUES (?, ?)",
                        (seed * 1000 + k, f"row-{seed}-{k}"))
            con.commit()
        with open(p + "-wal", "rb") as fh:
            wal = fh.read()
        con.close()
    finally:
        for f in os.listdir(d):
            os.unlink(os.path.join(d, f))
        os.rmdir(d)
    (psize,) = struct.unpack_from(">I", wal, 8)
    if torn_tail:
        # a garbage frame with correct salts but a dead checksum —
        # the torn-write recovery case
        salt = wal[16:24]
        fh = struct.pack(">II", 99, 99) + salt \
            + struct.pack(">II", 0xDEAD, 0xBEEF)
        wal += fh + bytes(psize)
    if bad_frame1:
        at = 32 + (24 + psize) + 16  # frame 1's checksum words
        wal = wal[:at] + struct.pack(">II", 1, 2) + wal[at + 8:]
    return wal


_WAL_NONE = {"page_size": None, "n_frames_file": None,
             "n_valid": None, "n_commits": None, "db_pages": None,
             "checksum_words": None}


def parse_wal(data: bytes | None) -> dict:
    """Header gates + the recovery scan."""
    if data is None or len(data) < 32:
        return {**_WAL_NONE, "error": "short wal header"}
    data = bytes(data)
    magic, version, psize, _ckpt, salt1, salt2, c1, c2 = \
        struct.unpack_from(">8I", data, 0)
    if magic not in (WAL_MAGIC_LE, WAL_MAGIC_BE):
        return {**_WAL_NONE, "error": "bad wal magic"}
    little = magic == WAL_MAGIC_LE
    if version != 3007000:
        return {**_WAL_NONE, "error": f"unsupported wal version "
                                      f"{version}"}
    if psize < 512 or psize > 65536 or psize & (psize - 1):
        return {**_WAL_NONE, "error": "bad page size"}
    s1, s2 = wal_checksum(data[:24], 0, 0, little)
    if (s1, s2) != (c1, c2):
        return {**_WAL_NONE, "error": "wal header checksum mismatch"}
    frame_sz = 24 + psize
    n_file = (len(data) - 32) // frame_sz
    n_valid = 0
    n_commits = 0
    db_pages = None
    pos = 32
    for _f in range(n_file):
        hdr = data[pos:pos + 24]
        pgno, commit, fs1, fs2, k1, k2 = struct.unpack(">6I", hdr)
        if (fs1, fs2) != (salt1, salt2):
            break  # frame from a previous log incarnation: dead
        t1, t2 = wal_checksum(hdr[:8], s1, s2, little)
        t1, t2 = wal_checksum(data[pos + 24:pos + frame_sz], t1, t2,
                              little)
        if (t1, t2) != (k1, k2):
            break  # torn write: discard this frame and everything on
        s1, s2 = t1, t2
        n_valid += 1
        if commit:
            n_commits += 1
            db_pages = commit
        pos += frame_sz
    return {
        "page_size": psize,
        "n_frames_file": n_file,
        "n_valid": n_valid,
        "n_commits": n_commits,
        "db_pages": db_pages,
        "checksum_words": "le" if little else "be",
        "error": None,
    }


WAL_SCHEMA = (
    "doc_id long, page_size int, n_frames_file int, n_valid int, "
    "n_commits int, db_pages int, checksum_words string, error string"
)


def extract_wal_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> recovery-scan facts via one
    Arrow-batched mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_wal, WAL_SCHEMA, id_col, content_col)
