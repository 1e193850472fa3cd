"""REAL Debian package (.deb) walker — the deepest container
COMPOSITION in the repo, four formats stacked exactly as shipped by
every apt mirror:

    ar archive                      (this module's walk)
    ├── debian-binary               ("2.0\\n", the version gate)
    ├── control.tar.gz              gzip (archive.gunzip_members)
    │   └── ustar                   (archive.parse_tar)
    │       └── ./control           RFC-822-style fields
    └── data.tar.xz | data.tar.gz   xz (xz_real.xz_decode) or gzip
        └── ustar                   the installed files

The ar layer itself is the 1970s Unix archive format: "!<arch>\\n",
then 60-byte FIXED-WIDTH TEXT headers (name 16, mtime 12, uid/gid
6+6, mode 8, size 10 — all ASCII-decimal, space-padded) closed by the
"`\\n" member magic, data padded to EVEN offsets with a newline.  A
format with no checksums at all — every gate here is structural
(numeric fields, magic, bounds) plus whatever the inner layers carry
(gzip CRC32, xz CRC64, tar header checksums), which is the actual
.deb integrity story.

Failure contract (the MediaCodec discipline, multimodal.py): every
malformed package yields an error ROW — never an exception; each of
the four layers keeps its own error strings (the parse_targz
two-tier precedent, deepened to four).

Reference parity: none — beyond-reference container operator.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.archive import (
    build_gzip,
    build_tar,
    gunzip_members,
    parse_tar,
)
from cies_ocr_java_spark.operators.xz_real import xz_decode
from cies_ocr_java_spark.operators.walker import map_blobs

AR_MAGIC = b"!<arch>\n"


def build_ar(members: list[tuple[str, bytes]]) -> bytes:
    """A real Unix ar archive (common format, the .deb flavor:
    plain names, no GNU '/' suffix)."""
    out = bytearray(AR_MAGIC)
    for name, data in members:
        if len(name) > 16:
            raise ValueError("name too long for common ar format")
        hdr = (f"{name:<16}" f"{0:<12}" f"{0:<6}" f"{0:<6}"
               f"{100644:<8}" f"{len(data):<10}").encode("ascii")
        out += hdr + b"`\n" + data
        if len(data) % 2:
            out += b"\n"
    return bytes(out)


def parse_ar(data: bytes) -> list[tuple[str, bytes]]:
    """Walk the fixed-width text headers; raises ValueError with the
    degradation message."""
    if len(data) < 8 or data[:8] != AR_MAGIC:
        raise ValueError("bad ar magic")
    pos = 8
    members: list[tuple[str, bytes]] = []
    idx = 0
    while pos < len(data):
        if pos + 60 > len(data):
            raise ValueError(f"truncated ar header in member {idx}")
        hdr = data[pos:pos + 60]
        if hdr[58:60] != b"`\n":
            raise ValueError(f"bad ar member magic in member {idx}")
        name = hdr[0:16].decode("ascii", "replace").rstrip()
        size_field = hdr[48:58].decode("ascii", "replace").strip()
        if not size_field.isdigit():
            raise ValueError(f"bad ar size field in member {idx}")
        size = int(size_field)
        pos += 60
        if pos + size > len(data):
            raise ValueError(f"ar member {idx} overruns archive")
        members.append((name, data[pos:pos + size]))
        pos += size + (size % 2)
        idx += 1
    return members


def build_deb(package: str, version: str, arch: str,
              data_files: list[tuple[str, str]],
              data_compression: str = "xz",
              bad_version: bool = False) -> bytes:
    """control.tar.gz + data.tar.{xz,gz} wrapped in ar."""
    import lzma

    control = (f"Package: {package}\n"
               f"Version: {version}\n"
               f"Architecture: {arch}\n"
               f"Description: graft test package\n")
    control_tgz = build_gzip(
        [("control.tar", build_tar([("./control", control)]))])
    data_tar = build_tar(data_files)
    if data_compression == "xz":
        data_blob = lzma.compress(data_tar, format=lzma.FORMAT_XZ,
                                  check=lzma.CHECK_CRC64)
        data_name = "data.tar.xz"
    else:
        data_blob = build_gzip([("data.tar", data_tar)])
        data_name = "data.tar.gz"
    return build_ar([
        ("debian-binary", b"3.0\n" if bad_version else b"2.0\n"),
        ("control.tar.gz", control_tgz),
        (data_name, data_blob),
    ])


_DEB_NONE = {"n_ar_members": None, "package": None, "version": None,
             "arch": None, "control_fields": None, "data_files": None,
             "data_bytes": None, "data_md5": None, "compression": None}


def parse_deb(data: bytes | None) -> dict:
    """Four-layer walk with per-layer error attribution."""
    if data is None or len(data) < 8:
        return {**_DEB_NONE, "error": "short or missing payload"}
    try:
        members = parse_ar(bytes(data))
    except ValueError as e:
        return {**_DEB_NONE, "error": str(e)}
    if not members or members[0][0] != "debian-binary":
        return {**_DEB_NONE, "error": "first member is not "
                                      "debian-binary"}
    if members[0][1] != b"2.0\n":
        return {**_DEB_NONE, "error": "unsupported deb version"}
    by_name = dict(members)
    control_blob = next(
        (v for k, v in members if k.startswith("control.tar")), None)
    if control_blob is None:
        return {**_DEB_NONE, "error": "missing control member"}
    g = gunzip_members(control_blob)
    if g["error"] is not None:
        return {**_DEB_NONE, "error": f"control: {g['error']}"}
    ct = parse_tar(b"".join(g["payloads"]))
    if ct["error"] is not None:
        return {**_DEB_NONE, "error": f"control: {ct['error']}"}
    fields: dict[str, str] = {}
    for line in (ct["text"] or "").splitlines():
        if ": " in line:
            k, v = line.split(": ", 1)
            fields[k] = v
    data_name = next(
        (k for k, _v in members if k.startswith("data.tar")), None)
    if data_name is None:
        return {**_DEB_NONE, "error": "missing data member"}
    blob = by_name[data_name]
    try:
        if data_name.endswith(".xz"):
            tar_bytes, _facts = xz_decode(blob)
            compression = "xz"
        elif data_name.endswith(".gz"):
            g2 = gunzip_members(blob)
            if g2["error"] is not None:
                return {**_DEB_NONE, "error": f"data: {g2['error']}"}
            tar_bytes = b"".join(g2["payloads"])
            compression = "gz"
        else:
            return {**_DEB_NONE,
                    "error": f"unsupported data compression "
                             f"{data_name}"}
    except ValueError as e:
        return {**_DEB_NONE, "error": f"data: {e}"}
    dt = parse_tar(tar_bytes)
    if dt["error"] is not None:
        return {**_DEB_NONE, "error": f"data: {dt['error']}"}
    return {
        "n_ar_members": len(members),
        "package": fields.get("Package"),
        "version": fields.get("Version"),
        "arch": fields.get("Architecture"),
        "control_fields": len(fields),
        "data_files": dt["n_members"],
        "data_bytes": dt["total_bytes"],
        "data_md5": hashlib.md5(
            (dt["text"] or "").encode()).hexdigest(),
        "compression": compression,
        "error": None,
    }


DEB_SCHEMA = (
    "doc_id long, n_ar_members int, package string, version string, "
    "arch string, control_fields int, data_files int, "
    "data_bytes bigint, data_md5 string, compression string, "
    "error string"
)


def extract_deb_packages(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, content:binary) -> package metadata via one Arrow-batched
    mapInPandas pass (no shuffle)."""
    return map_blobs(df, parse_deb, DEB_SCHEMA, id_col, content_col)
