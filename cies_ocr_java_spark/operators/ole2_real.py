"""OLE2 / CFB compound file walker — the container under legacy
Office (.doc/.xls/.msi): a FAT filesystem in a file. The 512-byte
header's 109-slot DIFAT names the FAT sectors; the FAT is ONE u32
array indexed by sector number whose values chain sectors
(0xFFFFFFFE ENDOFCHAIN, 0xFFFFFFFF FREESECT, 0xFFFFFFFD FATSECT);
the directory is a chained stream of 128-byte entries (UTF-16
names, type 1 storage / 2 stream / 5 root, left/right/child forming
a sibling tree per storage); and SMALL streams (< the 4096 mini
cutoff) do not live in sectors at all — they live in 64-byte mini
sectors carved out of the ROOT entry's own stream (the "mini
stream"), chained by a SECOND fat (the miniFAT). A reader that
forgets the two-level indirection reads garbage for every small
stream, which is most streams in real documents.

Chain discipline: every chain is cycle-guarded by a step budget
(steps > total sectors = structural cycle, named error) and must
cover exactly ceil(size / sector) sectors — a declared stream size
its chain cannot hold is "stream size overruns chain".

Directory walk: recursive over child + left/right siblings,
cycle-guarded by entry id; depth = storage nesting depth.

Failure contract: every malformed file yields an error ROW.

Reference parity: none — the reference delegates legacy formats to
Textract; container-level structure recovery is beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs

_MAGIC = bytes.fromhex("d0cf11e0a1b11ae1")
_FREE = 0xFFFFFFFF
_END = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_NOSTREAM = 0xFFFFFFFF
_SSZ = 512
_MSZ = 64
_CUTOFF = 4096


def _dirent(name: str, typ: int, left: int, right: int, child: int,
            start: int, size: int) -> bytes:
    raw = name.encode("utf-16-le")
    e = bytearray(128)
    e[0:len(raw)] = raw
    e[64:66] = (len(raw) + 2).to_bytes(2, "little")
    e[66] = typ
    e[67] = 1  # black
    e[68:72] = (left & 0xFFFFFFFF).to_bytes(4, "little")
    e[72:76] = (right & 0xFFFFFFFF).to_bytes(4, "little")
    e[76:80] = (child & 0xFFFFFFFF).to_bytes(4, "little")
    e[116:120] = (start & 0xFFFFFFFF).to_bytes(4, "little")
    e[120:128] = size.to_bytes(8, "little")
    return bytes(e)


def build_cfb(streams: list[tuple[str, int, bytes]], *,
              bad_magic: bool = False, cycle_fat: bool = False,
              lying_size: bool = False, chop: int = 0) -> bytes:
    """Build a compound file. `streams` is (name, depth, content):
    depth 1 = under root, depth 2 = under the single storage "Sub"
    (created iff any depth-2 stream exists). Streams shorter than
    the 4096 cutoff go to the mini stream; others to sectors."""
    subs = [s for s in streams if s[1] == 2]
    have_sub = bool(subs)

    # --- entry table: 0 root, then storage, then streams in order
    n_entries = 1 + (1 if have_sub else 0) + len(streams)
    n_dir_sectors = -(-n_entries * 128 // _SSZ)

    minis = [(n, c) for (n, d, c) in streams if len(c) < _CUTOFF]
    bigs = [(n, c) for (n, d, c) in streams if len(c) >= _CUTOFF]
    n_mini_sectors = sum(-(-len(c) // _MSZ) for _, c in minis)
    mini_bytes = n_mini_sectors * _MSZ
    n_mini_container = -(-mini_bytes // _SSZ) if mini_bytes else 0
    n_minifat_sectors = 1 if minis else 0
    n_big_sectors = sum(-(-len(c) // _SSZ) for _, c in bigs)

    # FAT size: iterate (FAT sectors are themselves FAT-mapped)
    n_fat = 1
    while True:
        total = (n_dir_sectors + n_minifat_sectors + n_mini_container
                 + n_big_sectors + n_fat)
        need = -(-total // (_SSZ // 4))
        if need == n_fat:
            break
        n_fat = need

    # --- sector layout
    sec = 0
    dir_start = sec
    sec += n_dir_sectors
    minifat_start = sec if minis else _END
    sec += n_minifat_sectors
    mini_container_start = sec if n_mini_container else _END
    sec += n_mini_container
    big_starts = []
    for _, c in bigs:
        big_starts.append(sec)
        sec += -(-len(c) // _SSZ)
    fat_start = sec
    sec += n_fat
    n_sectors = sec

    fat = [_FREE] * (n_fat * (_SSZ // 4))

    def chain(start: int, count: int) -> None:
        for k in range(count - 1):
            fat[start + k] = start + k + 1
        fat[start + count - 1] = _END

    chain(dir_start, n_dir_sectors)
    if minis:
        chain(minifat_start, n_minifat_sectors)
        chain(mini_container_start, n_mini_container)
    for st, (_, c) in zip(big_starts, bigs):
        chain(st, -(-len(c) // _SSZ))
    for k in range(n_fat):
        fat[fat_start + k] = _FATSECT
    if cycle_fat and bigs:
        st = big_starts[0]
        cnt = -(-len(bigs[0][1]) // _SSZ)
        fat[st + cnt - 1] = st  # last sector loops to first

    # --- miniFAT + mini stream
    minifat = [_FREE] * (_SSZ // 4)
    mini_data = bytearray()
    mini_starts = {}
    msec = 0
    for name, c in minis:
        cnt = -(-len(c) // _MSZ)
        mini_starts[name] = msec
        for k in range(cnt - 1):
            minifat[msec + k] = msec + k + 1
        minifat[msec + cnt - 1] = _END
        msec += cnt
        mini_data += c + b"\x00" * (cnt * _MSZ - len(c))

    # --- directory
    ids = {}
    next_id = 1
    if have_sub:
        sub_id = next_id
        next_id += 1
    for name, d, c in streams:
        ids[name] = next_id
        next_id += 1

    root_children = ([sub_id] if have_sub else []) \
        + [ids[n] for (n, d, c) in streams if d == 1]
    sub_children = [ids[n] for (n, d, c) in streams if d == 2]

    def sib_chain(members: list[int], eid: int) -> tuple[int, int]:
        """right-sibling chain; returns (left,right) for eid."""
        if eid not in members:
            return (_NOSTREAM, _NOSTREAM)
        k = members.index(eid)
        right = members[k + 1] if k + 1 < len(members) else _NOSTREAM
        return (_NOSTREAM, right)

    entries = []
    entries.append(_dirent(
        "Root Entry", 5, _NOSTREAM, _NOSTREAM,
        root_children[0] if root_children else _NOSTREAM,
        mini_container_start if minis else _END, mini_bytes))
    if have_sub:
        left, right = sib_chain(root_children, sub_id)
        entries.append(_dirent(
            "Sub", 1, left, right,
            sub_children[0] if sub_children else _NOSTREAM,
            0, 0))
    big_idx = {n: s for (n, _), s in zip(bigs, big_starts)}
    for name, d, c in streams:
        members = root_children if d == 1 else sub_children
        left, right = sib_chain(members, ids[name])
        if len(c) < _CUTOFF:
            start = mini_starts[name]
        else:
            start = big_idx[name]
        size = len(c)
        if lying_size and name == streams[0][0]:
            size += _SSZ if len(c) >= _CUTOFF else _MSZ
        entries.append(_dirent(name, 2, left, right, _NOSTREAM,
                               start, size))
    dirblob = b"".join(entries)
    dirblob += b"\x00" * (n_dir_sectors * _SSZ - len(dirblob))

    # --- header
    h = bytearray(_SSZ)
    h[0:8] = _MAGIC
    h[24:26] = (0x3E).to_bytes(2, "little")
    h[26:28] = (3).to_bytes(2, "little")
    h[28:30] = b"\xfe\xff"
    h[30:32] = (9).to_bytes(2, "little")
    h[32:34] = (6).to_bytes(2, "little")
    h[44:48] = n_fat.to_bytes(4, "little")
    h[48:52] = dir_start.to_bytes(4, "little")
    h[56:60] = _CUTOFF.to_bytes(4, "little")
    h[60:64] = (minifat_start & 0xFFFFFFFF).to_bytes(4, "little")
    h[64:68] = (n_minifat_sectors).to_bytes(4, "little")
    h[68:72] = _END.to_bytes(4, "little")
    h[72:76] = (0).to_bytes(4, "little")
    for k in range(109):
        v = fat_start + k if k < n_fat else _FREE
        h[76 + 4 * k:80 + 4 * k] = v.to_bytes(4, "little")
    if bad_magic:
        h[0] = 0xD1

    # --- body
    body = bytearray()
    body += dirblob
    if minis:
        mfb = b"".join(v.to_bytes(4, "little") for v in minifat)
        body += mfb
        body += bytes(mini_data) + b"\x00" * (
            n_mini_container * _SSZ - len(mini_data))
    for _, c in bigs:
        cnt = -(-len(c) // _SSZ)
        body += c + b"\x00" * (cnt * _SSZ - len(c))
    fatblob = b"".join(v.to_bytes(4, "little") for v in fat)
    body += fatblob
    out = bytes(h) + bytes(body)
    assert len(out) == (1 + n_sectors) * _SSZ
    if chop:
        out = out[:-chop]
    return out


_CFB_NONE = {
    "n_storages": None, "n_streams": None, "n_mini": None,
    "stream_bytes": None, "content_sum": None, "max_depth": None,
}


def parse_cfb(data: bytes | None) -> dict:
    if data is None or len(data) < _SSZ:
        return {**_CFB_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        if data[:8] != _MAGIC:
            raise ValueError("bad magic")
        ssz = 1 << int.from_bytes(data[30:32], "little")
        if ssz != _SSZ:
            raise ValueError("unsupported sector size")
        n_fat = int.from_bytes(data[44:48], "little")
        dir_start = int.from_bytes(data[48:52], "little")
        cutoff = int.from_bytes(data[56:60], "little")
        minifat_start = int.from_bytes(data[60:64], "little")
        n_minifat = int.from_bytes(data[64:68], "little")
        n_sectors = (len(data) - _SSZ) // _SSZ
        if len(data) != (1 + n_sectors) * _SSZ:
            raise ValueError("file not sector aligned")

        def sector(s: int) -> bytes:
            if s >= n_sectors:
                raise ValueError("sector out of bounds")
            off = (1 + s) * _SSZ
            return data[off:off + _SSZ]

        if n_fat > 109:
            raise ValueError("difat overflow unsupported")
        fat: list[int] = []
        for k in range(n_fat):
            fs = int.from_bytes(data[76 + 4 * k:80 + 4 * k], "little")
            blob = sector(fs)
            fat += [int.from_bytes(blob[j:j + 4], "little")
                    for j in range(0, _SSZ, 4)]

        def walk_chain(start: int, fat_arr: list[int],
                       limit: int) -> list[int]:
            out, s, steps = [], start, 0
            while s != _END:
                if s >= len(fat_arr):
                    raise ValueError("chain escapes fat")
                out.append(s)
                s = fat_arr[s]
                steps += 1
                if steps > limit:
                    raise ValueError("fat chain cycle")
            return out

        dir_chain = walk_chain(dir_start, fat, n_sectors)
        dirblob = b"".join(sector(s) for s in dir_chain)
        entries = []
        for off in range(0, len(dirblob), 128):
            e = dirblob[off:off + 128]
            if len(e) < 128:
                break
            nlen = int.from_bytes(e[64:66], "little")
            typ = e[66]
            if typ == 0 or nlen < 2:
                continue
            entries.append({
                "id": off // 128,
                "name": e[:nlen - 2].decode("utf-16-le"),
                "type": typ,
                "left": int.from_bytes(e[68:72], "little"),
                "right": int.from_bytes(e[72:76], "little"),
                "child": int.from_bytes(e[76:80], "little"),
                "start": int.from_bytes(e[116:120], "little"),
                "size": int.from_bytes(e[120:128], "little"),
            })
        byid = {e["id"]: e for e in entries}
        if 0 not in byid or byid[0]["type"] != 5:
            raise ValueError("missing root entry")
        root = byid[0]

        # mini stream container + miniFAT
        minifat: list[int] = []
        mini_container = b""
        if n_minifat:
            for s in walk_chain(minifat_start, fat, n_sectors):
                blob = sector(s)
                minifat += [int.from_bytes(blob[j:j + 4], "little")
                            for j in range(0, _SSZ, 4)]
            csecs = walk_chain(root["start"], fat, n_sectors)
            if len(csecs) != -(-root["size"] // _SSZ):
                raise ValueError("mini container chain mismatch")
            mini_container = b"".join(sector(s) for s in csecs)

        def read_stream(e: dict) -> bytes:
            size = e["size"]
            if size >= cutoff:
                secs = walk_chain(e["start"], fat, n_sectors)
                if len(secs) != -(-size // _SSZ):
                    raise ValueError("stream size overruns chain")
                blob = b"".join(sector(s) for s in secs)
            else:
                msecs = walk_chain(e["start"], minifat,
                                   len(minifat) + 1)
                if len(msecs) != -(-size // _MSZ):
                    raise ValueError("stream size overruns chain")
                parts = []
                for m in msecs:
                    off = m * _MSZ
                    if off + _MSZ > len(mini_container):
                        raise ValueError(
                            "mini sector out of container")
                    parts.append(mini_container[off:off + _MSZ])
                blob = b"".join(parts)
            return blob[:size]

        n_storages = n_streams = n_mini = 0
        stream_bytes = content_sum = 0
        max_depth = 0
        seen: set[int] = set()

        def visit(eid: int, depth: int) -> None:
            nonlocal n_storages, n_streams, n_mini, stream_bytes, \
                content_sum, max_depth
            if eid == _NOSTREAM:
                return
            if eid in seen:
                raise ValueError("directory cycle")
            seen.add(eid)
            if eid not in byid:
                raise ValueError("dangling directory id")
            e = byid[eid]
            if e["type"] == 1:
                n_storages += 1
                max_depth = max(max_depth, depth)
                visit(e["child"], depth + 1)
            elif e["type"] == 2:
                n_streams += 1
                max_depth = max(max_depth, depth)
                blob = read_stream(e)
                if e["size"] < cutoff:
                    n_mini += 1
                stream_bytes += e["size"]
                content_sum += sum(blob)
            else:
                raise ValueError("unexpected entry type in tree")
            visit(e["left"], depth)
            visit(e["right"], depth)

        visit(root["child"], 1)
    except ValueError as e:
        return {**_CFB_NONE, "error": str(e)}
    except RecursionError:
        return {**_CFB_NONE, "error": "directory cycle"}
    return {
        "n_storages": n_storages, "n_streams": n_streams,
        "n_mini": n_mini, "stream_bytes": stream_bytes,
        "content_sum": content_sum, "max_depth": max_depth,
        "error": None,
    }


_CFB_SCHEMA = (
    "doc_id long, n_storages int, n_streams int, n_mini int, "
    "stream_bytes bigint, content_sum bigint, max_depth int, "
    "error string"
)


def extract_cfb_features(df: DataFrame, content_col: str = "content",
                         id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_cfb, _CFB_SCHEMA, id_col, content_col)
