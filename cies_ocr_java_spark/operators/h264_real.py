"""H.264 (AVC) Annex B bitstream walk — the video elementary stream a
crawler meets inside every mp4/mkv it has already learned to open
(mp4_real.py stops at the container sample table; this parses the codec
layer): start-code scanning (both 3- and 4-byte forms), NAL headers with
the forbidden-zero-bit gate, RBSP EMULATION PREVENTION (the 0x000003
escape — a raw 00 00 01 inside a payload would read as a start code and
shear the NAL in two; the builder embeds exactly that pattern in a slice
payload so a parser that skips unescaping miscounts NALs), and a real
exp-Golomb (ue(v)) reader for the SPS: profile/level, frame-num bit
depth, pic dimensions in macroblocks, and the frame-cropping rectangle
(4:2:0 crop units are TWO luma samples per crop step — the off-by-2x a
naive width formula ships).

Scope discipline: Baseline profile (profile_idc 66) SPS subset — no
chroma_format_idc branch (that syntax only exists for profile >= 100),
pic_order_cnt_type 2, frame_mbs_only_flag must be 1 (interlaced streams
rejected BY NAME, not misparsed). VUI is skipped via the trailing-bits
rule.

Failure contract: every malformed stream yields an error ROW, never an
exception.

Reference parity: none — media is Textract's problem in the reference
(DocumentExtractManager.java:463-599); codec-layer structure recovery is
beyond-reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.walker import map_blobs


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def bit(self) -> int:
        byte, off = divmod(self.pos, 8)
        if byte >= len(self.data):
            raise ValueError("sps overruns rbsp")
        self.pos += 1
        return (self.data[byte] >> (7 - off)) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def ue(self) -> int:
        zeros = 0
        while self.bit() == 0:
            zeros += 1
            if zeros > 31:
                raise ValueError("exp-golomb run too long")
        return (1 << zeros) - 1 + (self.bits(zeros) if zeros else 0)


def _escape_rbsp(raw: bytes) -> bytes:
    """Insert 0x03 after any 00 00 followed by 00/01/02/03."""
    out = bytearray()
    zeros = 0
    for b in raw:
        if zeros >= 2 and b <= 3:
            out.append(3)
            zeros = 0
        out.append(b)
        zeros = zeros + 1 if b == 0 else 0
    return bytes(out)


def _unescape_rbsp(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        if i + 2 < len(data) and data[i] == 0 and data[i + 1] == 0 \
                and data[i + 2] == 3:
            out += b"\x00\x00"
            i += 3
        else:
            out.append(data[i])
            i += 1
    return bytes(out)


class _UeWriter:
    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, v: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.bits.append((v >> k) & 1)

    def ue(self, v: int) -> None:
        z = (v + 1).bit_length() - 1
        self.u(0, z)
        self.u(v + 1, z + 1)

    def rbsp(self) -> bytes:
        bits = list(self.bits)
        bits.append(1)  # rbsp_stop_one_bit
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = 0
            for bit in bits[i:i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def build_sps(profile: int, level: int, log2mfn4: int, wm: int, hm: int,
              crop_r: int, crop_b: int, *,
              interlaced: bool = False) -> bytes:
    """Baseline-profile SPS RBSP (unescaped)."""
    w = _UeWriter()
    w.u(profile, 8)
    w.u(0, 8)              # constraint flags + reserved
    w.u(level, 8)
    w.ue(0)                # seq_parameter_set_id
    w.ue(log2mfn4)         # log2_max_frame_num_minus4
    w.ue(2)                # pic_order_cnt_type
    w.ue(1)                # max_num_ref_frames
    w.u(0, 1)              # gaps_in_frame_num_value_allowed_flag
    w.ue(wm - 1)           # pic_width_in_mbs_minus1
    w.ue(hm - 1)           # pic_height_in_map_units_minus1
    w.u(0 if interlaced else 1, 1)  # frame_mbs_only_flag
    if interlaced:
        w.u(0, 1)          # mb_adaptive_frame_field_flag
    w.u(0, 1)              # direct_8x8_inference_flag
    w.u(1, 1)              # frame_cropping_flag
    w.ue(0)                # crop_left
    w.ue(crop_r)           # crop_right
    w.ue(0)                # crop_top
    w.ue(crop_b)           # crop_bottom
    w.u(0, 1)              # vui_parameters_present_flag
    return w.rbsp()


def _nal(nal_type: int, rbsp: bytes, ref_idc: int = 3,
         forbidden: bool = False, four_byte: bool = True) -> bytes:
    hdr = ((0x80 if forbidden else 0) | (ref_idc << 5) | nal_type)
    sc = b"\x00\x00\x00\x01" if four_byte else b"\x00\x00\x01"
    return sc + bytes([hdr]) + _escape_rbsp(rbsp)


def build_annexb(profile: int, level: int, log2mfn4: int, wm: int,
                 hm: int, crop_r: int, crop_b: int, n_nonidr: int, *,
                 bad_forbidden: bool = False, trunc_sps: bool = False,
                 interlaced: bool = False) -> bytes:
    sps = build_sps(profile, level, log2mfn4, wm, hm, crop_r, crop_b,
                    interlaced=interlaced)
    if trunc_sps:
        sps = sps[:4]
    out = bytearray(_nal(7, sps))
    out += _nal(8, b"\xc8\x42", four_byte=False)  # PPS (opaque here)
    # IDR slice whose payload embeds a raw start code — MUST survive
    # only because emulation prevention escapes it
    out += _nal(5, b"\x11\x00\x00\x01\x22\x00\x00\x00\x33",
                forbidden=bad_forbidden)
    for k in range(n_nonidr):
        # last byte nonzero: every RBSP ends with the stop bit, so a
        # real NAL's final byte can never be 0x00 — the invariant the
        # parser's trailing-zero strip (start-code prefix zeros) relies
        # on
        out += _nal(1, bytes([0x40 + k, 0x00, k + 1]), ref_idc=2,
                    four_byte=False)
    return bytes(out)


_H264_NONE = {
    "profile_idc": None, "level_idc": None, "width": None,
    "height": None, "frame_num_bits": None, "n_sps": None,
    "n_pps": None, "n_idr": None, "n_slices": None,
}


def parse_annexb(data: bytes | None) -> dict:
    if data is None or len(data) < 5:
        return {**_H264_NONE, "error": "short or missing payload"}
    data = bytes(data)
    try:
        # Every start code contains 00 00 01; the 4-byte form is one
        # leading zero more. Split at the 3-byte codes, then strip each
        # unit's TRAILING zeros — they are the next code's prefix, and
        # the RBSP stop-bit rule guarantees a real NAL's last byte is
        # nonzero (the builder pins this), so the strip cannot eat
        # payload.
        starts = []
        i = 0
        while True:
            p = data.find(b"\x00\x00\x01", i)
            if p < 0:
                break
            starts.append(p)
            i = p + 3
        if not starts:
            raise ValueError("missing leading start code")
        if any(data[:starts[0]]):
            raise ValueError("garbage before first start code")
        nals: list[bytes] = []
        for idx, p in enumerate(starts):
            q = starts[idx + 1] if idx + 1 < len(starts) else len(data)
            nal = data[p + 3:q].rstrip(b"\x00")
            nals.append(nal)
        profile = level = width = height = fnbits = None
        n_sps = n_pps = n_idr = n_slices = 0
        for nal in nals:
            if not nal:
                raise ValueError("empty nal unit")
            if nal[0] & 0x80:
                raise ValueError("forbidden zero bit set")
            ntype = nal[0] & 0x1F
            rbsp = _unescape_rbsp(nal[1:])
            if ntype == 7:
                n_sps += 1
                r = _BitReader(rbsp)
                profile = r.bits(8)
                r.bits(8)
                level = r.bits(8)
                if profile >= 100:
                    raise ValueError("high-profile sps unsupported")
                r.ue()                     # sps id
                fnbits = 4 + r.ue()
                if r.ue() != 2:
                    raise ValueError("poc type unsupported")
                r.ue()                     # max_num_ref_frames
                r.bit()
                wm = r.ue() + 1
                hm = r.ue() + 1
                if r.bit() != 1:
                    raise ValueError("interlaced unsupported")
                r.bit()                    # direct_8x8
                if r.bit():
                    cl, cr = r.ue(), r.ue()
                    ct, cb = r.ue(), r.ue()
                else:
                    cl = cr = ct = cb = 0
                # 4:2:0 frame_mbs_only: crop unit = 2 luma samples
                width = 16 * wm - 2 * (cl + cr)
                height = 16 * hm - 2 * (ct + cb)
            elif ntype == 8:
                n_pps += 1
            elif ntype == 5:
                n_idr += 1
                n_slices += 1
            elif ntype == 1:
                n_slices += 1
            else:
                raise ValueError(f"unsupported nal type {ntype}")
        if n_sps == 0:
            raise ValueError("no sps in stream")
    except ValueError as e:
        return {**_H264_NONE, "error": str(e)}
    return {
        "profile_idc": profile, "level_idc": level, "width": width,
        "height": height, "frame_num_bits": fnbits, "n_sps": n_sps,
        "n_pps": n_pps, "n_idr": n_idr, "n_slices": n_slices,
        "error": None,
    }


_H264_SCHEMA = (
    "doc_id long, profile_idc int, level_idc int, width int, "
    "height int, frame_num_bits int, n_sps int, n_pps int, n_idr int, "
    "n_slices int, error string"
)


def extract_h264_features(df: DataFrame, content_col: str = "content",
                          id_col: str = "doc_id") -> DataFrame:
    return map_blobs(df, parse_annexb, _H264_SCHEMA, id_col, content_col)
