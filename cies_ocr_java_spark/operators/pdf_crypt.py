"""PDF standard security handler (/Encrypt /Filter /Standard): RC4-40,
RC4-128 and AES-128 (AESV2) decryption with an EMPTY user password —
the transparent-decrypt surface PDFBox's ``Loader.loadPDF`` gives the
reference (DocumentExtractManager.java:446-449 via pom.xml:66-70: a
print-restricted document opens and extracts without any password).

Spec basis (PDF 32000-1:2008 §7.6.3, public):
  Algorithm 2  file encryption key from the (padded) user password,
               /O, /P (as a SIGNED 32-bit LE), and the first /ID
               string; revision >=3 re-hashes the key 50 times.
  Algorithm 3  the /O value: RC4 of the padded USER password under a
               key hashed from the OWNER password (50x for R>=3),
               then 19 extra RC4 passes with the key XOR 1..19.
  Algorithm 4/5  the /U value used as the password handshake: R=2 is
               RC4(PAD) compared over all 32 bytes; R>=3 hashes
               PAD+ID0, runs the 20-pass RC4 cascade, and compares
               only the FIRST 16 bytes (the rest is arbitrary pad).
  Algorithm 1  per-object key: MD5(file_key + obj_le3 + gen_le2
               [+ b"sAlT" for AESV2]) truncated to min(n+5, 16).

Decrypt order on read: per-object decrypt FIRST, then the /Filter
chain (encryption is the outermost on-disk transform). Cross-reference
streams are NEVER encrypted (spec 7.5.8.2), and the /Encrypt
dictionary itself is exempt — pdf_real's xref reader therefore takes
no decryptor, and the decryptor is built only after the xref walk.

Failure contract: every handshake or cipher failure raises ValueError
with a stable reason (pdf_real wraps it into its _PdfError error-row
discipline). The empty-user-password policy is the PDFBox default:
a document whose /U does not verify under the empty password is
reported as 'password handshake failed', never half-decrypted.

MD5 here is the spec-mandated key-derivation hash (not a security
choice); RC4/AES run through the ``cryptography`` package's C
primitives with a pure-Python RC4 fallback so the module imports
everywhere.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

try:  # cryptography >= 43 moved ARC4 to the decrepit namespace
    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    def _rc4(key: bytes, data: bytes) -> bytes:
        c = Cipher(ARC4(key), mode=None)
        return c.decryptor().update(data)

    def _aes_cbc(key: bytes, iv: bytes, data: bytes,
                 encrypt: bool) -> bytes:
        c = Cipher(algorithms.AES(key), modes.CBC(iv))
        ctx = c.encryptor() if encrypt else c.decryptor()
        return ctx.update(data) + ctx.finalize()

    _HAVE_AES = True
except ImportError:  # pragma: no cover - container ships cryptography
    def _rc4(key: bytes, data: bytes) -> bytes:
        s = list(range(256))
        j = 0
        for i in range(256):
            j = (j + s[i] + key[i % len(key)]) & 0xFF
            s[i], s[j] = s[j], s[i]
        out = bytearray()
        i = j = 0
        for b in data:
            i = (i + 1) & 0xFF
            j = (j + s[i]) & 0xFF
            s[i], s[j] = s[j], s[i]
            out.append(b ^ s[(s[i] + s[j]) & 0xFF])
        return bytes(out)

    def _aes_cbc(key: bytes, iv: bytes, data: bytes,
                 encrypt: bool) -> bytes:
        raise ValueError("aes support unavailable")

    _HAVE_AES = False


# the 32-byte standard padding string (spec Table 21 note / §7.6.3.3)
PAD = bytes((
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
))


def _pad_password(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def compute_encryption_key(user_pw: bytes, o_value: bytes, p: int,
                           id0: bytes, r: int, n: int) -> bytes:
    """Algorithm 2. ``p`` is the /P value interpreted as a SIGNED
    32-bit integer (the spec's low-order-byte-first serialization of
    the permissions word); ``n`` is the key length in bytes."""
    h = hashlib.md5()
    h.update(_pad_password(user_pw))
    h.update(o_value[:32])
    h.update(struct.pack("<i", p))
    h.update(id0)
    digest = h.digest()
    if r >= 3:
        for _ in range(50):
            digest = hashlib.md5(digest[:n]).digest()
    return digest[:n]


def compute_o_value(owner_pw: bytes, user_pw: bytes,
                    r: int, n: int) -> bytes:
    """Algorithm 3: the /O entry (RC4 of the padded user password
    under the owner-password hash; 19 extra XOR-keyed passes R>=3)."""
    d = hashlib.md5(_pad_password(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d).digest()
    key = d[:n]
    o = _rc4(key, _pad_password(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u_value(file_key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R=2) / Algorithm 5 (R>=3). R>=3 returns 16
    significant bytes + 16 bytes of zero pad (any pad is legal; zeros
    keep the writer deterministic)."""
    if r == 2:
        return _rc4(file_key, PAD)
    d = hashlib.md5(PAD + id0).digest()
    u = _rc4(file_key, d)
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in file_key), u)
    return u + b"\x00" * 16


def object_key(file_key: bytes, num: int, gen: int,
               aes: bool) -> bytes:
    """Algorithm 1: the per-object key. Object number low 3 bytes LE,
    generation low 2 bytes LE, plus the AESV2 salt."""
    h = hashlib.md5()
    h.update(file_key)
    h.update(struct.pack("<i", num)[:3])
    h.update(struct.pack("<i", gen)[:2])
    if aes:
        h.update(b"sAlT")
    return h.digest()[: min(len(file_key) + 5, 16)]


_METHODS = {
    # method -> (V, R, key bytes n, aes?)
    "rc4-40": (1, 2, 5, False),
    "rc4-128": (2, 3, 16, False),
    "aes-128": (4, 4, 16, True),
}


class PdfDecryptor:
    """Holds the verified file key for one document. Constructed from
    the raw /Encrypt dictionary bytes + the first /ID string; raises
    ValueError with a stable reason on any unsupported or failing
    handshake (the caller maps that to an error row)."""

    def __init__(self, file_key: bytes, aes: bool):
        self.file_key = file_key
        self.aes = aes

    @classmethod
    def from_encrypt_dict(cls, enc: bytes, id0: bytes) -> PdfDecryptor:
        import re

        fm = re.search(rb"/Filter\s*/([A-Za-z0-9]+)", enc)
        if not fm or fm.group(1) != b"Standard":
            raise ValueError("unsupported security handler")
        vm = re.search(rb"/V\s+(\d+)", enc)
        v = int(vm.group(1)) if vm else 0
        if v not in (1, 2, 4):
            raise ValueError("unsupported encryption version")
        rm = re.search(rb"/R\s+(\d+)", enc)
        if not rm:
            raise ValueError("encrypt dict missing /R")
        r = int(rm.group(1))
        if r not in (2, 3, 4):
            raise ValueError("unsupported encryption revision")
        lm = re.search(rb"/Length\s+(\d+)", enc)
        bits = int(lm.group(1)) if lm else 40
        if bits % 8 or not 40 <= bits <= 128:
            raise ValueError("bad /Length")
        n = 5 if r == 2 else bits // 8
        aes = False
        if v == 4:
            cfm = re.search(rb"/CFM\s*/([A-Za-z0-9]+)", enc)
            name = cfm.group(1) if cfm else b""
            if name == b"AESV2":
                aes = True
                if not _HAVE_AES:
                    raise ValueError("aes support unavailable")
            elif name != b"V2":
                raise ValueError("unsupported crypt filter")
        om = re.search(rb"/O\s*<([0-9A-Fa-f\s]*)>", enc)
        um = re.search(rb"/U\s*<([0-9A-Fa-f\s]*)>", enc)
        pm = re.search(rb"/P\s+(-?\d+)", enc)
        if not om or not um or not pm:
            raise ValueError("encrypt dict missing /O, /U or /P")
        o_value = bytes.fromhex(om.group(1).decode("ascii").replace(
            " ", "").replace("\n", ""))
        u_value = bytes.fromhex(um.group(1).decode("ascii").replace(
            " ", "").replace("\n", ""))
        if len(o_value) != 32 or len(u_value) != 32:
            raise ValueError("bad /O or /U length")
        p = int(pm.group(1))
        # /P is a 32-bit permissions word that writers print signed (-4)
        # or unsigned (4294967292); Algorithm 2 hashes its signed form
        if not -(1 << 31) <= p < 1 << 32:
            raise ValueError("bad /P")
        if p >= 1 << 31:
            p -= 1 << 32
        key = compute_encryption_key(b"", o_value, p, id0, r, n)
        expect = compute_u_value(key, id0, r)
        ok = (expect == u_value if r == 2
              else expect[:16] == u_value[:16])
        if not ok:
            raise ValueError("password handshake failed")
        return cls(key, aes)

    def decrypt(self, num: int, gen: int, raw: bytes) -> bytes:
        k = object_key(self.file_key, num, gen, self.aes)
        if not self.aes:
            return _rc4(k, raw)
        if len(raw) < 16 or (len(raw) - 16) % 16:
            raise ValueError("aes stream length invalid")
        if len(raw) == 16:
            raise ValueError("aes stream length invalid")
        pt = _aes_cbc(k, raw[:16], raw[16:], encrypt=False)
        padn = pt[-1]
        if not 1 <= padn <= 16 or padn > len(pt):
            raise ValueError("aes padding invalid")
        return pt[:-padn]

    def encrypt(self, num: int, gen: int, raw: bytes) -> bytes:
        """Writer-side inverse (deterministic IV from the object
        number so fixtures replay byte-identically)."""
        k = object_key(self.file_key, num, gen, self.aes)
        if not self.aes:
            return _rc4(k, raw)
        iv = hashlib.md5(b"fixture-iv" + struct.pack("<i", num)).digest()
        padn = 16 - len(raw) % 16
        return iv + _aes_cbc(k, iv, raw + bytes([padn]) * padn,
                             encrypt=True)


def build_encrypted_pdf15(text: str, method: str = "rc4-128", *,
                          owner_pw: bytes = b"owner-secret",
                          corrupt_objstm: bool = False) -> bytes:
    """An encrypted PDF-1.5: dict-only objects in an ENCRYPTED /ObjStm,
    offsets via an UNENCRYPTED xref stream (spec 7.5.8.2 — the xref must
    be readable before any key can be derived), content streams
    encrypted per object. Pins the decryptor's ObjStm path: packed
    objects decrypt through the carrier stream's key, never their own.
    Object numbering mirrors pdf_real._build_pdf15 with the /Encrypt
    dict appended as the last type-1 object."""
    from cies_ocr_java_spark.operators.pdf_real import (
        PAGE_CHUNK_CHARS, _content_stream,
    )

    v, r, n, aes = _METHODS[method]
    chunks = [text[i:i + PAGE_CHUNK_CHARS]
              for i in range(0, len(text), PAGE_CHUNK_CHARS)] or [""]
    p = len(chunks)
    objstm_num = 3 + 2 * p
    xref_num = 4 + 2 * p
    enc_num = 5 + 2 * p
    p_perm = -44
    id0 = hashlib.md5(b"fixture-id15" + text.encode("utf-8")).digest()
    o_value = compute_o_value(owner_pw, b"", r, n)
    key = compute_encryption_key(b"", o_value, p_perm, id0, r, n)
    u_value = compute_u_value(key, id0, r)
    enc = PdfDecryptor(key, aes)

    kids = b" ".join(b"%d 0 R" % (3 + i) for i in range(p))
    packed: list[tuple[int, bytes]] = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % p),
    ]
    for i in range(p):
        packed.append((
            3 + i,
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % (3 + p + i),
        ))
    bodies = b" ".join(body for _, body in packed)
    header_pairs = []
    off = 0
    for num, body in packed:
        header_pairs.append(b"%d %d" % (num, off))
        off += len(body) + 1
    stm_header = b" ".join(header_pairs) + b" "
    objstm_disk = enc.encrypt(
        objstm_num, 0, zlib.compress(stm_header + bodies, 6))
    if corrupt_objstm:
        # truncate the ENCRYPTED carrier: RC4 decrypts a shorter
        # garbage-free prefix that fails in the flate layer; AES fails
        # its own length gate first — same split as the classic builder
        objstm_disk = objstm_disk[: max(1, len(objstm_disk) - 7)]

    buf = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for i, chunk in enumerate(chunks):
        num = 3 + p + i
        disk = enc.encrypt(
            num, 0, zlib.compress(_content_stream(chunk, False), 6))
        offsets[num] = len(buf)
        buf += (b"%d 0 obj\n<< /Length %d /Filter /FlateDecode >>"
                b"\nstream\n" % (num, len(disk))
                + disk + b"\nendstream\nendobj\n")
    offsets[objstm_num] = len(buf)
    buf += (b"%d 0 obj\n<< /Type /ObjStm /N %d /First %d /Length %d "
            b"/Filter /FlateDecode >>\nstream\n"
            % (objstm_num, len(packed), len(stm_header),
               len(objstm_disk))
            + objstm_disk + b"\nendstream\nendobj\n")
    offsets[enc_num] = len(buf)
    parts = [b"<< /Filter /Standard /V %d /R %d" % (v, r)]
    if r >= 3:
        parts.append(b"/Length %d" % (n * 8))
    if v == 4:
        parts.append(
            b"/CF << /StdCF << /CFM /%s /Length %d >> >> "
            b"/StmF /StdCF /StrF /StdCF"
            % (b"AESV2" if aes else b"V2", n))
    parts.append(b"/O <" + o_value.hex().encode() + b">")
    parts.append(b"/U <" + u_value.hex().encode() + b">")
    parts.append(b"/P %d >>" % p_perm)
    buf += (b"%d 0 obj\n" % enc_num) + b" ".join(parts) + b"\nendobj\n"
    xref_off = len(buf)
    offsets[xref_num] = xref_off
    size = enc_num + 1
    rows = bytearray()
    rows += bytes([0]) + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")
    for num in range(1, 3 + p):
        rows += (bytes([2]) + objstm_num.to_bytes(4, "big")
                 + (num - 1).to_bytes(2, "big"))
    for num in range(3 + p, 3 + 2 * p):
        rows += (bytes([1]) + offsets[num].to_bytes(4, "big")
                 + (0).to_bytes(2, "big"))
    rows += (bytes([1]) + offsets[objstm_num].to_bytes(4, "big")
             + (0).to_bytes(2, "big"))
    rows += (bytes([1]) + xref_off.to_bytes(4, "big")
             + (0).to_bytes(2, "big"))
    rows += (bytes([1]) + offsets[enc_num].to_bytes(4, "big")
             + (0).to_bytes(2, "big"))
    # xref row order follows object number: content streams, objstm,
    # xref, encrypt — /Index covers 0..size contiguously
    xref_comp = zlib.compress(bytes(rows), 6)
    buf += (b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Root 1 0 R "
            b"/Encrypt %d 0 R /ID [<%s> <%s>] /Length %d "
            b"/Filter /FlateDecode >>\nstream\n"
            % (xref_num, size, enc_num, id0.hex().encode(),
               id0.hex().encode(), len(xref_comp))
            + xref_comp
            + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF\n" % xref_off)
    return bytes(buf)


def build_encrypted_pdf(text: str, method: str = "rc4-128", *,
                        owner_pw: bytes = b"owner-secret",
                        user_pw: bytes = b"",
                        bad_o: bool = False,
                        bad_p: bool = False,
                        v5: bool = False,
                        non_standard: bool = False,
                        corrupt_stream: bool = False) -> bytes:
    """A REAL encrypted PDF in the classic (PDF-1.4 table) layout:
    catalog, pages, per page-chunk a /Page + FlateDecode content
    stream ENCRYPTED under the per-object key, an /Encrypt dictionary
    (itself exempt), and a trailer carrying /Encrypt + /ID.

    Poison tiers (each a distinct wild-document failure):
      user_pw nonempty  the document needs a real password — the
                        empty-password handshake must fail
      bad_o             stored /O digest corrupted after /U was
                        derived — key derivation diverges, /U fails
      bad_p             stored /P disagrees with the permissions the
                        key was derived under — same handshake failure
                        (P is hashed into the key, so lying about it
                        is detected by Algorithm 2's round trip)
      v5                /V 5 /R 6 (AES-256): outside the supported
                        surface, rejected by version
      non_standard      a third-party security handler name
      corrupt_stream    last content stream truncated: AES fails its
                        length gate; RC4 decrypts garbage and fails
                        in the flate layer
    """
    from cies_ocr_java_spark.operators.pdf_real import (
        PAGE_CHUNK_CHARS, _content_stream,
    )

    v, r, n, aes = _METHODS[method]
    chunks = [text[i:i + PAGE_CHUNK_CHARS]
              for i in range(0, len(text), PAGE_CHUNK_CHARS)] or [""]
    p_perm = -44  # print restricted; typical of the reference's docs
    id0 = hashlib.md5(b"fixture-id" + text.encode("utf-8")).digest()
    o_value = compute_o_value(owner_pw, user_pw, r, n)
    key = compute_encryption_key(user_pw, o_value, p_perm, id0, r, n)
    u_value = compute_u_value(key, id0, r)
    if bad_o:
        o_value = bytes([o_value[0] ^ 0xFF]) + o_value[1:]
    stored_p = p_perm ^ 0x40 if bad_p else p_perm
    enc = PdfDecryptor(key, aes)

    n_pages = len(chunks)
    objects: list[bytes] = []
    kids = b" ".join(b"%d 0 R" % (3 + 2 * i) for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(b"<< /Type /Pages /Kids [" + kids
                   + b"] /Count %d >>" % n_pages)
    for i, chunk in enumerate(chunks):
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents %d 0 R >>" % (4 + 2 * i))
        raw = _content_stream(chunk, use_tj_array=False)
        num = 4 + 2 * i
        disk = enc.encrypt(num, 0, zlib.compress(raw, 6))
        if corrupt_stream and i == n_pages - 1:
            disk = disk[: max(1, len(disk) - 7)]
        objects.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n"
            % len(disk) + disk + b"\nendstream")
    if v5:
        enc_dict = (b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
                    b"/O <" + b"00" * 48 + b"> /U <" + b"00" * 48
                    + b"> /P %d >>" % stored_p)
    elif non_standard:
        enc_dict = (b"<< /Filter /AcmeCrypt /V 2 /R 3 /Length 128 "
                    b"/O <" + o_value.hex().encode() + b"> /U <"
                    + u_value.hex().encode()
                    + b"> /P %d >>" % stored_p)
    else:
        parts = [b"<< /Filter /Standard /V %d /R %d" % (v, r)]
        if r >= 3:
            parts.append(b"/Length %d" % (n * 8))
        if v == 4:
            parts.append(
                b"/CF << /StdCF << /CFM /%s /Length %d >> >> "
                b"/StmF /StdCF /StrF /StdCF"
                % (b"AESV2" if aes else b"V2", n))
        parts.append(b"/O <" + o_value.hex().encode() + b">")
        parts.append(b"/U <" + u_value.hex().encode() + b">")
        parts.append(b"/P %d >>" % stored_p)
        enc_dict = b" ".join(parts)
    objects.append(enc_dict)
    enc_num = len(objects)

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for num, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_off = len(buf)
    n_objs = len(objects) + 1
    buf += b"xref\n0 %d\n" % n_objs
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R "
            b"/ID [<%s> <%s>] >>\nstartxref\n%d\n%%%%EOF\n"
            % (n_objs, enc_num, id0.hex().encode(),
               id0.hex().encode(), xref_off))
    return bytes(buf)
