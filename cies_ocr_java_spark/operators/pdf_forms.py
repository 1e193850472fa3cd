"""PDF AcroForm field extraction (spec 12.7): the filled-form surface
PDFBox exposes as ``PDDocumentCatalog.getAcroForm().getFields()`` —
the reference's document domain (government/medical forms,
DocumentExtractManager.java:438-461) is full of these, and the VALUES
users typed are exactly what an extraction pipeline must recover.

The field tree is REAL AcroForm semantics, not a flat list:
  - /AcroForm in the catalog points at << /Fields [refs] >>;
  - a field with /Kids is an intermediate node; leaves carry values;
  - a field's FULLY QUALIFIED name is the '.'-joined chain of /T
    partial names from the root (spec 12.7.3.2) — "address.city",
    never just "city";
  - /FT INHERITS down the tree (spec 12.7.3.1, Table 220): a leaf
    without /FT takes the nearest ancestor's — a reader that requires
    a leaf-local /FT drops every grouped field in real forms;
  - /V is a literal string for /Tx (text) and /Ch (choice), a NAME
    (/Yes, /Off...) for /Btn (checkbox/radio); an absent /V is an
    EMPTY field (value None), not an error.

Failure contract (formats.py discipline): every malformed input yields
one error row per document — dangling field refs, a field tree cycle,
a chain with no /FT anywhere — never an exception, never a silently
dropped field.

Builder emits the classic-table layout via the same byte-exact xref
machinery as pdf_real's writers; the parser rides pdf_real's shared
xref/object walk, so encrypted documents inherit decryption of the
field dict STRINGS (individually encrypted under each field object's
key, spec 7.6.2 — the same rule as annotation /Contents).
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from cies_ocr_java_spark.operators.pdf_real import (
    _load_object,
    _make_decryptor,
    _parse_xref,
    _PdfError,
    _ref,
    _unescape_literal,
)
from cies_ocr_java_spark.operators.walker import map_blobs

__all__ = ["build_pdf_form", "parse_pdf_form", "extract_pdf_form_fields"]


def _esc(out: bytes) -> bytes:
    out = out.replace(b"\\", rb"\\")
    out = out.replace(b"(", rb"\(").replace(b")", rb"\)")
    return out


def _lit(s: str) -> bytes:
    return _esc(s.encode("utf-8"))


# a field spec: (partial_name, ftype|None, value|None, [children])
# ftype None on a leaf means "inherit"; value None means unfilled.
FieldSpec = tuple


def build_pdf_form(fields: list, *,
                   dangling_ref: bool = False,
                   cyclic_kids: bool = False,
                   missing_ft: bool = False,
                   encrypt_method: str | None = None,
                   user_pw: bytes = b"") -> bytes:
    """A minimal real PDF whose catalog carries /AcroForm with the
    given field tree. One empty page keeps viewers happy. Poisons:
    ``dangling_ref`` appends a /Fields ref to a nonexistent object;
    ``cyclic_kids`` makes the FIRST group's first kid point back at
    the group; ``missing_ft`` strips /FT from every node of the first
    group (no ancestor supplies it -> the chain has no type).

    ``encrypt_method`` ('rc4-40'/'rc4-128'/'aes-128') encrypts the
    document under the standard security handler: every field-dict
    STRING (/T, /V) is individually encrypted under ITS OWN object's
    key (spec 7.6.2 — ciphertext is then PDF-escaped, because decrypt
    happens after unescape on read), the content stream likewise, the
    /Encrypt dict itself exempt. ``user_pw`` nonempty builds a
    password-protected form the empty-password handshake must reject."""
    import hashlib

    from cies_ocr_java_spark.operators.pdf_crypt import (
        _METHODS,
        PdfDecryptor,
        compute_encryption_key,
        compute_o_value,
        compute_u_value,
    )

    enc = None
    if encrypt_method is not None:
        v, r_rev, n, aes = _METHODS[encrypt_method]
        seed = repr(fields).encode()
        id0 = hashlib.md5(b"form-id" + seed).digest()
        o_value = compute_o_value(b"owner-secret", user_pw, r_rev, n)
        key = compute_encryption_key(user_pw, o_value, -44, id0,
                                     r_rev, n)
        u_value = compute_u_value(key, id0, r_rev)
        enc = PdfDecryptor(key, aes)

    objects: list[bytes] = []

    def add(body: bytes) -> int:
        objects.append(body)
        return len(objects)  # 1-based object number

    # 1 catalog (patched later), 2 pages, 3 page, 4 content
    add(b"")  # catalog placeholder
    add(b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    add(b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R >>")
    comp = zlib.compress(b"BT ET\n", 6)
    if enc is not None:
        comp = enc.encrypt(4, 0, comp)
    add(b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(comp)
        + comp + b"\nendstream")

    def s_lit(num: int, s: str) -> bytes:
        raw = s.encode("utf-8")
        if enc is None:
            return _esc(raw)
        # ciphertext is arbitrary bytes: beyond \ ( ), octal-escape
        # every control byte and < > (spec 7.3.4.2 allows \ooo for any
        # byte) — a raw '<<'/'>>' inside a literal desyncs balanced-
        # dict scanning, and a raw CR is EOL-normalized by readers
        raw = enc.encrypt(num, 0, raw)
        out = bytearray()
        for b in raw:
            if b in (0x5C, 0x28, 0x29):
                out += b"\\" + bytes([b])
            elif b < 0x20 or b in (0x3C, 0x3E):
                out += (b"\\%03o" % b)
            else:
                out.append(b)
        return bytes(out)

    def emit(spec, parent_num: int | None, strip_ft: bool) -> int:
        name, ftype, value, kids = spec
        num = add(b"")  # reserve the number before emitting kids
        kid_nums = [emit(k, num, strip_ft) for k in kids]
        parts = [b"<< /T (" + s_lit(num, name) + b")"]
        if parent_num is not None:
            parts.append(b"/Parent %d 0 R" % parent_num)
        if ftype is not None and not strip_ft:
            parts.append(b"/FT /" + ftype.encode("ascii"))
        if value is not None:
            if ftype == "Btn" and not kids:
                parts.append(b"/V /" + value.encode("ascii"))
            else:
                parts.append(b"/V (" + s_lit(num, value) + b")")
        if kid_nums:
            shown = list(kid_nums)
            if cyclic_kids and parent_num is None and spec is first_group:
                shown[0] = num  # kid slot points back at the group
            parts.append(b"/Kids ["
                         + b" ".join(b"%d 0 R" % k for k in shown)
                         + b"]")
        parts.append(b">>")
        objects[num - 1] = b" ".join(parts)
        return num

    first_group = next((f for f in fields if f[3]), None)
    roots = []
    for spec in fields:
        strip = missing_ft and spec is first_group
        roots.append(emit(spec, None, strip))
    if dangling_ref:
        roots.append(len(objects) + 50)
    acro = add(b"<< /Fields ["
               + b" ".join(b"%d 0 R" % r for r in roots) + b"] >>")
    objects[0] = (b"<< /Type /Catalog /Pages 2 0 R /AcroForm %d 0 R >>"
                  % acro)
    trailer_extra = b""
    if enc is not None:
        parts = [b"<< /Filter /Standard /V %d /R %d" % (v, r_rev)]
        if r_rev >= 3:
            parts.append(b"/Length %d" % (n * 8))
        if v == 4:
            parts.append(
                b"/CF << /StdCF << /CFM /%s /Length %d >> >> "
                b"/StmF /StdCF /StrF /StdCF"
                % (b"AESV2" if aes else b"V2", n))
        parts.append(b"/O <" + o_value.hex().encode() + b">")
        parts.append(b"/U <" + u_value.hex().encode() + b">")
        parts.append(b"/P -44 >>")
        enc_num = add(b" ".join(parts))
        trailer_extra = (b" /Encrypt %d 0 R /ID [<%s> <%s>]"
                         % (enc_num, id0.hex().encode(),
                            id0.hex().encode()))

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
    buf += (b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n"
            b"%%%%EOF\n" % (n_objs, trailer_extra, xref_off))
    return bytes(buf)


def _field_lit(d: bytes, key: bytes) -> bytes | None:
    m = re.search(rb"/" + key + rb"\s*\(", d)
    if m is None:
        return None
    i, out = m.end(), bytearray()
    while i < len(d):
        c = d[i]
        if c == 0x5C and i + 1 < len(d):
            out += d[i:i + 2]
            i += 2
            continue
        if c == 0x29:
            return _unescape_literal(bytes(out))
        out.append(c)
        i += 1
    raise _PdfError("unterminated field string")


def parse_pdf_form(data: bytes | None) -> dict:
    """-> {"fields": [(idx, name, ftype, value), ...], "error"} with
    fields in depth-first /Fields order; name is the dotted FQN, ftype
    the INHERITED /FT, value the decoded /V (None when unfilled).
    A document without /AcroForm yields an empty field list."""
    if data is None or not bytes(data).startswith(b"%PDF-"):
        return {"fields": None, "error": "missing %PDF header"}
    data = bytes(data)
    try:
        offsets, trailer = _parse_xref(data)
        crypt = _make_decryptor(data, offsets, trailer)
        catalog, _ = _load_object(data, offsets, _ref(trailer, b"Root"),
                                  crypt=crypt)
        am = re.search(rb"/AcroForm\s+(\d+)\s+0\s+R", catalog)
        if am is None:
            return {"fields": [], "error": None}
        acro, _ = _load_object(data, offsets, int(am.group(1)),
                               crypt=crypt)
        fm = re.search(rb"/Fields\s*\[([^\]]*)\]", acro)
        if fm is None:
            raise _PdfError("AcroForm missing /Fields")
        roots = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R",
                                            fm.group(1))]
        out: list[tuple] = []
        seen: set[int] = set()

        def dec(num: int, raw: bytes | None) -> str | None:
            if raw is None:
                return None
            if crypt is not None:
                try:
                    raw = crypt.decrypt(num, 0, raw)
                except ValueError as e:
                    raise _PdfError(str(e)) from None
            return raw.decode("utf-8", errors="replace")

        def walk(num: int, prefix: str, ftype: str | None,
                 depth: int) -> None:
            if depth > 32:
                raise _PdfError("field tree too deep")
            if num in seen:
                raise _PdfError("cyclic field tree")
            seen.add(num)
            d, _ = _load_object(data, offsets, num, crypt=crypt)
            t = dec(num, _field_lit(d, b"T"))
            if t is None:
                raise _PdfError("field missing /T")
            fqn = f"{prefix}.{t}" if prefix else t
            ftm = re.search(rb"/FT\s*/([A-Za-z]+)", d)
            ft = ftm.group(1).decode("ascii") if ftm else ftype
            km = re.search(rb"/Kids\s*\[([^\]]*)\]", d)
            if km is not None:
                kids = [int(x) for x in re.findall(rb"(\d+)\s+0\s+R",
                                                   km.group(1))]
                if not kids:
                    raise _PdfError("empty /Kids")
                for k in kids:
                    walk(k, fqn, ft, depth + 1)
                return
            if ft is None:
                raise _PdfError("field chain missing /FT")
            if ft == "Btn":
                vm = re.search(rb"/V\s*/([^\s/<>\[\]()%]+)", d)
                value = vm.group(1).decode("latin1") if vm else None
            else:
                value = dec(num, _field_lit(d, b"V"))
            out.append((len(out), fqn, ft, value))

        for r in roots:
            walk(r, "", None, 0)
        return {"fields": out, "error": None}
    except _PdfError as e:
        return {"fields": None, "error": str(e)}


def _form_rows(b: bytes | None) -> dict | list[dict]:
    """parse_pdf_form's leaf fields as PDF_FORM_SCHEMA rows."""
    r = parse_pdf_form(b)
    if r["error"] is not None:
        return {"error": r["error"]}
    return [dict(zip(("field_idx", "name", "ftype", "value"), f))
            for f in r["fields"]]


PDF_FORM_SCHEMA = ("doc_id long, field_idx int, name string, "
                   "ftype string, value string, error string")


def extract_pdf_form_fields(df: DataFrame, payload_col: str = "payload",
                            id_col: str = "doc_id") -> DataFrame:
    """(id, payload) -> one row per leaf field in depth-first order, or
    ONE error row per malformed document. Arrow-batched mapInPandas,
    no shuffle."""
    return map_blobs(df, _form_rows, PDF_FORM_SCHEMA, id_col, payload_col)
