"""PDF standard security handler (operators/pdf_crypt.py): RC4-40 /
RC4-128 / AES-128 encrypted documents must decrypt to EXACTLY the
spans of their plaintext twins; every handshake/cipher failure is an
error row with a stable reason; fuzz never raises."""

import random

import pytest

from cies_ocr_java_spark.operators.pdf_crypt import (
    PdfDecryptor,
    build_encrypted_pdf,
    compute_encryption_key,
    compute_o_value,
    compute_u_value,
    object_key,
)
from cies_ocr_java_spark.operators.pdf_real import (
    build_real_pdf,
    parse_pdf_positioned,
    parse_real_pdf,
)

METHODS = ("rc4-40", "rc4-128", "aes-128")
TEXT = "Encrypted corpus page.\n" * 40  # multi-page


@pytest.mark.parametrize("method", METHODS)
def test_decrypts_to_plaintext_twin(method):
    enc = parse_real_pdf(build_encrypted_pdf(TEXT, method))
    plain = parse_real_pdf(build_real_pdf(TEXT))
    assert enc["error"] is None
    assert enc["text"] == plain["text"] == TEXT
    assert enc["page_count"] == plain["page_count"]
    # the xref also carries the /Encrypt dict object
    assert enc["n_objects"] == plain["n_objects"] + 1


@pytest.mark.parametrize("method", METHODS)
def test_positioned_spans_equal_plaintext_twin(method):
    enc = parse_pdf_positioned(build_encrypted_pdf(TEXT, method))
    plain = parse_pdf_positioned(build_real_pdf(TEXT))
    assert enc["error"] is None
    assert enc["spans"] == plain["spans"]


@pytest.mark.parametrize("method", METHODS)
def test_poison_tiers(method):
    cases = [
        (dict(user_pw=b"secret"), "password handshake failed"),
        (dict(bad_o=True), "password handshake failed"),
        (dict(bad_p=True), "password handshake failed"),
        (dict(v5=True), "unsupported encryption version"),
        (dict(non_standard=True), "unsupported security handler"),
    ]
    for kw, want in cases:
        r = parse_real_pdf(build_encrypted_pdf(TEXT, method, **kw))
        assert r["error"] == want, (kw, r["error"])
        assert r["text"] is None
    r = parse_real_pdf(
        build_encrypted_pdf(TEXT, method, corrupt_stream=True))
    if method == "aes-128":
        assert r["error"] == "aes stream length invalid"
    else:
        # RC4 is a stream cipher: truncation shortens the plaintext,
        # the failure surfaces in the flate layer
        assert r["error"].startswith("flate decode failed")


def test_per_object_keys_differ():
    """Two identical page chunks must encrypt to DIFFERENT on-disk
    bytes — the per-object key (Algorithm 1) mixes the object number."""
    pdf = build_encrypted_pdf("A" * 400, "rc4-128")  # 2 equal pages
    # both content streams carry the same compressed plaintext; their
    # encrypted bytes must not repeat anywhere
    k1 = object_key(b"0123456789abcdef", 4, 0, aes=False)
    k2 = object_key(b"0123456789abcdef", 6, 0, aes=False)
    assert k1 != k2
    r = parse_real_pdf(pdf)
    assert r["error"] is None and r["text"] == "A" * 400


def test_algorithm_round_trip_nonempty_password():
    """Writer O/U derivation and reader verification are inverses for
    an arbitrary (nonempty) user password too — simulate a reader that
    knows the real password."""
    for r_rev, n in ((2, 5), (3, 16), (4, 16)):
        o = compute_o_value(b"owner", b"uSer", r_rev, n)
        key = compute_encryption_key(b"uSer", o, -44, b"i" * 16,
                                     r_rev, n)
        u = compute_u_value(key, b"i" * 16, r_rev)
        key2 = compute_encryption_key(b"uSer", o, -44, b"i" * 16,
                                      r_rev, n)
        u2 = compute_u_value(key2, b"i" * 16, r_rev)
        assert u == u2 and len(u) == 32
        # and the empty password does NOT verify
        key3 = compute_encryption_key(b"", o, -44, b"i" * 16, r_rev, n)
        u3 = compute_u_value(key3, b"i" * 16, r_rev)
        assert u3[:16] != u[:16]


def test_decryptor_rejects_malformed_dicts():
    with pytest.raises(ValueError, match="unsupported security"):
        PdfDecryptor.from_encrypt_dict(
            b"<< /Filter /Acme /V 1 /R 2 >>", b"i" * 16)
    with pytest.raises(ValueError, match="unsupported encryption version"):
        PdfDecryptor.from_encrypt_dict(
            b"<< /Filter /Standard /V 3 /R 3 >>", b"i" * 16)
    with pytest.raises(ValueError, match="missing /R"):
        PdfDecryptor.from_encrypt_dict(
            b"<< /Filter /Standard /V 1 >>", b"i" * 16)
    with pytest.raises(ValueError, match="missing /O"):
        PdfDecryptor.from_encrypt_dict(
            b"<< /Filter /Standard /V 1 /R 2 >>", b"i" * 16)
    with pytest.raises(ValueError, match="unsupported crypt filter"):
        PdfDecryptor.from_encrypt_dict(
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV3 >> >> /O <"
            + b"00" * 32 + b"> /U <" + b"00" * 32 + b"> /P -44 >>",
            b"i" * 16)


def test_unsigned_p_decrypts_like_its_signed_twin():
    """Writers may print the /P permissions word unsigned: /P 4294967292
    is /P -4 and must derive the same key, not crash struct.pack('<i');
    a value wider than 32 bits is a ValueError (an error row)."""
    id0 = b"i" * 16
    o = compute_o_value(b"owner", b"", 3, 16)
    key = compute_encryption_key(b"", o, -4, id0, 3, 16)
    u = compute_u_value(key, id0, 3)

    def enc_dict(p: bytes) -> bytes:
        return (b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O <"
                + o.hex().encode() + b"> /U <" + u.hex().encode()
                + b"> /P " + p + b" >>")

    signed = PdfDecryptor.from_encrypt_dict(enc_dict(b"-4"), id0)
    unsigned = PdfDecryptor.from_encrypt_dict(enc_dict(b"4294967292"), id0)
    raw = bytes(range(64))
    assert unsigned.decrypt(5, 0, raw) == signed.decrypt(5, 0, raw)
    for wide in (b"4294967296", b"-2147483649"):
        with pytest.raises(ValueError, match="bad /P"):
            PdfDecryptor.from_encrypt_dict(enc_dict(wide), id0)


@pytest.mark.parametrize("method", METHODS)
def test_fuzz_never_raises(method):
    rng = random.Random(0xEC0 + METHODS.index(method))
    base = build_encrypted_pdf("fuzz seed text " * 20, method)
    for _ in range(200):
        x = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            x[rng.randrange(len(x))] = rng.randrange(256)
        blob = (bytes(x[:rng.randrange(len(x) + 1)])
                if rng.random() < 0.3 else bytes(x))
        r = parse_real_pdf(blob)
        assert "error" in r
        # a flip inside an encrypted stream may legally still decode
        # (RC4 garbage can inflate) — but NEVER to silently wrong text
        # structure: if error is None the text must decode as utf-8
        if r["error"] is None:
            assert isinstance(r["text"], str)


@pytest.mark.parametrize("method", METHODS)
def test_encrypted_pdf15_objstm_path(method):
    """Encrypted PDF-1.5: the catalog/pages/page dicts live in an
    ENCRYPTED ObjStm, the xref stream stays unencrypted (spec 7.5.8.2),
    and packed objects decrypt through the CARRIER stream's key — the
    decryptor's type-2 path, untested by the classic-layout docs."""
    from cies_ocr_java_spark.operators.pdf_crypt import (
        build_encrypted_pdf15,
    )

    enc = parse_real_pdf(build_encrypted_pdf15(TEXT, method))
    plain = parse_real_pdf(build_real_pdf(TEXT, xref_stream=True))
    assert enc["error"] is None
    assert enc["text"] == plain["text"] == TEXT
    assert enc["page_count"] == plain["page_count"]
    assert enc["n_objects"] == plain["n_objects"] + 1  # + /Encrypt


def test_encrypted_pdf15_fuzz_never_raises():
    import random

    from cies_ocr_java_spark.operators.pdf_crypt import (
        build_encrypted_pdf15,
    )

    rng = random.Random(0x15EC)
    base = build_encrypted_pdf15("fuzz seed " * 30, "aes-128")
    for _ in range(150):
        x = bytearray(base)
        for _ in range(rng.randrange(1, 6)):
            x[rng.randrange(len(x))] = rng.randrange(256)
        blob = (bytes(x[:rng.randrange(len(x) + 1)])
                if rng.random() < 0.3 else bytes(x))
        r = parse_real_pdf(blob)
        assert "error" in r
        if r["error"] is None:
            assert isinstance(r["text"], str)
