"""PDF text extraction (north-rule "PDF/layout parse" path).

The PDFs are constructed by hand in the test — a valid minimal
document shape with one content stream — so the extractor is exercised
on FlateDecode and raw streams, Tj/TJ/quote operators, escapes, and
the Spark routing (tier='pdf')."""

import zlib

from trafilatura_spark.kernel import Options, bare_extract
from trafilatura_spark.kernel.pdftext import extract_pdf_text, is_pdf


def build_pdf(content: bytes, compress: bool = True) -> bytes:
    "Minimal single-page PDF embedding ``content`` as the page stream."
    if compress:
        body = zlib.compress(content)
        filt = b"/Filter /FlateDecode "
    else:
        body = content
        filt = b""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << " + filt + b"/Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )


CONTENT = (
    b"BT /F1 12 Tf 72 720 Td (Hello PDF world.) Tj "
    b"0 -14 Td (Second line with \\(escaped\\) parens.) Tj "
    b"T* [(Kerned ) -120 (array ) -80 (text.)] TJ ET"
)


def test_is_pdf_magic():
    assert is_pdf(b"%PDF-1.7\n...") and is_pdf("%PDF-1.4 x")
    assert not is_pdf("<html></html>") and not is_pdf(None) and not is_pdf(b"PDF-")


def test_extract_flate_stream():
    text = extract_pdf_text(build_pdf(CONTENT, compress=True))
    assert "Hello PDF world." in text
    assert "Second line with (escaped) parens." in text
    assert "Kerned array text." in text
    # line-positioning operators produced line breaks
    assert text.index("Hello") < text.index("\n") < text.index("Kerned")


def test_extract_raw_stream_and_octal():
    content = b"BT (Caf\\351 costs \\0445) Tj ET"  # \351 = e-acute, \044 = $
    text = extract_pdf_text(build_pdf(content, compress=False))
    assert text == "Café costs $5"


def test_malformed_pdf_never_raises():
    assert extract_pdf_text(b"%PDF-1.4 garbage stream \x00\x01 endstream") == ""
    assert extract_pdf_text(b"%PDF-") == ""


def test_bare_extract_routes_pdf_payloads():
    res = bare_extract(build_pdf(CONTENT), Options(min_extracted_size=0))
    assert res.tier == "pdf"
    assert "Hello PDF world." in res.text
    empty = bare_extract(b"%PDF-1.4\n%%EOF\n", Options(min_extracted_size=0))
    assert empty.text is None and empty.tier == "pdf_empty"


def test_spark_operator_routes_pdf_strings():
    "String-typed text cells carrying PDF bytes reach the PDF reader."
    from trafilatura_spark.operators.extract import extract_one_result

    payload = build_pdf(CONTENT).decode("latin-1")
    r = extract_one_result(payload, Options(min_extracted_size=0))
    assert r.tier == "pdf" and "Hello PDF world." in r.text and r.chars_kept == len(r.text)


def test_extract_facade_pdf_with_nontxt_format():
    "Non-txt formats degrade to plain text for PDFs (no DOM to serialize)."
    from trafilatura_spark.kernel import extract

    out = extract(build_pdf(CONTENT), Options(min_extracted_size=0, format="json"))
    assert out and "Hello PDF world." in out


def test_et_inside_shown_string_not_truncated():
    """Round-3 ADVICE (medium): the old BT(.*?)ET regex stopped at the
    'ET' byte pair inside a literal string, dropping the whole show.
    The lexer treats strings as tokens, so uppercase text survives."""
    content = b"BT /F1 12 Tf (GET STARTED NOW) Tj 0 -14 Td (MARKET NETWORK) Tj ET"
    text = extract_pdf_text(build_pdf(content, compress=False))
    assert "GET STARTED NOW" in text
    assert "MARKET NETWORK" in text


def test_bare_positioning_tokens_inside_strings_no_spurious_newlines():
    "'Td' as string CONTENT is data, not a line break (round-3 ADVICE)."
    content = b"BT (a Td b T* c TD d) Tj ET"
    text = extract_pdf_text(build_pdf(content, compress=False))
    assert text == "a Td b T* c TD d"


def test_hex_string_show():
    "<hex> literal strings decode like latin-1 byte strings (simple fonts)."
    content = b"BT <48656C6C6F2068657821> Tj T* [<4279> -80 (tes)] TJ ET"
    text = extract_pdf_text(build_pdf(content, compress=False))
    assert "Hello hex!" in text and "Bytes" in text
    # odd digit count: final digit padded with 0 per ISO 32000
    assert extract_pdf_text(build_pdf(b"BT <484950> Tj <5> Tj ET", compress=False)).startswith("HIP")


def build_cid_pdf(content: bytes, cmap_body: bytes) -> bytes:
    "Minimal Type0/CID PDF: /F1 carries a ToUnicode CMap, /F2 is simple."
    cm = zlib.compress(cmap_body)
    body = content
    return (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R\n"
        b"   /Resources << /Font << /F1 5 0 R /F2 7 0 R >> >> >> endobj\n"
        b"4 0 obj << /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /TestCID\n"
        b"   /ToUnicode 6 0 R >> endobj\n"
        b"6 0 obj << /Filter /FlateDecode /Length " + str(len(cm)).encode() + b" >>\n"
        b"stream\n" + cm + b"\nendstream\nendobj\n"
        b"7 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> endobj\n"
        b"trailer << /Root 1 0 R >>\n%%EOF\n"
    )


CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"begincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"3 beginbfchar\n<0001> <0048>\n<0002> <0065>\n<0003> <006F>\nendbfchar\n"
    b"2 beginbfrange\n"
    b"<0010> <0012> <006C>\n"            # 0010->l 0011->m 0012->n (incrementing)
    b"<0020> <0021> [<0057> <00660069>]\n"  # array form incl. a ligature target
    b"endbfrange\nendcmap\n"
)


def test_tounicode_bfchar_bfrange_cid_decode():
    "Type0 show strings decode through the ToUnicode CMap (2-byte codes)."
    content = b"BT /F1 12 Tf <00010002001000100003> Tj ET"
    text = extract_pdf_text(build_cid_pdf(content, CMAP))
    assert text == "Hello"


def test_tounicode_bfrange_increment_and_array():
    content = b"BT /F1 12 Tf <0011001200200021> Tj ET"
    text = extract_pdf_text(build_cid_pdf(content, CMAP))
    assert text == "mnWfi"  # increment run + array form + multi-char ligature


def test_font_switch_resets_cmap():
    "Tf back to a simple font returns to byte-per-glyph decoding."
    content = b"BT /F1 12 Tf <0001> Tj /F2 12 Tf ( plain) Tj ET"
    text = extract_pdf_text(build_cid_pdf(content, CMAP))
    assert text == "H plain"


def test_unmapped_cid_skipped_not_garbage():
    "Codes outside the CMap yield no text (never mojibake byte pairs)."
    content = b"BT /F1 12 Tf <0001FFFE0002> Tj ET"
    text = extract_pdf_text(build_cid_pdf(content, CMAP))
    assert text == "He"


def test_encrypted_pdf_labeled_not_parsed():
    from trafilatura_spark.kernel.pdftext import is_encrypted

    enc = (
        b"%PDF-1.6\n"
        b"1 0 obj << /Type /Catalog >> endobj\n"
        b"4 0 obj << /Length 20 >>\nstream\nBT (secret) Tj ET\nendstream\nendobj\n"
        b"trailer << /Root 1 0 R /Encrypt 9 0 R >>\n%%EOF\n"
    )
    assert is_encrypted(enc)
    assert extract_pdf_text(enc) == ""
    res = bare_extract(enc, Options(min_extracted_size=0))
    assert res.text is None and res.tier == "pdf_encrypted"
    assert not is_encrypted(build_pdf(CONTENT))


def test_whitespace_prefixed_pdf_routes_to_pdf_reader():
    "Round-3 VERDICT item 7: leading whitespace must not demote a PDF to HTML."
    from trafilatura_spark.operators.extract import extract_one_result

    payload = "\n  \t" + build_pdf(CONTENT).decode("latin-1")
    assert is_pdf(payload)
    r = extract_one_result(payload, Options(min_extracted_size=0))
    assert r.tier == "pdf" and "Hello PDF world." in r.text


def test_extract_transcripts_pdf_rows_end_to_end(spark):
    "A PDF turn flows through the mapInArrow cascade as tier='pdf'."
    from trafilatura_spark.operators.extract import extract_transcripts

    pdf_payload = build_pdf(CONTENT).decode("latin-1")
    html_payload = "<article><p>" + "plain html words " * 20 + "</p></article>"
    df = spark.createDataFrame(
        [("c1", 0, pdf_payload), ("c1", 1, html_payload)],
        "conv_id string, turn_idx int, text string",
    )
    rows = {r.turn_idx: r for r in extract_transcripts(df).collect()}
    assert rows[0].tier == "pdf" and "Hello PDF world." in rows[0].extracted_text
    assert rows[1].tier in ("main", "baseline") and "plain html words" in rows[1].extracted_text


# --- RC4 standard security handler (empty user password) ---------------------
# The encryptor below is an INDEPENDENT implementation of ISO 32000-1
# §7.6.2-7.6.3 written from the spec, so the reader's decryption is
# checked against a second derivation, not against itself.

_PAD = bytes.fromhex("28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A")
_O = bytes(range(32))          # /O only feeds key derivation; any 32 bytes
_ID0 = bytes.fromhex("00112233445566778899AABBCCDDEEFF")
_P = -44


def _rc4_ref(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) % 256
        S[i], S[j] = S[j], S[i]
    out, i, j = bytearray(), 0, 0
    for b in data:
        i = (i + 1) % 256
        j = (j + S[i]) % 256
        S[i], S[j] = S[j], S[i]
        out.append(b ^ S[(S[i] + S[j]) % 256])
    return bytes(out)


def _file_key(r: int, nbits: int, pw: bytes = b"") -> bytes:
    import hashlib
    import struct

    n = nbits // 8
    d = hashlib.md5((pw + _PAD)[:32] + _O + struct.pack("<i", _P) + _ID0).digest()
    if r >= 3:
        for _ in range(50):
            d = hashlib.md5(d[:n]).digest()
        return d[:n]
    return d[:5]


def _u_value(key: bytes, r: int) -> bytes:
    import hashlib

    if r == 2:
        return _rc4_ref(key, _PAD)
    t = _rc4_ref(key, hashlib.md5(_PAD + _ID0).digest())
    for i in range(1, 20):
        t = _rc4_ref(bytes(b ^ i for b in key), t)
    return t + b"\x00" * 16  # 16 arbitrary padding bytes per spec


def _obj_key(key: bytes, num: int, gen: int) -> bytes:
    import hashlib

    return hashlib.md5(
        key + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()[: min(len(key) + 5, 16)]


def build_encrypted_pdf(
    content: bytes, r: int = 3, nbits: int = 128, corrupt_u: bool = False,
    password: bytes = b"",
) -> bytes:
    "Single-page PDF whose content stream is RC4-encrypted under ``password``."
    key = _file_key(r, nbits, password)
    body = _rc4_ref(_obj_key(key, 4, 0), zlib.compress(content))
    u = bytearray(_u_value(key, r))
    if corrupt_u:
        u[0] ^= 0xFF  # simulates a real (non-empty) user password
    v = 2 if r >= 3 else 1
    length = b" /Length " + str(nbits).encode() if v >= 2 else b""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Filter /Standard /V " + str(v).encode() + b" /R " + str(r).encode()
        + length + b" /P " + str(_P).encode()
        + b" /O <" + _O.hex().encode() + b">"
        + b" /U <" + bytes(u).hex().encode() + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 5 0 R /ID [<" + _ID0.hex().encode()
        + b"> <" + _ID0.hex().encode() + b">] >>\n%%EOF\n"
    )


def test_rc4_empty_password_pdf_decrypts_r3_128():
    "RC4 /V 2 /R 3 128-bit with empty user password reads transparently."
    from trafilatura_spark.kernel.pdftext import decryption_key, is_encrypted

    pdf = build_encrypted_pdf(CONTENT, r=3, nbits=128)
    assert is_encrypted(pdf)
    crypt = decryption_key(pdf)
    assert crypt.key == _file_key(3, 128) and not crypt.aes
    text = extract_pdf_text(pdf)
    assert "Hello PDF world." in text and "Kerned array text." in text
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.tier == "pdf" and "Hello PDF world." in res.text


def test_rc4_empty_password_pdf_decrypts_r2_40():
    "Legacy /V 1 /R 2 40-bit RC4 also opens (5-byte key, Algorithm 4 /U)."
    pdf = build_encrypted_pdf(CONTENT, r=2, nbits=40)
    assert "Second line with (escaped) parens." in extract_pdf_text(pdf)


def test_rc4_wrong_user_password_stays_labeled():
    "/U mismatch means a real user password: refuse, label pdf_encrypted."
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_encrypted_pdf(CONTENT, corrupt_u=True)
    assert decryption_key(pdf) is None
    assert extract_pdf_text(pdf) == ""
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.text is None and res.tier == "pdf_encrypted"


def test_unsupported_encryption_version_stays_labeled():
    "An /V above the implemented handlers is refused, never half-parsed."
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_encrypted_pdf(CONTENT).replace(b"/V 2 /R 3", b"/V 6 /R 7")
    assert decryption_key(pdf) is None
    assert bare_extract(pdf, Options(min_extracted_size=0)).tier == "pdf_encrypted"


# --- AES (libcrypto AES-CBC + AESV2 / AESV3 handlers) -----------------------

def test_aes_fips197_known_answer_vectors():
    """FIPS-197 Appendix C through the CBC entry points (one block under a
    zero IV is the bare cipher; 128-, 192- and 256-bit keys), plus NIST
    SP 800-38A F.2.1 and F.2.5: two chained CBC blocks, AES-128 and -256."""
    from trafilatura_spark.kernel.aescipher import cbc_decrypt, cbc_encrypt

    fips = "00112233445566778899aabbccddeeff"
    sp = "6bc1bee22e409f96e93d7e117393172aae2d8a571e03ac9c9eb76fac45af8e51"
    cases = [
        (bytes(range(16)), bytes(16), fips, "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (bytes(range(24)), bytes(16), fips, "dda97ca4864cdfe06eaf70a0ec0d7191"),
        (bytes(range(32)), bytes(16), fips, "8ea2b7ca516745bfeafc49904b496089"),
        (bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"), bytes(range(16)), sp,
         "7649abac8119b246cee98e9b12e9197d5086cb9b507219ee95db113a917678b2"),
        (bytes.fromhex("603deb1015ca71be2b73aef0857d77811f352c073b6108d72d9810a30914dff4"), bytes(range(16)), sp,
         "f58c4c04d6e5f1ba779eabfb5f7bfbd69cfc4e967edb808d679f777bc6702c7d"),
    ]
    for key, iv, pt, ct in cases:
        assert cbc_encrypt(key, iv, bytes.fromhex(pt)).hex() == ct
        assert cbc_decrypt(key, iv, bytes.fromhex(ct)) == bytes.fromhex(pt)
        assert cbc_decrypt(key, iv, bytes.fromhex(ct) + b"ragged") == bytes.fromhex(pt)  # tail dropped


def test_hash_2b_pinned_against_independent_aes():
    """Algorithm 2.B (ISO 32000-2) against a re-implementation written
    here from the spec text, plus digests pinned from an independent
    pure-Python FIPS-197 AES: a spec deviation would pass the round-trip
    fixtures and only surface on real R6 PDFs."""
    import hashlib

    from trafilatura_spark.kernel.aescipher import cbc_encrypt
    from trafilatura_spark.kernel.pdftext import _hash_2b

    def independent_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
        digest = hashlib.sha256(pw + salt + udata).digest()
        rounds = 0
        while True:
            block = (pw + digest + udata) * 64
            enc = cbc_encrypt(digest[:16], digest[16:32], block)
            mod = sum(enc[:16]) % 3
            digest = [hashlib.sha256, hashlib.sha384, hashlib.sha512][mod](enc).digest()
            rounds += 1
            if rounds >= 64 and enc[-1] <= rounds - 32:
                return digest[:32]

    for pw, salt, udata, pinned in (
        (b"", b"VALSALT8", b"", "744b95a63afebe639e0fa22511348413d231238f4fad22a90911175a75e539ee"),
        (b"", b"KEYSALT8", b"", "a907694c688cb6edb27c24665b71bf8fab2c71ccb2f48417c280b8762c5063b9"),
        (b"secret", b"\x01\x02\x03\x04\x05\x06\x07\x08", b"",
         "f73c954722fb8e39ecd42d6fbba64c7b7c9e2066d3d250ccc990bc183b4ab5b8"),
        (b"", b"\x00" * 8, b"U" * 48, "01d55626e9756a2c743aeaeea3721470e74711557054cc4547afc7e9bab0e405"),
    ):
        assert _hash_2b(pw, salt, udata).hex() == pinned
        assert independent_2b(pw, salt, udata).hex() == pinned


def _aes_stream(okey: bytes, plaintext: bytes) -> bytes:
    "AESV2/V3 stream layout: IV prefix + CBC ciphertext + PKCS#7 pad."
    from trafilatura_spark.kernel.aescipher import cbc_encrypt

    iv = bytes(range(16))
    pad = 16 - len(plaintext) % 16
    return iv + cbc_encrypt(okey, iv, plaintext + bytes([pad]) * pad)


def build_aesv2_pdf(content: bytes, corrupt_u: bool = False) -> bytes:
    "AES-128 AESV2 (/V 4 /R 4) single-page PDF, empty user password."
    import hashlib

    key = _file_key(3, 128)  # R4 derives exactly like R3 at 128 bits
    okey = hashlib.md5(
        key + (4).to_bytes(3, "little") + (0).to_bytes(2, "little") + b"sAlT"
    ).digest()[:16]
    body = _aes_stream(okey, zlib.compress(content))
    u = bytearray(_u_value(key, 3))  # R4 /U check is the R3 algorithm
    if corrupt_u:
        u[0] ^= 0xFF
    return (
        b"%PDF-1.6\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Filter /Standard /V 4 /R 4 /Length 128 /P " + str(_P).encode()
        + b" /CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF"
        + b" /O <" + _O.hex().encode() + b"> /U <" + bytes(u).hex().encode()
        + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 5 0 R /ID [<" + _ID0.hex().encode()
        + b"> <" + _ID0.hex().encode() + b">] >>\n%%EOF\n"
    )


def test_aesv2_empty_password_pdf_decrypts():
    "AES-128 /V 4 streams decrypt through the sAlT-salted per-object key."
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_aesv2_pdf(CONTENT)
    crypt = decryption_key(pdf)
    assert crypt is not None and crypt.aes and crypt.salted
    text = extract_pdf_text(pdf)
    assert "Hello PDF world." in text and "Kerned array text." in text
    assert bare_extract(pdf, Options(min_extracted_size=0)).tier == "pdf"
    assert decryption_key(build_aesv2_pdf(CONTENT, corrupt_u=True)) is None


def build_aes256_pdf(
    r: int, content: bytes, wrong_pw: bool = False, password: bytes = b""
) -> bytes:
    "AES-256 AESV3 (/V 5, /R 5 or 6) single-page PDF under ``password``."
    import hashlib

    from trafilatura_spark.kernel.aescipher import cbc_encrypt
    from trafilatura_spark.kernel.pdftext import _hash_2b

    key = bytes(range(200, 232))  # the 32-byte file key being wrapped
    vsalt, ksalt = b"VALSALT8", b"KEYSALT8"
    if r == 6:
        uhash = _hash_2b(password, vsalt)
        ik = _hash_2b(password, ksalt)
    else:
        uhash = hashlib.sha256(password + vsalt).digest()
        ik = hashlib.sha256(password + ksalt).digest()
    if wrong_pw:
        uhash = bytes(b ^ 0xFF for b in uhash[:1]) + uhash[1:]
    u = uhash + vsalt + ksalt
    ue = cbc_encrypt(ik, b"\x00" * 16, key)
    body = _aes_stream(key, zlib.compress(content))  # V5: file key directly
    return (
        b"%PDF-2.0\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Filter /Standard /V 5 /R " + str(r).encode() + b" /Length 256"
        b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
        b" /P " + str(_P).encode()
        + b" /O <" + (b"\x00" * 48).hex().encode() + b">"
        + b" /U <" + u.hex().encode() + b">"
        + b" /UE <" + ue.hex().encode() + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 5 0 R >>\n%%EOF\n"
    )


def test_aes256_r6_empty_password_pdf_decrypts():
    "AES-256 /R 6: Algorithm 2.B validates the empty password, /UE unwraps."
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_aes256_pdf(6, CONTENT)
    crypt = decryption_key(pdf)
    assert crypt is not None and crypt.aes and not crypt.salted and len(crypt.key) == 32
    assert "Hello PDF world." in extract_pdf_text(pdf)
    assert bare_extract(pdf, Options(min_extracted_size=0)).tier == "pdf"


def test_aes256_r5_empty_password_pdf_decrypts():
    "Legacy AES-256 /R 5 (single sha256 schedule) also opens."
    assert "Second line with (escaped) parens." in extract_pdf_text(
        build_aes256_pdf(5, CONTENT)
    )


def test_aes256_wrong_password_stays_labeled():
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_aes256_pdf(6, CONTENT, wrong_pw=True)
    assert decryption_key(pdf) is None
    assert bare_extract(pdf, Options(min_extracted_size=0)).tier == "pdf_encrypted"


def test_aes_pdfs_labeled_encrypted_without_libcrypto(tmp_path):
    "A worker whose libcrypto does not load labels every AES file, never errors; RC4 still opens."
    import json
    import subprocess
    import sys
    from pathlib import Path

    pdfs = {
        "aesv2": build_aesv2_pdf(CONTENT),
        "aes256_r6": build_aes256_pdf(6, CONTENT),
        "aes256_r5": build_aes256_pdf(5, CONTENT),
        "rc4": build_encrypted_pdf(CONTENT, r=3, nbits=128),
    }
    for name, pdf in pdfs.items():
        (tmp_path / name).write_bytes(pdf)
    script = (
        "import json, sys\n"
        "from trafilatura_spark.kernel import Options, bare_extract, cdecompress\n"
        "load = cdecompress._load\n"
        "cdecompress._load = lambda *names: None if names[0].startswith('libcrypto') else load(*names)\n"
        "from trafilatura_spark.kernel import aescipher\n"
        "assert not aescipher.HAS_AES\n"
        "print(json.dumps({name: bare_extract(open(sys.argv[1] + '/' + name, 'rb').read(),"
        " Options(min_extracted_size=0)).tier for name in sys.argv[2:]}))\n"
    )
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path), *pdfs],
        cwd=Path(__file__).resolve().parents[1], capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    assert json.loads(proc.stdout.splitlines()[-1]) == {
        "aesv2": "pdf_encrypted", "aes256_r6": "pdf_encrypted", "aes256_r5": "pdf_encrypted", "rc4": "pdf",
    }


def test_rc4_encrypted_cid_pdf_decrypts_tounicode_stream():
    "Font ToUnicode streams are decrypted with their OWN per-object key."
    key = _file_key(3, 128)
    content = b"BT /F1 10 Tf <00010002> Tj ET"
    body = _rc4_ref(_obj_key(key, 4, 0), zlib.compress(content))
    cm = _rc4_ref(_obj_key(key, 6, 0), zlib.compress(CMAP))
    pdf = (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R\n"
        b"   /Resources << /Font << /F1 5 0 R >> >> >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type0 /ToUnicode 6 0 R >> endobj\n"
        b"6 0 obj << /Filter /FlateDecode /Length " + str(len(cm)).encode() + b" >>\n"
        b"stream\n" + cm + b"\nendstream\nendobj\n"
        b"7 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P " + str(_P).encode()
        + b" /O <" + _O.hex().encode() + b"> /U <" + _u_value(key, 3).hex().encode()
        + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 7 0 R /ID [<" + _ID0.hex().encode()
        + b"> <" + _ID0.hex().encode() + b">] >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "He"


# --- round-5: Tm line semantics, CID-without-ToUnicode tier, multi-column ----

def _wrap_stream(content: bytes, extra_objs: bytes = b"") -> bytes:
    return (
        b"%PDF-1.4\n" + extra_objs
        + b"9 0 obj << /Length " + str(len(content)).encode() + b" >>\n"
        b"stream\n" + content + b"\nendstream\nendobj\n%%EOF\n"
    )


def test_tm_vertical_move_breaks_lines():
    """Pages that position every line with an absolute text matrix (a b c
    d e f Tm) and never use Td/TD/T* must still come out as lines: a Tm
    vertical move is a line break (ISO 32000 9.4.2 — Tm RESETS the line
    matrix; previously such pages ran together on one line)."""
    content = (
        b"BT /F1 10 Tf "
        b"1 0 0 1 72 700 Tm (First positioned line.) Tj "
        b"1 0 0 1 72 688 Tm (Second positioned line.) Tj "
        b"1 0 0 1 72 676 Tm (Third positioned line.) Tj "
        b"ET"
    )
    text = extract_pdf_text(_wrap_stream(content))
    assert text.splitlines() == [
        "First positioned line.",
        "Second positioned line.",
        "Third positioned line.",
    ]


def test_tm_horizontal_move_same_baseline_no_break():
    "A pure horizontal Tm move on the same baseline is NOT a line break."
    content = (
        b"BT /F1 10 Tf "
        b"1 0 0 1 72 700 Tm (Left) Tj "
        b"1 0 0 1 90 700 Tm (Right) Tj "
        b"ET"
    )
    text = extract_pdf_text(_wrap_stream(content))
    assert "\n" not in text and "LeftRight" in text.replace(" ", "")


def test_identity_h_without_tounicode_labeled_not_garbage():
    """Identity-H composite fonts with NO ToUnicode map: the 2-byte CIDs
    have no text mapping, so the document must be labeled
    tier='pdf_no_text_map' — never decoded byte-per-glyph into garbage,
    never silently 'pdf_empty' (a corpus owner needs to count these)."""
    font = (
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Noto"
        b" /Encoding /Identity-H >> endobj\n"
        b"6 0 obj << /Font << /CID 5 0 R >> >> endobj\n"
    )
    content = b"BT /CID 12 Tf <00480065006C006C006F> Tj ET"
    pdf = _wrap_stream(content, font)
    from trafilatura_spark.kernel.pdftext import extract_pdf_info

    info = extract_pdf_info(pdf)
    assert info.text == "" and info.unmapped_cid
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.text is None and res.tier == "pdf_no_text_map"


def test_identity_h_with_tounicode_still_decodes():
    "The new-tier logic must not touch mapped CID fonts: they decode."
    pdf = _wrap_stream(
        b"BT /F9 12 Tf <00010002> Tj ET",
        b"2 0 obj << /Length 99 >>\nstream\n"
        b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"beginbfchar <0001> <0048> <0002> <0069> endbfchar\nendstream\nendobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H"
        b" /ToUnicode 2 0 R >> endobj\n"
        b"6 0 obj << /Font << /F9 5 0 R >> >> endobj\n",
    )
    assert "Hi" in extract_pdf_text(pdf)
    assert bare_extract(pdf, Options(min_extracted_size=0, min_output_size=1)).tier == "pdf"


def test_two_column_row_major_page_labeled():
    """A page rendered ROW-MAJOR across two columns (left cell, right
    cell, next row...) interleaves the columns in stream order — the
    document is labeled tier='pdf_multi_column' AND its reading order is
    reconstructed column-by-column from the Tm span positions."""
    rows = []
    y = 700
    for i in range(5):
        rows.append(b"1 0 0 1 72 %d Tm (left column row %d words here) Tj " % (y, i))
        rows.append(b"1 0 0 1 330 %d Tm (right column row %d words too) Tj " % (y, i))
        y -= 14
    content = b"BT /F1 10 Tf " + b"".join(rows) + b"ET"
    pdf = _wrap_stream(content)
    from trafilatura_spark.kernel.pdftext import extract_pdf_info

    info = extract_pdf_info(pdf)
    assert info.multi_column
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.tier == "pdf_multi_column" and "left column row 0" in res.text
    # reading order is RECONSTRUCTED column-major: all left-column rows
    # precede all right-column rows, each column top-to-bottom
    positions = {line: i for i, line in enumerate(res.text.splitlines())}
    lefts = [positions[f"left column row {i} words here"] for i in range(5)]
    rights = [positions[f"right column row {i} words too"] for i in range(5)]
    assert lefts == sorted(lefts) and rights == sorted(rights)
    assert max(lefts) < min(rights)


def test_single_column_tm_page_not_flagged():
    "An ordinary one-column Tm-positioned page stays tier='pdf'."
    lines = b"".join(
        b"1 0 0 1 72 %d Tm (a normal single column body line %d) Tj " % (700 - 14 * i, i)
        for i in range(8)
    )
    pdf = _wrap_stream(b"BT /F1 10 Tf " + lines + b"ET")
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.tier == "pdf" and len(res.text.splitlines()) == 8


def test_sub_threshold_jumps_across_streams_not_mislabeled():
    """Two streams with 3 column jumps EACH (sub-threshold per stream,
    6 summed) must NOT be labeled multi_column: reconstruction only runs
    per-stream at >= 4 jumps, and the label must track whether it
    actually ran — summing across streams previously set the label on
    text left in interleaved stream order (ADVICE r5)."""

    def block(tag: bytes) -> bytes:
        rows = []
        y = 700
        for i in range(2):
            rows.append(b"1 0 0 1 72 %d Tm (%s left r%d words here) Tj " % (y, tag, i))
            rows.append(b"1 0 0 1 330 %d Tm (%s right r%d words too) Tj " % (y, tag, i))
            y -= 14
        return b"BT /F1 10 Tf " + b"".join(rows) + b"ET"

    c1, c2 = block(b"s1"), block(b"s2")
    pdf = (
        b"%PDF-1.4\n"
        b"8 0 obj << /Length " + str(len(c1)).encode() + b" >>\n"
        b"stream\n" + c1 + b"\nendstream\nendobj\n"
        b"9 0 obj << /Length " + str(len(c2)).encode() + b" >>\n"
        b"stream\n" + c2 + b"\nendstream\nendobj\n%%EOF\n"
    )
    from trafilatura_spark.kernel.pdftext import extract_pdf_info

    info = extract_pdf_info(pdf)
    assert not info.multi_column
    assert "s1 left r0 words here" in info.text and "s2 right r1 words too" in info.text
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.tier == "pdf"


def test_two_column_multipage_single_stream_pages_not_interleaved():
    """A single content stream carrying TWO row-major two-column pages:
    the y-reset between pages splits the reconstruction into page groups,
    so page 1's columns are fully emitted before page 2's (a naive global
    y-sort would interleave same-height rows of both pages)."""
    parts = []
    for page in range(2):
        y = 700
        for i in range(5):
            parts.append(b"1 0 0 1 72 %d Tm (p%d left row %d words here) Tj " % (y, page, i))
            parts.append(b"1 0 0 1 330 %d Tm (p%d right row %d words too) Tj " % (y, page, i))
            y -= 140  # full-page row spacing: the page-2 reset jumps ~560pt up
    pdf = _wrap_stream(b"BT /F1 10 Tf " + b"".join(parts) + b"ET")
    res = bare_extract(pdf, Options(min_extracted_size=0))
    assert res.tier == "pdf_multi_column"
    lines = res.text.splitlines()
    pos = {line: i for i, line in enumerate(lines)}
    # all of page 0 before all of page 1; within each page, left col
    # before right col, top to bottom
    p0 = [pos[l] for l in lines if l.startswith("p0")]
    p1 = [pos[l] for l in lines if l.startswith("p1")]
    assert max(p0) < min(p1)
    for page in range(2):
        lefts = [pos["p%d left row %d words here" % (page, i)] for i in range(5)]
        rights = [pos["p%d right row %d words too" % (page, i)] for i in range(5)]
        assert lefts == sorted(lefts) and rights == sorted(rights)
        assert max(lefts) < min(rights)


def test_rc4_real_user_password_opens_with_supplied_password():
    """Round-5: real-password PDFs open when the job supplies the USER
    password (Options.pdf_password — one per job run); the empty default
    still refuses them to tier='pdf_encrypted', and a wrong password
    refuses too (never key-stream garbage)."""
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_encrypted_pdf(CONTENT, r=3, nbits=128, password=b"hunter2")
    assert decryption_key(pdf) is None  # empty password does not verify
    crypt = decryption_key(pdf, b"hunter2")
    assert crypt is not None and not crypt.aes
    assert "Hello PDF world." in extract_pdf_text(pdf, crypt)
    res = bare_extract(pdf, Options(min_extracted_size=0, pdf_password="hunter2"))
    assert res.tier == "pdf" and "Kerned array text." in res.text
    wrong = bare_extract(pdf, Options(min_extracted_size=0, pdf_password="wrong"))
    assert wrong.text is None and wrong.tier == "pdf_encrypted"
    default = bare_extract(pdf, Options(min_extracted_size=0))
    assert default.tier == "pdf_encrypted"


def test_aes256_r6_real_user_password_opens():
    "AES-256 /R 6 under a real password: Algorithm 2.B runs on the supplied pw."
    from trafilatura_spark.kernel.pdftext import decryption_key

    pdf = build_aes256_pdf(6, CONTENT, password=b"s3cret")
    assert decryption_key(pdf) is None
    crypt = decryption_key(pdf, b"s3cret")
    assert crypt is not None and crypt.aes and len(crypt.key) == 32
    assert "Hello PDF world." in extract_pdf_text(pdf, crypt)
    res = bare_extract(pdf, Options(min_extracted_size=0, pdf_password="s3cret"))
    assert res.tier == "pdf"


def test_aes256_password_truncated_to_127_bytes():
    """ISO 32000-2 7.6.4.3.3: the UTF-8 password is truncated to 127
    bytes before the /V 5 hashes — a conforming writer hashes only the
    first 127 bytes, so a reader given the full >127-byte password must
    still open the file (ADVICE r5)."""
    from trafilatura_spark.kernel.pdftext import decryption_key

    long_pw = b"x" * 150
    # writer side hashes the truncated password (spec-conforming)
    pdf = build_aes256_pdf(6, CONTENT, password=long_pw[:127])
    crypt = decryption_key(pdf, long_pw)
    assert crypt is not None and crypt.aes and len(crypt.key) == 32
    assert "Hello PDF world." in extract_pdf_text(pdf, crypt)


def test_rc4_owner_password_recovers_user_key():
    """Algorithm 7: the OWNER password decrypts /O back into the padded
    user password, which re-enters Algorithm 2 — so a job knowing only
    the owner password still opens the file.  Fixture built with an
    independent RC4 and a REAL /O (user pw 'hunter2', owner pw 'admin'),
    unlike the other fixtures' arbitrary /O bytes."""
    import hashlib
    import struct

    from trafilatura_spark.kernel.pdftext import decryption_key

    user_pw, owner_pw = b"hunter2", b"admin"
    r, nbits = 3, 128
    n = nbits // 8
    # Algorithm 3: /O from the owner password
    od = hashlib.md5((owner_pw + _PAD)[:32]).digest()
    for _ in range(50):
        od = hashlib.md5(od[:n]).digest()
    okey = od[:n]
    o_val = (user_pw + _PAD)[:32]
    for i in range(20):
        o_val = _rc4_ref(bytes(b ^ i for b in okey), o_val)
    # Algorithm 2: file key from the USER password + the real /O
    d = hashlib.md5((user_pw + _PAD)[:32] + o_val + struct.pack("<i", _P) + _ID0).digest()
    for _ in range(50):
        d = hashlib.md5(d[:n]).digest()
    key = d[:n]
    u_val = _u_value(key, r)
    body = _rc4_ref(_obj_key(key, 4, 0), zlib.compress(CONTENT))
    pdf = (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P " + str(_P).encode()
        + b" /O <" + o_val.hex().encode() + b">"
        + b" /U <" + u_val.hex().encode() + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 5 0 R /ID [<" + _ID0.hex().encode()
        + b"> <" + _ID0.hex().encode() + b">] >>\n%%EOF\n"
    )
    assert decryption_key(pdf) is None                      # empty pw: locked
    assert decryption_key(pdf, b"wrong") is None
    for pw in (user_pw, owner_pw):                          # either unlocks
        crypt = decryption_key(pdf, pw)
        assert crypt is not None and crypt.key == key
    res = bare_extract(pdf, Options(min_extracted_size=0, pdf_password="admin"))
    assert res.tier == "pdf" and "Hello PDF world." in res.text


# --- round-6: Identity-H without ToUnicode, recovered from FontFile2 --------

def _mini_ttf() -> bytes:
    """Minimal TrueType font: ONE table ('cmap'), format-4 subtable
    mapping U+0020..U+007A to gid = codepoint - 0x1F (single segment,
    idRangeOffset 0, idDelta -0x1F mod 2^16; plus the required 0xFFFF
    terminator segment).  Public sfnt/TrueType table layout."""
    import struct

    sub = struct.pack(
        ">7H", 4, 32, 0, 4, 4, 1, 0          # format, length, lang, segCountX2=4, search fields
    ) + struct.pack(">2H", 0x7A, 0xFFFF)     # endCode
    sub += struct.pack(">H", 0)              # reservedPad
    sub += struct.pack(">2H", 0x20, 0xFFFF)  # startCode
    sub += struct.pack(">2H", 0xFFE1, 1)     # idDelta (-0x1F, +1)
    sub += struct.pack(">2H", 0, 0)          # idRangeOffset
    cmap = struct.pack(">2H", 0, 1) + struct.pack(">2HI", 3, 1, 12) + sub
    header = struct.pack(">I4H", 0x00010000, 1, 16, 0, 0)
    record = b"cmap" + struct.pack(">3I", 0, 28, len(cmap))
    return header + record + cmap


def _gid_hex(text: str) -> bytes:
    "Show-string hex for _mini_ttf gids (gid = ord(c) - 0x1F)."
    return "".join(f"{ord(c) - 0x1F:04X}" for c in text).encode()


def _identity_h_pdf(extra_descendant: bytes = b"", extra_objs: bytes = b"") -> bytes:
    ttf = _mini_ttf()
    content = b"BT /CID 12 Tf <" + _gid_hex("Hello embedded world") + b"> Tj ET"
    objs = (
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Emb"
        b" /Encoding /Identity-H /DescendantFonts [7 0 R] >> endobj\n"
        b"7 0 obj << /Type /Font /Subtype /CIDFontType2 /BaseFont /Emb"
        b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >>"
        b" /FontDescriptor 8 0 R " + extra_descendant + b" >> endobj\n"
        b"8 0 obj << /Type /FontDescriptor /FontName /Emb /FontFile2 10 0 R >> endobj\n"
        b"10 0 obj << /Length " + str(len(ttf)).encode() + b" >>\n"
        b"stream\n" + ttf + b"\nendstream\nendobj\n"
        b"6 0 obj << /Font << /CID 5 0 R >> >> endobj\n" + extra_objs
    )
    return _wrap_stream(content, objs)


def test_identity_h_recovered_from_embedded_truetype_cmap():
    """ISO 32000-1 9.7.4 Identity path: /Encoding /Identity-H show codes
    ARE CIDs; /CIDToGIDMap /Identity takes CID -> glyph id; inverting
    the embedded FontFile2's 'cmap' (unicode -> gid) recovers text.
    Previously this class was labeled tier='pdf_no_text_map' even though
    the font program carries the mapping (VERDICT r5 item 6)."""
    pdf = _identity_h_pdf(b"/CIDToGIDMap /Identity")
    assert extract_pdf_text(pdf) == "Hello embedded world"
    from trafilatura_spark.kernel.pdftext import extract_pdf_info

    assert not extract_pdf_info(pdf).unmapped_cid
    res = bare_extract(pdf, Options(min_extracted_size=0, min_output_size=1))
    assert res.tier == "pdf" and "Hello embedded world" in res.text


def test_identity_h_cid_to_gid_stream_indirection():
    "/CIDToGIDMap as a stream: gid = BE16 at offset CID*2 in the stream."
    # remap: cid 1 -> gid of 'H' (0x29), cid 2 -> 'i' (0x4A)
    gid_stream = b"\x00\x00" + (0x29).to_bytes(2, "big") + (0x4A).to_bytes(2, "big")
    extra = (
        b"11 0 obj << /Length " + str(len(gid_stream)).encode() + b" >>\n"
        b"stream\n" + gid_stream + b"\nendstream\nendobj\n"
    )
    ttf = _mini_ttf()
    objs = (
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /Emb"
        b" /Encoding /Identity-H /DescendantFonts [7 0 R] >> endobj\n"
        b"7 0 obj << /Type /Font /Subtype /CIDFontType2"
        b" /FontDescriptor 8 0 R /CIDToGIDMap 11 0 R >> endobj\n"
        b"8 0 obj << /Type /FontDescriptor /FontFile2 10 0 R >> endobj\n"
        b"10 0 obj << /Length " + str(len(ttf)).encode() + b" >>\n"
        b"stream\n" + ttf + b"\nendstream\nendobj\n"
        b"6 0 obj << /Font << /CID 5 0 R >> >> endobj\n" + extra
    )
    pdf = _wrap_stream(b"BT /CID 12 Tf <00010002> Tj ET", objs)
    assert extract_pdf_text(pdf) == "Hi"


def test_identity_h_without_fontfile_keeps_labeled_tier():
    """A descendant WITHOUT /FontFile2 stays genuinely unmappable: the
    pdf_no_text_map tier must survive the recovery path."""
    objs = (
        b"5 0 obj << /Type /Font /Subtype /Type0 /BaseFont /NoProg"
        b" /Encoding /Identity-H /DescendantFonts [7 0 R] >> endobj\n"
        b"7 0 obj << /Type /Font /Subtype /CIDFontType2"
        b" /FontDescriptor 8 0 R >> endobj\n"
        b"8 0 obj << /Type /FontDescriptor /FontName /NoProg >> endobj\n"
        b"6 0 obj << /Font << /CID 5 0 R >> >> endobj\n"
    )
    pdf = _wrap_stream(b"BT /CID 12 Tf <00480065> Tj ET", objs)
    from trafilatura_spark.kernel.pdftext import extract_pdf_info

    info = extract_pdf_info(pdf)
    assert info.text == "" and info.unmapped_cid
    assert bare_extract(pdf, Options(min_extracted_size=0)).tier == "pdf_no_text_map"


def test_ttf_cmap_format12_and_collision_determinism():
    "Format-12 grouped coverage; gid collisions keep the LOWEST codepoint."
    import struct

    from trafilatura_spark.kernel.pdftext import _ttf_unicode_by_gid

    # two groups: U+0041..U+0043 -> gid 5..7, U+1F600 -> gid 5 (collides)
    groups = struct.pack(">3I", 0x41, 0x43, 5) + struct.pack(">3I", 0x1F600, 0x1F600, 5)
    sub = struct.pack(">2H2I", 12, 0, 16 + len(groups), 0) + struct.pack(">I", 2) + groups
    cmap = struct.pack(">2H", 0, 1) + struct.pack(">2HI", 3, 10, 12) + sub
    header = struct.pack(">I4H", 0x00010000, 1, 16, 0, 0)
    record = b"cmap" + struct.pack(">3I", 0, 28, len(cmap))
    by_gid = _ttf_unicode_by_gid(header + record + cmap)
    assert by_gid == {5: "A", 6: "B", 7: "C"}
    assert _ttf_unicode_by_gid(b"\x00\x01\x00\x00") == {}  # truncated: no crash


# --- round-6: V5 owner-password path + SASLprep ------------------------------

def build_aes256_owner_pdf(r: int, content: bytes, user_pw: bytes, owner_pw: bytes) -> bytes:
    "AES-256 /V 5 PDF with BOTH /U+/UE (user) and /O+/OE (owner) legs."
    import hashlib

    from trafilatura_spark.kernel.aescipher import cbc_encrypt
    from trafilatura_spark.kernel.pdftext import _hash_2b

    key = bytes(range(100, 132))
    uvsalt, uksalt = b"UVALSLT8", b"UKEYSLT8"
    ovsalt, oksalt = b"OVALSLT8", b"OKEYSLT8"
    if r == 6:
        uhash = _hash_2b(user_pw, uvsalt)
        uik = _hash_2b(user_pw, uksalt)
    else:
        uhash = hashlib.sha256(user_pw + uvsalt).digest()
        uik = hashlib.sha256(user_pw + uksalt).digest()
    u = uhash + uvsalt + uksalt
    ue = cbc_encrypt(uik, b"\x00" * 16, key)
    if r == 6:
        ohash = _hash_2b(owner_pw, ovsalt, u[:48])
        oik = _hash_2b(owner_pw, oksalt, u[:48])
    else:
        ohash = hashlib.sha256(owner_pw + ovsalt + u[:48]).digest()
        oik = hashlib.sha256(owner_pw + oksalt + u[:48]).digest()
    o = ohash + ovsalt + oksalt
    oe = cbc_encrypt(oik, b"\x00" * 16, key)
    body = _aes_stream(key, zlib.compress(content))
    return (
        b"%PDF-2.0\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Filter /Standard /V 5 /R " + str(r).encode() + b" /Length 256"
        b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >> /StmF /StdCF /StrF /StdCF"
        b" /P " + str(_P).encode()
        + b" /O <" + o.hex().encode() + b">"
        + b" /OE <" + oe.hex().encode() + b">"
        + b" /U <" + u.hex().encode() + b">"
        + b" /UE <" + ue.hex().encode() + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 5 0 R >>\n%%EOF\n"
    )


def test_aes256_owner_password_opens_r6_and_r5():
    """The V5 OWNER leg (VERDICT r5): /O hashes include the full 48-byte
    /U string as trailing input, /OE unwraps the same file key.  A job
    supplying only the owner password must open the file."""
    from trafilatura_spark.kernel.pdftext import decryption_key

    for r in (6, 5):
        pdf = build_aes256_owner_pdf(r, CONTENT, b"userpw", b"ownerpw")
        assert decryption_key(pdf) is None                  # empty pw: neither leg
        assert decryption_key(pdf, b"wrong") is None
        for pw in (b"userpw", b"ownerpw"):
            crypt = decryption_key(pdf, pw)
            assert crypt is not None and crypt.aes and len(crypt.key) == 32, (r, pw)
            assert "Hello PDF world." in extract_pdf_text(pdf, crypt)


def test_aes256_saslprep_normalizes_non_ascii_password():
    """ISO 32000-2 7.6.4.3.3: AES-256 passwords run through SASLprep
    (RFC 4013) before hashing.  A writer that hashed the prepped form
    must accept the user's un-normalized input: U+FB01 (fi ligature)
    NFKC-folds to 'fi', U+00A0 (NBSP) maps to SPACE, U+00AD (soft
    hyphen) maps to nothing."""
    from trafilatura_spark.kernel.pdftext import decryption_key

    # writer hashed the SASLprep output; reader gets the raw forms
    pdf = build_aes256_pdf(6, CONTENT, password="fi le".encode("utf-8"))
    for supplied in ("\ufb01 le", "fi le", "fi\u00ad le", "fi\u00a0le"):
        crypt = decryption_key(pdf, supplied)
        assert crypt is not None, repr(supplied)
        assert "Hello PDF world." in extract_pdf_text(pdf, crypt)
    assert decryption_key(pdf, "f i le") is None  # still a real check
    # owner leg gets the same treatment
    pdf2 = build_aes256_owner_pdf(6, CONTENT, b"user", "stra\u00dfe".encode("utf-8"))
    assert decryption_key(pdf2, "stra\u00dfe") is not None  # NFKC keeps sharp s


def test_saslprep_profile_semantics():
    "RFC 4013 unit pins: mapping, normalization, prohibition, bidi."
    import pytest

    from trafilatura_spark.kernel.pdftext import _saslprep

    assert _saslprep("I\u00adX") == "IX"          # soft hyphen dropped (B.1)
    assert _saslprep("a\u00a0b") == "a b"         # NBSP -> space (C.1.2)
    assert _saslprep("\u2168") == "IX"            # NFKC (roman numeral nine)
    assert _saslprep("password") == "password"    # ASCII unchanged
    with pytest.raises(ValueError):
        _saslprep("a\x07b")                       # control char (C.2.1)
    with pytest.raises(ValueError):
        _saslprep("\u0627a")                      # RandALCat + LCat mix
    assert _saslprep("\u0627\u0628") == "\u0627\u0628"  # pure RTL ok


def test_rc4_encrypted_identity_h_fontfile_recovers():
    """The Identity-H FontFile2 recovery path must decrypt the embedded
    font program with its OWN per-object key (same rule as ToUnicode
    streams) before parsing the TrueType cmap."""
    key = _file_key(3, 128)
    ttf = _mini_ttf()
    content = b"BT /CID 12 Tf <" + _gid_hex("Hi") + b"> Tj ET"
    body = _rc4_ref(_obj_key(key, 4, 0), zlib.compress(content))
    prog = _rc4_ref(_obj_key(key, 10, 0), ttf)
    pdf = (
        b"%PDF-1.5\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R\n"
        b"   /Resources << /Font << /CID 5 0 R >> >> >> endobj\n"
        b"4 0 obj << /Filter /FlateDecode /Length " + str(len(body)).encode() + b" >>\n"
        b"stream\n" + body + b"\nendstream\nendobj\n"
        b"5 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H"
        b" /DescendantFonts [7 0 R] >> endobj\n"
        b"7 0 obj << /Type /Font /Subtype /CIDFontType2"
        b" /FontDescriptor 8 0 R /CIDToGIDMap /Identity >> endobj\n"
        b"8 0 obj << /Type /FontDescriptor /FontFile2 10 0 R >> endobj\n"
        b"10 0 obj << /Length " + str(len(prog)).encode() + b" >>\n"
        b"stream\n" + prog + b"\nendstream\nendobj\n"
        b"9 0 obj << /Filter /Standard /V 2 /R 3 /Length 128 /P " + str(_P).encode()
        + b" /O <" + _O.hex().encode() + b"> /U <" + _u_value(key, 3).hex().encode()
        + b"> >> endobj\n"
        b"trailer << /Root 1 0 R /Encrypt 9 0 R /ID [<" + _ID0.hex().encode()
        + b"> <" + _ID0.hex().encode() + b">] >>\n%%EOF\n"
    )
    assert extract_pdf_text(pdf) == "Hi"
