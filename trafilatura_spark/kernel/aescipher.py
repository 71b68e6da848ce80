"""AES-CBC for the PDF security handler (kernel/pdftext.py) via ctypes to the libcrypto hashlib
links.  Without libcrypto HAS_AES is False and pdftext labels AES-encrypted files 'pdf_encrypted'."""

from ctypes import POINTER, byref, c_char_p, c_int, c_void_p, create_string_buffer

from .cdecompress import _load

_crypto = _load("libcrypto.so.3", "libcrypto.so")
try:  # None (no library) has no EVP_* attributes either
    _crypto.EVP_CIPHER_CTX_new.restype = _crypto.EVP_get_cipherbyname.restype = c_void_p
    _crypto.EVP_CIPHER_CTX_free.argtypes = [c_void_p]
    _crypto.EVP_CipherInit_ex.argtypes = [c_void_p, c_void_p, c_void_p, c_char_p, c_char_p, c_int]
    _crypto.EVP_CIPHER_CTX_set_padding.argtypes = [c_void_p, c_int]
    _crypto.EVP_CipherUpdate.argtypes = [c_void_p, c_char_p, POINTER(c_int), c_char_p, c_int]
    _CIPHERS = {n // 8: _crypto.EVP_get_cipherbyname(b"aes-%d-cbc" % n) for n in (128, 192, 256)}
except AttributeError:
    _crypto = None
HAS_AES = _crypto is not None and all(_CIPHERS.values())


def _cbc(key: bytes, iv: bytes, data: bytes, encrypt: int) -> bytes:
    "One unpadded EVP AES-CBC pass: whole blocks only, a ragged tail is dropped."
    if not HAS_AES or len(key) not in _CIPHERS or len(iv) != 16:
        raise ValueError("needs libcrypto, a 16/24/32-byte key and a 16-byte IV")
    ctx, out, outl = _crypto.EVP_CIPHER_CTX_new(), create_string_buffer(len(data) + 16), c_int(0)
    try:
        ok = ctx and _crypto.EVP_CipherInit_ex(ctx, _CIPHERS[len(key)], None, key, iv, encrypt) == 1
        ok = ok and _crypto.EVP_CIPHER_CTX_set_padding(ctx, 0) == 1
        if not (ok and _crypto.EVP_CipherUpdate(ctx, out, byref(outl), data, len(data)) == 1):
            raise ValueError("EVP AES-CBC failed")
        return out.raw[: outl.value]
    finally:
        _crypto.EVP_CIPHER_CTX_free(ctx)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    "AES-CBC, NO padding (len must be a multiple of 16)."
    return _cbc(key, iv, data, 1)


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    "AES-CBC, NO padding removal; truncates a ragged tail block."
    return _cbc(key, iv, data, 0)


def pdf_stream_decrypt(key: bytes, data: bytes) -> bytes:
    "AESV2/AESV3 stream: 16-byte IV + CBC ciphertext + PKCS#7 pad; b'' if too short."
    plain = cbc_decrypt(key, data[:16], data[16:]) if len(data) >= 32 else b""
    pad = plain[-1] if plain else 0
    return plain[:-pad] if 1 <= pad <= 16 and plain[-pad:] == bytes([pad]) * pad else plain
