"""Crypto functions: MySQL-compatible AES_ENCRYPT/AES_DECRYPT, SHA1/SHA2.

Reference parity (pkg/sql/plan/function/func_binary.go):
  - generateAESKey (:12240): MySQL key folding — XOR every key byte into a
    16/32-byte buffer at ``i % keyLen``. A key of exactly keyLen bytes folds
    to itself.
  - getAESMode (:12360): default mode ``aes-128-ecb`` (PKCS7); ``aes-256-cbc``
    takes an explicit IV (>= 16 bytes, first 16 used). NULL on bad input
    (MySQL behavior), enforced in AESEncrypt/AESDecrypt (:12381+).
  - sha1/sha2: function_id.go:1203,1372 ("sha" aliases sha1).

Spark-first design: Spark ships JVM-side ``aes_encrypt``/``aes_decrypt``
expressions (ECB/CBC/GCM, PKCS padding) — we wrap them rather than running
Python crypto per row. Two MySQL-compat shims are needed:
  1. key folding happens driver-side (keys are literals in practice; a
     column-valued key would need a UDF — not part of the reference's tests),
  2. Spark's CBC output *prepends* the 16-byte IV to the ciphertext while
     MySQL/the reference return the raw ciphertext — so we strip the prefix
     on encrypt and re-prepend the caller's IV on decrypt.
Both shims are pure Column expressions; everything stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from matrixone_spark.functions import col_of

_MODES = {
    "aes-128-ecb": (16, False),
    "aes-256-cbc": (32, True),
}


def fold_key(key: "str | bytes", key_len: int) -> bytes:
    """MySQL AES key derivation (func_binary.go:12240 generateAESKey)."""
    if key_len not in (16, 32):
        raise ValueError("unsupported aes key length")
    kb = key.encode("utf-8") if isinstance(key, str) else bytes(key)
    out = bytearray(key_len)
    for i, b in enumerate(kb):
        out[i % key_len] ^= b
    return bytes(out)


def _as_bin(x) -> Column:
    return col_of(x).cast("binary")


def aes_encrypt(
    data, key: "str | bytes", mode: str = "aes-128-ecb", iv: "bytes | str | None" = None
) -> Column:
    """AES_ENCRYPT(str, key [, iv]) — binary ciphertext, MySQL layout."""
    key_len, needs_iv = _MODES[mode.lower()]
    folded = fold_key(key, key_len)
    if not needs_iv:
        return F.aes_encrypt(_as_bin(data), F.lit(folded), F.lit("ECB"), F.lit("PKCS"))
    if iv is None:
        return F.lit(None).cast("binary")  # MySQL: NULL when IV missing
    ivb = iv.encode("utf-8") if isinstance(iv, str) else bytes(iv)
    if len(ivb) < 16:
        return F.lit(None).cast("binary")
    out = F.aes_encrypt(
        _as_bin(data), F.lit(folded), F.lit("CBC"), F.lit("PKCS"), F.lit(ivb[:16])
    )
    # Spark prepends the IV; MySQL/the reference return ciphertext only.
    # substring on binary keeps binary type; skip the 16-byte prefix.
    return F.substring(out, 17, 2**31 - 1)


def aes_decrypt(
    data, key: "str | bytes", mode: str = "aes-128-ecb", iv: "bytes | str | None" = None
) -> Column:
    """AES_DECRYPT(crypt_str, key [, iv]) — binary plaintext (cast to string
    for text), NULL on wrong key/corrupt input via try-wrapping."""
    key_len, needs_iv = _MODES[mode.lower()]
    folded = fold_key(key, key_len)
    col = _as_bin(data)
    if not needs_iv:
        return F.try_aes_decrypt(col, F.lit(folded), F.lit("ECB"), F.lit("PKCS"))
    if iv is None:
        return F.lit(None).cast("binary")
    ivb = iv.encode("utf-8") if isinstance(iv, str) else bytes(iv)
    if len(ivb) < 16:
        return F.lit(None).cast("binary")
    # Re-prepend the caller's IV so Spark's CBC decrypt finds it where it
    # expects (start of the payload).
    payload = F.concat(F.lit(ivb[:16]), col)
    return F.try_aes_decrypt(payload, F.lit(folded), F.lit("CBC"), F.lit("PKCS"))


def sha1(x) -> Column:
    """SHA1/SHA (function_id.go:1372-1373)."""
    return F.sha1(_as_bin(x))


def sha2(x, bits: int = 256) -> Column:
    """SHA2(str, bits) — 224/256/384/512; 0 means 256 (MySQL)."""
    return F.sha2(_as_bin(x), 256 if bits == 0 else bits)
