"""Arrow-vectorized pandas UDFs for Presto functions with no Spark-builtin
expression (SURVEY.md §7.3 "then pandas UDF/UDAFs").

These are the *slow path* by design — each is a genuine expression gap:
word_stem (WordStemFunction.java), normal_cdf / inverse_normal_cdf
(MathFunctions.java statistical CDFs), normalize (StringFunctions.java
NFC/NFD/NFKC/NFKD). Everything batch-transfers via Arrow; no per-row Python.
"""

from __future__ import annotations

import math
import unicodedata

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VOWELS = set("aeiou")


def _stem_word(w: str) -> str:
    """Simplified Porter stemmer (step-1-style suffix stripping).

    Parity target is WordStemFunction.java's English behavior for common
    suffixes; full Porter is out of scope (documented simplification).
    """
    if w is None:
        return None
    s = w.lower()
    for suf, rep in (
        ("sses", "ss"),
        ("ies", "i"),
        ("ational", "ate"),
        ("tional", "tion"),
        ("ment", ""),
        ("ness", ""),
        ("ing", ""),
        ("ed", ""),
    ):
        if s.endswith(suf) and len(s) - len(suf) >= 2:
            s = s[: len(s) - len(suf)] + rep
            break
    if s.endswith("s") and not s.endswith("ss") and len(s) > 3:
        s = s[:-1]
    return s


@F.pandas_udf(T.StringType())
def word_stem(words: pd.Series) -> pd.Series:
    return words.map(lambda w: _stem_word(w) if w is not None else None)


@F.pandas_udf(T.DoubleType())
def normal_cdf(mean: pd.Series, sd: pd.Series, value: pd.Series) -> pd.Series:
    z = (value.astype(float) - mean.astype(float)) / (sd.astype(float) * math.sqrt(2.0))
    return pd.Series(np.vectorize(math.erf)(z.to_numpy()) * 0.5 + 0.5)


def _inv_norm(p: float) -> float:
    """Acklam's rational approximation to the normal quantile (~1e-9 rel)."""
    if not 0.0 < p < 1.0:
        return math.nan
    a = (-3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
         1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00)
    b = (-5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
         6.680131188771972e01, -1.328068155288572e01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
         -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00)
    d = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
         3.754408661907416e00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1
        )
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1
    )


@F.pandas_udf(T.DoubleType())
def inverse_normal_cdf(mean: pd.Series, sd: pd.Series, p: pd.Series) -> pd.Series:
    base = p.map(_inv_norm)
    return mean.astype(float) + sd.astype(float) * base


@F.pandas_udf(T.StringType())
def unicode_normalize_nfc(s: pd.Series) -> pd.Series:
    return s.map(lambda v: unicodedata.normalize("NFC", v) if v is not None else None)


@F.pandas_udf(T.StringType())
def unicode_normalize(s: pd.Series, form: pd.Series) -> pd.Series:
    """Presto normalize(string, form): NFC/NFD/NFKC/NFKD (StringFunctions.java
    normalize; form names match NormalizationForm). Invalid form raises like
    Presto's INVALID_FUNCTION_ARGUMENT."""

    def one(v, f):
        if v is None or f is None:
            return None
        fu = f.upper()
        if fu not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(f"Normalization form must be one of [NFD, NFC, NFKD, NFKC]: {f}")
        return unicodedata.normalize(fu, v)

    return pd.Series([one(v, f) for v, f in zip(s, form)])


def register_python_udfs(spark: SparkSession) -> None:
    spark.udf.register("word_stem", word_stem)
    register_hmac_udfs(spark)
    register_hash_codec_udfs(spark)
    spark.udf.register("normal_cdf", normal_cdf)
    spark.udf.register("inverse_normal_cdf", inverse_normal_cdf)
    spark.udf.register("normalize_nfc", unicode_normalize_nfc)
    spark.udf.register("normalize_unicode", unicode_normalize)
    # bare Presto name carries the 2-arg (string, form) signature
    # (StringFunctions.java normalize); the 1-arg NFC default lives at
    # normalize_nfc since Spark UDF names can't overload by arity
    spark.udf.register("normalize", unicode_normalize)


# --- HMAC family (HmacFunctions.java: hmac_md5/sha1/sha256/sha512) — no
#     Spark builtin; Arrow-batched pandas UDFs over Python's hmac/hashlib.


def _make_hmac(algo: str):
    import hashlib
    import hmac as _hmac

    @F.pandas_udf(T.BinaryType())
    def fn(data: pd.Series, key: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if d is None or k is None
                else _hmac.new(bytes(k), bytes(d), getattr(hashlib, algo)).digest()
                for d, k in zip(data, key)
            ]
        )

    return fn


def register_hmac_udfs(spark: SparkSession) -> None:
    for algo in ("md5", "sha1", "sha256", "sha512"):
        spark.udf.register(f"hmac_{algo}", _make_hmac(algo))


# --- FNV hashes (VarbinaryFunctions.java fnv1_32/fnv1_64/fnv1a_32/fnv1a_64)
#     and IEEE754 codecs (to/from_ieee754_32/64). Pure-SQL is blocked by
#     ANSI-mode overflow on 64-bit wrap-around multiplication, so these run
#     as Arrow-batched pandas UDFs (per-blob byte loops, no JVM round trip
#     per row).

_FNV64_PRIME = 0x100000001B3
_FNV64_OFFSET = 0xCBF29CE484222325
_FNV32_PRIME = 0x01000193
_FNV32_OFFSET = 0x811C9DC5


def _fnv(data: bytes, offset: int, prime: int, mask: int, a_variant: bool) -> int:
    h = offset
    for b in data:
        if a_variant:
            h = ((h ^ b) * prime) & mask
        else:
            h = ((h * prime) & mask) ^ b
    return h


def _fnv_udf(offset: int, prime: int, bits: int, a_variant: bool):
    mask = (1 << bits) - 1
    sign = 1 << (bits - 1)

    @F.pandas_udf(T.LongType())
    def fn(payload: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            h = _fnv(bytes(v), offset, prime, mask, a_variant)
            # two's complement into the signed range (Presto returns BIGINT)
            return h - (1 << bits) if bits == 64 and h >= sign else h

        return payload.map(one)

    return fn


@F.pandas_udf(T.BinaryType())
def to_ieee754_64(x: pd.Series) -> pd.Series:
    import struct

    return x.map(lambda v: None if v is None else struct.pack(">d", float(v)))


@F.pandas_udf(T.DoubleType())
def from_ieee754_64(v: pd.Series) -> pd.Series:
    import struct

    return v.map(lambda b: None if b is None else struct.unpack(">d", bytes(b))[0])


@F.pandas_udf(T.BinaryType())
def to_ieee754_32(x: pd.Series) -> pd.Series:
    import struct

    return x.map(lambda v: None if v is None else struct.pack(">f", float(v)))


@F.pandas_udf(T.DoubleType())
def from_ieee754_32(v: pd.Series) -> pd.Series:
    import struct

    return v.map(lambda b: None if b is None else float(struct.unpack(">f", bytes(b))[0]))


@F.pandas_udf(T.BinaryType())
def _spooky32_udf(payload: pd.Series) -> pd.Series:
    from sensql_presto_spark.functions.spooky_murmur import spooky_hash_v2_32

    return payload.map(lambda v: None if v is None else spooky_hash_v2_32(bytes(v)))


@F.pandas_udf(T.BinaryType())
def _spooky64_udf(payload: pd.Series) -> pd.Series:
    from sensql_presto_spark.functions.spooky_murmur import spooky_hash_v2_64

    return payload.map(lambda v: None if v is None else spooky_hash_v2_64(bytes(v)))


@F.pandas_udf(T.BinaryType())
def _murmur128_udf(payload: pd.Series) -> pd.Series:
    from sensql_presto_spark.functions.spooky_murmur import murmur3_x64_128

    return payload.map(lambda v: None if v is None else murmur3_x64_128(bytes(v)))


def register_hash_codec_udfs(spark: SparkSession) -> None:
    spark.udf.register("spooky_hash_v2_32", _spooky32_udf)
    spark.udf.register("spooky_hash_v2_64", _spooky64_udf)
    spark.udf.register("murmur3_x64_128", _murmur128_udf)
    spark.udf.register("fnv1_64", _fnv_udf(_FNV64_OFFSET, _FNV64_PRIME, 64, False))
    spark.udf.register("fnv1a_64", _fnv_udf(_FNV64_OFFSET, _FNV64_PRIME, 64, True))
    spark.udf.register("fnv1_32", _fnv_udf(_FNV32_OFFSET, _FNV32_PRIME, 32, False))
    spark.udf.register("fnv1a_32", _fnv_udf(_FNV32_OFFSET, _FNV32_PRIME, 32, True))
    spark.udf.register("to_ieee754_64", to_ieee754_64)
    spark.udf.register("from_ieee754_64", from_ieee754_64)
    spark.udf.register("to_ieee754_32", to_ieee754_32)
    spark.udf.register("from_ieee754_32", from_ieee754_32)
