"""Scalar expression helpers shared across operators.

Everything here compiles to built-in Catalyst expressions (no UDFs) and is
designed for cross-engine determinism against a SQL oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def ratio_round(num: Column, den: Column, decimals: int) -> Column:
    """Half-up-rounded num/den via exact integer arithmetic (num, den ≥ 0).

    ``(num*2*10^d + den) div (2*den) / 10^d`` — engine-agnostic: no
    round-of-double anywhere, so Spark and any SQL oracle agree bit-for-bit.
    (Floating ``round()`` of a quotient is NOT portable: Spark rounds the
    shortest decimal repr half-up, DuckDB rounds the binary value.)

    The quotient uses Spark's IntegralDivide (the SQL ``div`` operator),
    NOT ``floor(a / b)``: ``/`` on longs is double division, which silently
    rounds once ``num*2*10^d`` exceeds 2^53 — at real corpus scale (e.g.
    shingle-intersection counts) that diverges from an integer ``//`` oracle.
    """
    scale = 10**decimals
    den_safe = F.greatest(den.cast("long"), F.lit(1))
    q = F.call_function("div", num.cast("long") * (2 * scale) + den_safe, den_safe * 2)
    return (q / F.lit(float(scale))).cast("double")


def sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal — the one escaping rule for text
    spliced into SQL expressions.

    With the default ``spark.sql.parser.escapedStringLiterals=false`` the
    parser unescapes backslash sequences and drops a lone ``\\`` before any
    other character, so a regex's ``\\d``, ``\\s`` or ``\\.`` would reach
    the JVM without its backslash. Every backslash is therefore doubled and
    every single quote escaped; nothing else needs escaping.
    """
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as a backticked Spark SQL identifier (spaces and dots stay
    part of the name)."""
    return "`" + name.replace("`", "``") + "`"


# --------------------------------------------------------------------------
# Pure-Python XXH64 — driver-side twin of Spark's xxhash64(string) so
# index-serving paths can resolve hash buckets WITHOUT launching a Spark
# job (the stored BM25 index resolves its query terms' partitions on the
# driver). The algorithm is Yann Collet's public XXH64 specification;
# Spark's xxhash64 applies it to the UTF-8 bytes with seed 42 and returns
# the result as a SIGNED long. tests/test_properties.py cross-checks this
# implementation against Spark's JVM expression over the corpus
# vocabulary and adversarial strings — the serving path may only trust it
# because that test pins equality.
# --------------------------------------------------------------------------

_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxhash64_long(s: str | bytes, seed: int = 42) -> int:
    """XXH64 of ``s`` (UTF-8 for str) as Spark's SIGNED long."""
    data = s.encode("utf-8") if isinstance(s, str) else s
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXP1 + _XXP2) & _M64
        v2 = (seed + _XXP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XXP1) & _M64
        while i + 32 <= n:
            v1 = (_rotl64((v1 + int.from_bytes(data[i:i + 8], "little") * _XXP2) & _M64, 31) * _XXP1) & _M64
            v2 = (_rotl64((v2 + int.from_bytes(data[i + 8:i + 16], "little") * _XXP2) & _M64, 31) * _XXP1) & _M64
            v3 = (_rotl64((v3 + int.from_bytes(data[i + 16:i + 24], "little") * _XXP2) & _M64, 31) * _XXP1) & _M64
            v4 = (_rotl64((v4 + int.from_bytes(data[i + 24:i + 32], "little") * _XXP2) & _M64, 31) * _XXP1) & _M64
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXP2) & _M64, 31) * _XXP1) & _M64
            h = (h * _XXP1 + _XXP4) & _M64
    else:
        h = (seed + _XXP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        k = (_rotl64((int.from_bytes(data[i:i + 8], "little") * _XXP2) & _M64, 31) * _XXP1) & _M64
        h = (_rotl64(h ^ k, 27) * _XXP1 + _XXP4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl64(h ^ ((int.from_bytes(data[i:i + 4], "little") * _XXP1) & _M64), 23) * _XXP2 + _XXP3) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XXP5) & _M64), 11) * _XXP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h
