"""Portable deterministic hashing, identical across Spark / Python / DuckDB.

The reference dedup subsystem keys everything on xxhash64/sha1
(src/datatrove/utils/hashing.py:11-52). xxhash has no DuckDB equivalent, so
this engine standardizes on a *portable 60-bit hash*:

    h60(s) = int(md5(s)[:15 hex chars], 16)        in [0, 2^60)

- Spark:  conv(substring(md5(s),1,15),16,10)::long   (JVM, codegen)
- Python: int(hashlib.md5(s).hexdigest()[:15],16)
- DuckDB: ('0x'||substr(md5(s),1,15))::bigint

MinHash permutations use the 31-bit universal-hash family
h_k(x) = (a_k*(x mod M31) + b_k) mod M31, M31 = 2^31-1, with (a_k, b_k)
derived deterministically from k via h60 so all engines agree. Every product
stays below 2^62, so the Python/numpy kernel and the DuckDB oracle compute it
in plain int64. The reference's default family is the 64-bit one over
2^61-1 (minhash.py:49-58).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def py_hash60(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hash60(c: Column) -> Column:
    """Spark column: portable 60-bit hash of a string column."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_hash60(expr: str) -> str:
    """DuckDB SQL fragment computing the same hash of `expr`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


MERSENNE_31 = (1 << 31) - 1


def perm31_coeffs(k: int) -> tuple[int, int]:
    """(a, b) for the 31-bit universal-hash family: a in [1, M31), b in
    [0, M31). With inputs reduced mod M31, a*h + b < 2^62 fits a signed
    int64 in every engine — pure long arithmetic, no decimal/hugeint.
    (The reference ships both 32- and 64-bit hash configs,
    tests/utils.py:9-31; this is the 32-bit family.)"""
    a = py_hash60(f"minhash31_a_{k}") % (MERSENNE_31 - 1) + 1
    b = py_hash60(f"minhash31_b_{k}") % MERSENNE_31
    return a, b


def sql_perm31_hash(h_expr: str, k: int) -> str:
    a, b = perm31_coeffs(k)
    return f"((({h_expr}) % {MERSENNE_31}) * {a} + {b}) % {MERSENNE_31}"
