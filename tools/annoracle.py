"""Driver-side codebook reproduction for the k-means ANN oracles.

`similarity.kmeans_codebook` derives its codebook OUTSIDE Spark's SQL
surface (a Lloyd loop on the driver over an xxhash64-ordered sample),
which is why the k-means gates were rows-only checks. This module
closes that gap: it reproduces the byte-identical codebook with no
Spark at all — a pandas parquet read, a pure-Python twin of Spark's
`xxhash64` for the sample order, and the SAME `lloyd_spherical`
function the engine calls — so `__spark_entry__.oracle_sql()` can embed
the centroids as SQL literals and DuckDB can value-check assignment and
probe-k search like any other gate.

The xxhash64 twin implements XXH64 (seed 42, one 8-byte little-endian
lane) exactly as Spark's `XxHash64.hashLong`; verified against
`F.xxhash64` on reference values in tests/test_corpus.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

_M = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxhash64_long(v: int, seed: int = 42) -> int:
    """Spark-compatible xxhash64 of a BIGINT column value. ``v`` is
    coerced to a Python int first: pandas .map hands over np.int64, and
    under NumPy >= 2 (NEP 50) mixing that with Python ints above 2^63
    raises OverflowError instead of silently promoting."""
    v = int(v)
    h = (seed + _P5 + 8) & _M
    k1 = (v & _M) * _P2 & _M
    k1 = _rotl(k1, 31) * _P1 & _M
    h ^= k1
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    h ^= h >> 33
    h = h * _P2 & _M
    h ^= h >> 29
    h = h * _P3 & _M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def kmeans_centroids(parquet_path: str, n_centroids: int = 16,
                     iters: int = 10, sample_cap: int = 4096,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> list:
    """The engine's codebook, reproduced without Spark: same filter,
    same (xxhash64(id), id) sample order, same cap, same Lloyd code."""
    from pdf_parser_spark.corpus.similarity import lloyd_spherical

    df = pd.read_parquet(parquet_path, columns=[id_col, vec_col])
    df = df[df[vec_col].map(lambda v: v is not None and len(v) > 0)]
    order = df[id_col].map(xxhash64_long)
    df = (df.assign(_h=order)
          .sort_values(["_h", id_col], kind="mergesort")
          .head(sample_cap))
    x = np.array([np.asarray(v, dtype=np.float64) for v in df[vec_col]])
    return lloyd_spherical(x, n_centroids, iters)


def centroid_values_sql(cents: list) -> str:
    """`(VALUES (0, [..]), (1, [..]) ...) AS t(centroid_id, cvec)` with
    repr-precision floats (exact float64 round trip)."""
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(v)) for v in c)}])"
        for i, c in enumerate(cents))
    return f"(VALUES {rows}) AS t(centroid_id, cvec)"
