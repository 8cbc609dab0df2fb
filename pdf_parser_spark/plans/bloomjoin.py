"""Bloom-filter-pruned joins: shrink the fact-side shuffle before a
selective join.

The 100 TB problem: joining a huge fact table against a *selective*
dimension subset (urgent orders, one customer segment, yesterday's
partition) shuffles the full fact table even though most rows can never
match. Spark's own runtime row-level filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects exactly
this optimization when statistics allow; this module is the explicit,
always-available form — the same build/probe split Spark's
``InjectRuntimeFilter`` rule performs:

1. **Build** (dim side): hash every dim key with ``num_hashes``
   independent JVM-side ``xxhash64(key, seed)`` functions, reduce to
   the DISTINCT set of bit positions (bounded by ``n_bits``), and fold
   them into one driver-side bitmap.  Spark's runtime bloom aggregates
   its build-side filter to the driver the same way; the build side of
   a runtime filter is by definition the small side, and the distinct
   cap means at most ``n_bits`` rows (1 M positions = 8 MB of longs)
   ever reach the driver.  ``max_build_rows`` guards the contract: a
   build side too big for a useful bloom raises instead of silently
   collecting.
2. **Probe** (fact side): the same ``xxhash64`` expressions run
   JVM-side over the fact keys (whole-stage codegen); only the final
   bit test crosses into Python — an Arrow-batched pandas UDF doing a
   vectorized NumPy gather on the broadcast bitmap.  The probe is a
   narrow ``Filter`` BELOW the join's ``Exchange``, so false-negative-
   free pruning happens before any shuffle bytes move.
3. **Join**: the ordinary equi-join runs on the pruned fact side.
   Bloom false positives are eliminated by the join itself, so the
   result is EXACTLY the plain join's result — which is what the
   correctness oracle checks.

Reference parity: the reference engine has no runtime filters at all —
its joins are single-process hash joins (see
``pdf_extraction/compare_extractors.py`` driver loops); this operator
exists for the 100 TB tier where the fact-side shuffle dominates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.pyworker import python_task

DEFAULT_N_BITS = 1 << 20
DEFAULT_NUM_HASHES = 5
# Mirrors the spirit of spark.sql.optimizer.runtime.bloomFilter
# .creationSideThreshold: beyond this the build side is not "small".
DEFAULT_MAX_BUILD_ROWS = 4_000_000


def _bit_positions(key: F.Column, num_hashes: int, n_bits: int) -> list[F.Column]:
    """The shared hash family: pmod(xxhash64(key, seed), n_bits) per seed.

    Build and probe use these same JVM-side expressions, so bit
    positions agree by construction (no Python reimplementation of
    xxhash64 anywhere)."""
    return [
        F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(n_bits)).cast("long")
        for seed in range(num_hashes)
    ]


def bloom_bitmap(dim: DataFrame, key_col: str,
                 num_hashes: int = DEFAULT_NUM_HASHES,
                 n_bits: int = DEFAULT_N_BITS,
                 max_build_rows: int = DEFAULT_MAX_BUILD_ROWS) -> bytes:
    """Build the broadcastable bitmap from the dim side's key set.

    The distinct() bounds what reaches the driver at min(num_hashes *
    n_dim_keys, n_bits) longs — the collect here is the driver
    aggregation every broadcast runtime filter performs, not a data
    collect (positions only, never rows)."""
    n_build = dim.count()
    if n_build > max_build_rows:
        raise ValueError(
            f"bloom build side has {n_build} rows > max_build_rows="
            f"{max_build_rows}; a bloom this dense has no pruning power — "
            "use a plain shuffle join (or raise n_bits)")
    positions = (
        dim.select(F.explode(F.array(
            *_bit_positions(F.col(key_col), num_hashes, n_bits))).alias("pos"))
        .distinct()
    )
    bitmap = np.zeros(n_bits // 8, dtype=np.uint8)
    pos = np.fromiter((r["pos"] for r in positions.collect()), dtype=np.int64)
    if pos.size:
        np.bitwise_or.at(bitmap, pos >> 3,
                         np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))
    return bitmap.tobytes()


def bloom_prune(fact: DataFrame, bitmap: bytes, key_col: str,
                num_hashes: int = DEFAULT_NUM_HASHES,
                n_bits: int = DEFAULT_N_BITS) -> DataFrame:
    """Filter ``fact`` to rows whose key MIGHT be in the bloom (no false
    negatives).  Hashing is JVM codegen; Python sees only the hashed
    longs and does a vectorized bitmap gather per Arrow batch."""
    spark = fact.sparkSession
    bc = spark.sparkContext.broadcast(bitmap)
    hash_cols = [c.alias(f"_bh{i}") for i, c in enumerate(
        _bit_positions(F.col(key_col), num_hashes, n_bits))]
    hash_names = [f"_bh{i}" for i in range(num_hashes)]
    schema = fact.schema

    @python_task
    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bm = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            keep = np.ones(len(pdf), dtype=bool)
            for name in hash_names:
                pos = pdf[name].to_numpy(dtype=np.int64)
                keep &= (bm[pos >> 3]
                         & np.left_shift(np.uint8(1),
                                         (pos & 7).astype(np.uint8))) != 0
            yield pdf.loc[keep, [f.name for f in schema.fields]]

    return fact.select("*", *hash_cols).mapInPandas(probe, schema)


def bloom_prune_join(fact: DataFrame, dim: DataFrame,
                     fact_key: str, dim_key: str,
                     num_hashes: int = DEFAULT_NUM_HASHES,
                     n_bits: int = DEFAULT_N_BITS,
                     max_build_rows: int = DEFAULT_MAX_BUILD_ROWS,
                     how: str = "inner") -> DataFrame:
    """Equi-join ``fact ⋈ dim`` with the fact side bloom-pruned before
    its shuffle.  Result is EXACTLY ``fact.join(dim, ...)`` — false
    positives survive the probe but die in the join — so correctness
    gates compare against the plain join."""
    bitmap = bloom_bitmap(dim, dim_key, num_hashes=num_hashes,
                          n_bits=n_bits, max_build_rows=max_build_rows)
    pruned = bloom_prune(fact, bitmap, fact_key,
                         num_hashes=num_hashes, n_bits=n_bits)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)
