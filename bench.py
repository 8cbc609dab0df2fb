"""Benchmark harness: times the gates named in ``__spark_entry__.BENCH`` —
the records registered with ``bench=True``, in registration order — at
$SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:

    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: min sec, ...},
     "draws": {name: {"median": sec, "min": sec, "n": draws}, ...},
     "loadavg": {"before": [1m, 5m, 15m], "after": [1m, 5m, 15m]},
     "sf": ..., "n_turns": ..., "cpus": ..., "turns_per_sec": ...}

Each draw writes ``queries()[name](spark, sf_dir)`` — the query the
correctness gate checks — to a ``noop`` sink, which computes every output
column and collects nothing. The headline (BASELINE.json:metric) is the
turns/sec of layout_extract_a003. N vs 4N core scaling: tools/scaling_bench.py.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as E  # noqa: E402
from pdf_parser_spark.generator import (  # noqa: E402
    sf_from_dir, table_path, transcripts_path,
)
from pdf_parser_spark.session import get_spark  # noqa: E402

# Converge-then-stop sampling per query: the first run of each query
# shape pays JIT/codegen + python-worker warm-up (the same markdown query
# measured 4.9s -> 3.4s -> 2.7s -> 2.4s across consecutive runs), and the
# host shows intermittent steal. Sample until the two fastest draws agree
# within 15%, at most MAX_DRAWS times: stable queries stop at 2 draws.
MAX_DRAWS = 4


def _draw(spark, sf_dir: str, build) -> float:
    t0 = time.monotonic()
    build(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _drop_persisted(spark) -> None:
    # the iterative operators (pagerank/HITS/kmeans/near-dedup)
    # localCheckpoint their state; without unpersisting between queries
    # those RDDs accumulate across the suite and later queries pay their
    # GC/memory pressure (measured: the same query 2-4x slower late in
    # the suite than standalone)
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.catalog.clearCache()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_from_dir(sf_dir)
    spark = get_spark("pdf-parser-bench", cpus=cpus)
    n_turns = spark.read.parquet(transcripts_path(sf)).count()
    qs = E.queries()
    # Warm the JVM + python workers outside the timed region.
    E.entry(spark).write.format("noop").mode("overwrite").save()

    load_before = [round(x, 2) for x in os.getloadavg()]
    samples: dict[str, list[float]] = {}
    for name in E.BENCH:
        s = samples[name] = []
        while len(s) < MAX_DRAWS:
            s.append(_draw(spark, sf_dir, qs[name]))
            if len(s) >= 2 and sorted(s)[1] <= min(s) * 1.15:
                break
        _drop_persisted(spark)
    load_after = [round(x, 2) for x in os.getloadavg()]

    timings = {n: round(min(s), 3) for n, s in samples.items()}
    result = {
        "metric": "extraction+corpus suite wall time",
        "value": round(sum(timings.values()), 3), "unit": "sec",
        "queries": timings,
        "draws": {n: {"median": round(statistics.median(s), 3),
                      "min": timings[n], "n": len(s)}
                  for n, s in samples.items()},
        "loadavg": {"before": load_before, "after": load_after},
        "sf": sf, "n_turns": n_turns, "cpus": int(cpus),
        "turns_per_sec": round(n_turns / timings["layout_extract_a003"], 1),
    }
    fixture = {t: os.path.basename(p) for t in ("documents", "embeddings")
               if (p := table_path(sf_dir, t)).endswith("_nonrep.parquet")}
    if fixture:
        result["fixture"] = fixture
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
