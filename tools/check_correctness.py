"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its
oracle_sql() twin on DuckDB (views pre-registered for the sf tables),
then compares row count, column names, and an order-insensitive value
hash (columns sorted by name, rows sorted, values canonicalized).
``check_gate`` is that check for one gate; tools/driver_sim.py and the
hostile-table test suites call it too. ``compare_frames`` is its compare
half, for a caller that brings its own oracle SQL.

Usage: python tools/check_correctness.py [sf_dir] [only_query ...]
       JSON_OUT=path python tools/check_correctness.py [sf_dir]
           additionally writes a driver-format per-gate verdict file
           ({name: {rows_match, schema_match, hash_match, spark_rows,
           oracle_rows, err}}).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon_frame(df: pd.DataFrame) -> pd.DataFrame:
    # Driver parity: the harness's _canon sorts the RAW columns before
    # any value canonicalization, so a column of Python lists / numpy
    # arrays raises `TypeError: unhashable type` there. Sorting raw
    # first makes that failure reproduce locally (r3: the old
    # stringify-then-sort order masked it and centroid_by_label failed
    # only on the driver). Queries round floats in-plan to 6dp, so the
    # raw sort is stable across engines.
    df = df[sorted(df.columns)].copy()
    df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    for c in df.columns:
        s = df[c]
        if np.issubdtype(s.dtype, np.floating):
            df[c] = s.round(6).map(lambda v: "nan" if pd.isna(v) else f"{v:.6f}")
        elif np.issubdtype(s.dtype, np.integer):
            df[c] = s.astype("int64").astype(str)
        else:
            df[c] = s.astype(str)
    return df.reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    canon = canon_frame(df)
    payload = canon.to_csv(index=False).encode()
    return hashlib.md5(payload).hexdigest()


@functools.cache
def _registry() -> tuple[dict, dict]:
    import __spark_entry__ as E

    return E.queries(), E.oracle_sql()


def check_gate(spark, con, sf_dir: str, name: str,
               verdict: dict | None = None) -> list[str]:
    """Run gate ``name`` on Spark at ``sf_dir`` and its oracle on the
    DuckDB connection ``con``; return the problems found (empty: pass).

    Both engines must run; then `compare_frames` compares the results.
    ``verdict``, if given, is filled with the per-gate JSON_OUT record
    (rows/schema/hash flags, row counts, err).
    """
    rec = verdict if verdict is not None else {}
    rec.update(rows_match=False, schema_match=False, hash_match=False,
               spark_rows=None, oracle_rows=None, err=None)
    queries, oracles = _registry()
    try:
        got = queries[name](spark, sf_dir).toPandas()
        rec["spark_rows"] = len(got)
    except Exception as exc:  # noqa: BLE001
        rec["err"] = f"spark error: {exc}"
        return [rec["err"]]
    if name not in oracles:
        rec["err"] = "no oracle"
        return [rec["err"]]
    try:
        want = con.sql(oracles[name]).df()
        rec["oracle_rows"] = len(want)
    except Exception as exc:  # noqa: BLE001
        rec["err"] = f"duckdb error: {str(exc)[:200]}"
        return [rec["err"]]
    return compare_frames(got, want, rec)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame,
                   rec: dict) -> list[str]:
    """Compare a Spark result ``got`` with its oracle result ``want``;
    return the problems found (empty: equal). In order: row counts,
    column names, then the value hash, naming the first differing cell
    on a hash mismatch. ``rec`` receives the rows/schema/hash flags and,
    if the canonicalizer fails, the error."""
    problems = []
    rec["rows_match"] = len(got) == len(want)
    if not rec["rows_match"]:
        problems.append(f"rows {len(got)} != {len(want)}")
    rec["schema_match"] = sorted(got.columns) == sorted(want.columns)
    if not rec["schema_match"]:
        problems.append(f"cols {sorted(got.columns)} != {sorted(want.columns)}")
        return problems
    try:
        rec["hash_match"] = value_hash(got) == value_hash(want)
    except TypeError as exc:
        # the canonicalizer this replicates dies the same way on
        # unhashable (array) columns — record it as the error
        rec["err"] = f"canonicalizer error: {exc}"
        return problems + [rec["err"]]
    if not rec["hash_match"]:
        problems.append("value-hash mismatch")
        a, b = canon_frame(got), canon_frame(want)
        if len(a) == len(b):
            for c in a.columns:
                bad = a[c] != b[c]
                if bad.any():
                    i = int(np.argmax(bad.to_numpy()))
                    problems.append(
                        f"first diff col={c} row={i}: "
                        f"spark={a[c].iloc[i]!r} duck={b[c].iloc[i]!r}")
                    break
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from pdf_parser_spark.generator import table_path
    from pdf_parser_spark.session import get_spark

    spark = get_spark("check-correctness", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf_dir, t)
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    n_pass = n_fail = 0
    verdicts: dict[str, dict] = {}
    for name in _registry()[0]:
        if only and name not in only:
            continue
        t0 = time.monotonic()
        verdicts[name] = {}
        problems = check_gate(spark, con, sf_dir, name, verdicts[name])
        dt = time.monotonic() - t0
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} ({dt:.1f}s)")
            n_fail += 1
        else:
            print(f"pass  {name}: rows={verdicts[name]['spark_rows']} ({dt:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    out_path = os.environ.get("JSON_OUT")
    if out_path:
        with open(out_path, "w", encoding="utf-8") as f:
            json.dump(verdicts, f, indent=1)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
