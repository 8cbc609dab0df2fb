"""Hostile-data replica of the correctness gate for the EVENT/ORDER
gates — the temporal/analytics siblings of test_hostile_gate_suite
(which covers documents/embeddings): null timestamps, null keys, null
types, duplicate ids, same-instant pairs, negative and extreme values.

Null ordering is where engines fork hardest (Spark sorts NULLS FIRST
ascending, DuckDB NULLS LAST; SQL joins never match NULL keys while
window partitions group them), so every temporal operator needs an
explicit null contract, pinned here by running the REAL
queries()-vs-oracle_sql() pairs over adversarial tables with the
driver's own value-hash compare. A gate joins a suite here by the
``hostile=`` field of its record in `__spark_entry__.GATES` ("events"
or "order")."""

import os
import random
from datetime import datetime, timedelta

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

EVENT_GATES, ORDER_GATES = (
    [name for name, gate in E.GATES.items() if gate.hostile == suite]
    for suite in ("events", "order"))

TYPES = ["click", "view", "purchase", "signup", "error", None]


def _t(h, s=0):
    return datetime(2024, 1, 1) + timedelta(hours=h, seconds=s)


def _hostile_events(n=600, seed=31):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ts = _t(i % 72, (i * 37) % 3600)
        et = TYPES[i % len(TYPES)]
        uid = i % 25
        val = round(rng.uniform(-50, 50), 2)
        if i in (7, 103, 217):
            ts = None                  # null timestamp
        if i in (11, 109):
            uid = None                 # null user key
        if i == 13:
            val = None                 # null value
        if i == 17:
            val = 1e15                 # extreme value
        if i == 19:
            val = -1e15
        # hostile JSON payloads: valid, malformed, missing field,
        # wrong-typed field, nested, empty string, null
        props = [f'{{"k": {i % 97}}}', "not json {", '{"other": 1}',
                 '{"k": "str"}', '{"k": {"nested": 1}}', "",
                 None][i % 7]
        rows.append((i, ts, uid, et, val, props))
        if i == 23:                    # duplicate event_id, same instant
            rows.append((i, ts, uid, "purchase", 1.0, None))
        if i == 29:                    # same-instant click+purchase pair
            rows.append((10000 + i, ts, uid, "purchase", 2.0, None))
            rows.append((20000 + i, ts, uid, "click", 3.0, None))
    return pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])


def _hostile_orders(n=400, seed=41):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        d = _t((i * 7) % 500)
        status = "OFP"[i % 3]
        price = round(rng.uniform(1, 9999), 2)
        if i in (5, 105):
            d = None                   # null order date
        # NOTE: no duplicate o_orderkey rows — MERGE/SCD2 operate on a
        # KEYED base table (primary-key contract in their docstrings);
        # duplicate-key CHANGES are in contract and covered by the
        # synthesized changeset, duplicate-key bases are not.
        rows.append((i, i % 50, status, price, d, f"{i % 5}-PRIO"))
    return pd.DataFrame(rows, columns=[
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"])


@pytest.fixture(scope="module")
def hostile_ev_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("hostile_ev"))
    spark.createDataFrame(
        _hostile_events(),
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    ).repartition(4).write.parquet(os.path.join(d, "events.parquet"))
    spark.createDataFrame(
        _hostile_orders(),
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, "
        "o_orderpriority string"
    ).repartition(3).write.parquet(os.path.join(d, "orders.parquet"))
    return d


def _run_suite(spark, sf_dir, names):
    from tools.check_correctness import check_gate

    con = duckdb.connect()
    for t in ("events", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
    failures = {name: problems for name in names
                if (problems := check_gate(spark, con, sf_dir, name))}
    assert not failures, "\n".join(
        f"{n}: {'; '.join(m)}" for n, m in failures.items())


def test_event_gates_on_hostile_tables(spark, hostile_ev_dir):
    _run_suite(spark, hostile_ev_dir, EVENT_GATES)


def test_order_gates_on_hostile_tables(spark, hostile_ev_dir):
    _run_suite(spark, hostile_ev_dir, ORDER_GATES)
