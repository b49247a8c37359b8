"""Semantic tests for the round-4b TPC-H shapes (__spark_entry__.py).

Each exercises the Spark-first reformulation of a correlated-subquery
pattern on a tiny hand-computed fixture, so oracle parity failures can be
localized to semantics vs canonicalization.  Reference semantics:
TPC-H Q2/Q13/Q21 as published (Transaction Processing Performance
Council, public spec); adapted per the module comment (no partsupp, no
commit/receipt dates).
"""

import datetime
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

TS = datetime.datetime


def _write(df, d, name):
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/{name}.parquet")


@pytest.fixture()
def q21_dir(spark, tmp_work):
    """Fixture:  O1 (F): S1 late, S2 on time  -> S1 waits.
                 O2 (F): S1 late, S2 late     -> nobody (two late suppliers).
                 O3 (F): S1 late, sole supplier -> nobody (single-supplier).
                 O4 (O): S1 late, S2 on time  -> nobody (not finalized)."""
    orders = spark.createDataFrame(
        [
            (1, "F", TS(1996, 1, 1)),
            (2, "F", TS(1996, 1, 1)),
            (3, "F", TS(1996, 1, 1)),
            (4, "O", TS(1996, 1, 1)),
        ],
        "o_orderkey long, o_orderstatus string, o_orderdate timestamp",
    )
    late, ontime = TS(1996, 6, 1), TS(1996, 1, 15)
    li = spark.createDataFrame(
        [
            (1, 101, late),
            (1, 102, ontime),
            (2, 101, late),
            (2, 102, late),
            (3, 101, late),
            (4, 101, late),
            (4, 102, ontime),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate timestamp",
    )
    supp = spark.createDataFrame(
        [(101, "SUPP_A"), (102, "SUPP_B")], "s_suppkey long, s_name string"
    )
    _write(orders, tmp_work, "orders")
    _write(li, tmp_work, "lineitem")
    _write(supp, tmp_work, "supplier")
    return tmp_work


def test_waiting_suppliers_only_sole_late_on_multi_supplier_f_orders(
    spark, q21_dir
):
    rows = entrymod.q_waiting_suppliers(spark, q21_dir).collect()
    assert [(r.s_name, r.numwait) for r in rows] == [("SUPP_A", 1)]


def test_waiting_suppliers_scans_lineitem_once(spark):
    """The EXISTS/NOT-EXISTS reformulation must not self-join lineitem:
    exactly one scan of the fact table in the physical plan."""
    df = entrymod.q_waiting_suppliers(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 1


@pytest.fixture()
def q2_dir(spark, tmp_work):
    """P1 shipped by S1 (bal 10) and S2 (bal 20, twice) -> S2 only, once.
    P2 shipped by S1 and S3 (both bal 10) -> tie, both kept.
    P3 too small, P4 shipped only from ASIA -> excluded."""
    part = spark.createDataFrame(
        [
            (1, "p one", "LARGE", 45),
            (2, "p two", "LARGE", 40),
            (3, "p three", "LARGE", 10),
            (4, "p four", "LARGE", 50),
        ],
        "p_partkey long, p_name string, p_type string, p_size int",
    )
    supp = spark.createDataFrame(
        [(1, "S1", 0, 10.0), (2, "S2", 0, 20.0), (3, "S3", 1, 10.0), (4, "S4", 2, 99.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    nation = spark.createDataFrame(
        [(0, "N_EU0", 0), (1, "N_EU1", 0), (2, "N_AS", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    region = spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey int, r_name string"
    )
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (1, 2), (2, 1), (2, 3), (3, 1), (4, 4)],
        "l_partkey long, l_suppkey long",
    )
    for df, name in [
        (part, "part"), (supp, "supplier"), (nation, "nation"),
        (region, "region"), (li, "lineitem"),
    ]:
        _write(df, tmp_work, name)
    return tmp_work


def test_min_cost_supplier_window_extremum_with_ties(spark, q2_dir):
    rows = entrymod.q_min_cost_supplier(spark, q2_dir).collect()
    got = sorted((r.p_partkey, r.s_name) for r in rows)
    assert got == [(1, "S2"), (2, "S1"), (2, "S3")]


def test_order_count_distribution_keeps_zero_order_customers(spark, tmp_work):
    """Q13's LEFT join predicate lives in the join condition: a customer
    whose only orders are URGENT must land in the c_count=0 bucket, not
    vanish (the WHERE-clause placement would drop them)."""
    cust = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "c_custkey long, c_nationkey int"
    )
    orders = spark.createDataFrame(
        [
            (10, 1, "1-URGENT"),
            (11, 1, "3-MEDIUM"),
            (12, 2, "1-URGENT"),
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    )
    _write(cust, tmp_work, "customer")
    _write(orders, tmp_work, "orders")
    rows = entrymod.q_order_count_distribution(spark, tmp_work).collect()
    got = sorted((r.c_count, r.custdist) for r in rows)
    # cust 1 -> one non-urgent order; cust 2 and 3 -> zero
    assert got == [(0, 2), (1, 1)]


def test_top_supplier_single_fact_scan_no_global_window(spark):
    """Q15's scalar MAX must come from the checkpointed supplier-
    cardinality aggregate (both join branches read the checkpoint, so the
    lineitem scan runs once and is not in the query plan), never from a
    single-partition global window over the fact."""
    df = entrymod.q_top_supplier(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 2
    assert "lineitem" not in plan
    assert "Window" not in plan
