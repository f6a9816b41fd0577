"""The self-asserted check-row primitive (``registry.check_rows`` /
``oracle_checks``): a failing condition raises one error that names
the query, the failing check and the observed detail; the oracle it
pairs with runs in DuckDB and pins every row to n_mismatch=0, ok=1."""

from __future__ import annotations

import pytest

from mathorcup_spark import oracle
from mathorcup_spark.ml.checks import MEMBER_CHECKS
from mathorcup_spark.operators.sampling import SEEDED_MEMBERS
from mathorcup_spark.registry import check_rows, oracle_checks
from tests.conftest import SF_DIR


def test_check_rows_failure_names_query_check_and_detail(spark):
    checks = [
        ("fit_ok", 3, {"finite": True}),
        ("recall_floor", 10, {"recall >= 0.25": False, "nonempty": True}),
    ]
    with pytest.raises(RuntimeError) as err:
        check_rows(spark, "demo_query", checks, {"recall": 0.125})
    msg = str(err.value)
    assert msg.startswith("demo_query check failures:")
    assert "'recall_floor': ['recall >= 0.25']" in msg
    assert "fit_ok" not in msg and "nonempty" not in msg
    assert "observed: {'recall': 0.125}" in msg


def test_check_rows_passing_returns_pinned_rows(spark):
    df = check_rows(spark, "demo_query", [("a", 3, {"x": True}), ("b", 0, {})])
    assert df.dtypes == [
        ("check", "string"), ("n_keys", "bigint"),
        ("n_mismatch", "bigint"), ("ok", "bigint"),
    ]
    assert sorted(tuple(r) for r in df.collect()) == [("a", 3, 0, 1), ("b", 0, 0, 1)]


def test_oracle_checks_runs_in_duckdb_and_pins_ok():
    con = oracle.connect(SF_DIR)
    sql = oracle_checks(
        [("scaler", MEMBER_CHECKS["scaler"][1]),
         ("exact_n", SEEDED_MEMBERS["exact_n"][1])]
    )
    cols, rows = oracle.run(con, sql)
    assert cols == ["check", "n_keys", "n_mismatch", "ok"]
    n_cust = con.execute("SELECT count(*) FROM customer").fetchone()[0]
    n_orders = con.execute("SELECT count(*) FROM orders").fetchone()[0]
    assert sorted(rows) == sorted(
        [("scaler", n_cust, 0, 1), ("exact_n", min(500, n_orders), 0, 1)]
    )
