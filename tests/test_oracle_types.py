"""Registry lint: no oracle may project a HUGEINT-typed column.

DuckDB's SUM over any integer type returns HUGEINT, which surfaces
through Arrow as decimal128(38,0). The driver's correctness hash is
type-sensitive: that decimal float-normalizes ("123.0") while Spark's
int64 stays "123", so the hash mismatches even when every VALUE is
identical. This single defect class produced the only red driver rows
in rounds 8 AND 9 (t25/t25b/t31/t33), each time with the builder's
value-level gate green — so the lint below rejects the class
statically, before a query can ever reach the driver.

Scale-0 decimals are the precise signature: integer SUMs that are
cast (CAST(... AS BIGINT/DOUBLE)) plan as int64/double, and the
registry's only legitimate decimal outputs (a21/t26 histogram bin
bounds) carry scale 1 and float-normalize identically on both sides
(driver-green in r9).

Also unit-tests tools/check_oracle.py's typed compare, including a
regression on the exact pre-fix t31 oracle shape.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from decimal import Decimal

import duckdb
import pytest

from tools.check_oracle import TABLES, type_class, typed_mismatches

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{tbl}.parquet')"
        )
    return con


def hugeint_cols(con, oracle_sql: str) -> list[str]:
    """Output columns of the query that plan as scale-0 decimals
    (DuckDB's Arrow surface for HUGEINT, i.e. an un-cast integer
    aggregate). LIMIT 0 keeps this a planning-only check."""
    sql = oracle_sql.strip().rstrip(";")
    tb = con.execute(f"SELECT * FROM ({sql}) __lint_q LIMIT 0").arrow()
    bad = []
    for f in tb.schema:
        t = f.type
        if str(t).startswith("decimal") and t.scale == 0:
            bad.append(f.name)
    return bad


def test_no_oracle_projects_hugeint(con):
    from big_data_bowl_spark.queries import REGISTRY

    offenders = {}
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        cols = hugeint_cols(con, spec.oracle)
        if cols:
            offenders[name] = cols
    assert not offenders, (
        f"oracles projecting HUGEINT (un-cast integer SUM — the driver "
        f"hash rejects decimal128(38,0) vs Spark int64; wrap in "
        f"CAST(... AS BIGINT)): {offenders}"
    )


def test_lint_flags_the_prefix_t31_oracle(con):
    """The exact oracle shape that shipped red in r8/r9 must be caught."""
    pre_fix = """
    WITH firsts AS (
      SELECT user_id, date_trunc('hour', MIN(CAST(ts AS TIMESTAMP)))
               AS first_hour
      FROM events GROUP BY user_id),
    hourly AS (
      SELECT first_hour AS hour, COUNT(*) AS n_new_users
      FROM firsts GROUP BY 1)
    SELECT hour, n_new_users,
           SUM(n_new_users) OVER (ORDER BY hour
                                  ROWS UNBOUNDED PRECEDING)
             AS cumulative_reach
    FROM hourly
    """
    assert hugeint_cols(con, pre_fix) == ["cumulative_reach"]
    # and the bare grouped integer SUM (t25's pre-fix shape)
    assert hugeint_cols(
        con,
        "SELECT user_id, SUM(CASE WHEN value > 5.0 THEN 1 ELSE 0 END) "
        "AS n_high FROM events GROUP BY user_id",
    ) == ["n_high"]
    # while the shipped CAST fix is clean
    assert (
        hugeint_cols(
            con,
            "SELECT user_id, CAST(SUM(CASE WHEN value > 5.0 THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_high FROM events "
            "GROUP BY user_id",
        )
        == []
    )


def test_type_class_partitions():
    # bool is an int subclass — must class as bool, not int
    assert type_class(True) == "bool"
    assert type_class(7) == "int"
    # float and Decimal share "real" (driver float-normalizes both:
    # a21/t26's decimal(22,1) bins vs Spark double were driver-green)
    assert type_class(1.5) == "real"
    assert type_class(Decimal("1.5")) == "real"
    assert type_class(Decimal("123")) == "real"  # ≠ "int" — the bug class
    assert type_class(None) is None
    assert type_class(datetime(2024, 1, 1)) == "datetime"
    assert (
        type_class(datetime(2024, 1, 1, tzinfo=timezone.utc))
        == "datetime[tz]"
    )
    assert type_class([1, None, 2]) == "list<int>"
    assert type_class([1.0, Decimal("2")]) == "list<real>"


def test_typed_mismatch_catches_hugeint_vs_int64():
    scols = ["user_id", "n_high"]
    srows = [(1, 10), (2, 3)]  # Spark: int64
    orows = [(1, Decimal("10")), (2, Decimal("3"))]  # DuckDB: HUGEINT
    bad = typed_mismatches(srows, scols, orows, scols)
    assert bad == [("n_high", ["int"], ["real"])]
    # same values as plain ints on both sides: clean
    assert typed_mismatches(srows, scols, srows, scols) == []
    # decimal-vs-float is NOT a mismatch (driver tolerates it)
    f = [(1, 1.5)]
    d = [(1, Decimal("1.5"))]
    assert typed_mismatches(f, ["a", "b"], d, ["a", "b"]) == []
    # nulls on one side carry no class
    assert typed_mismatches([(1, None)], ["a", "b"], d, ["a", "b"]) == []
