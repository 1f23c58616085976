"""Pipeline E2 (field control) physical-invariant tests
(SURVEY.md §5): control in (0,1), per-player influence normalized to
max 1, full grid covered; the exact cell sum against its decimal
reference."""

from __future__ import annotations

import random
import struct

import pytest
from pyspark.sql import functions as F

from big_data_bowl_spark.functions.rounding import rhu
from big_data_bowl_spark.plans.e2_control import (
    attach_kinematics,
    field_control_surface,
    nano_sum,
    player_influence,
)
from big_data_bowl_spark.sources.io import field_grid


@pytest.fixture(scope="module")
def players(spark):
    rows = [
        # player_id, px, py, s, dir_deg, team
        (1, 50.0, 20.0, 5.0, 45.0, "home"),
        (2, 55.0, 25.0, 8.0, 180.0, "home"),
        (3, 60.0, 26.0, 3.0, 270.0, "away"),
        (4, 62.0, 30.0, 0.0, 0.0, "away"),  # stationary edge case
    ]
    df = spark.createDataFrame(
        rows, "player_id int, px double, py double, s double, dir_deg double, team string"
    )
    return df.transform(attach_kinematics)


def test_kinematics_invariants(players):
    rows = players.collect()
    for r in rows:
        assert 4.0 <= r.radius <= 10.0
        assert 0.0 <= r.s_ratio <= 1.0
        assert r.dist_from_ball >= 0.0
        # projected location is within half a second of travel
        assert abs(r.mu_x - r.px) <= r.s * 0.5 + 1e-9


def test_influence_normalized_to_one(spark, players):
    grid = field_grid(spark)
    inf = player_influence(players, grid)
    per_player = inf.groupBy("player_id").agg(
        F.max("influence").alias("mx"), F.count(F.lit(1)).alias("cells")
    )
    for r in per_player.collect():
        assert r.mx == pytest.approx(1.0, abs=1e-9)
        assert r.cells == 120 * 54


def test_control_surface_bounds_and_coverage(spark, players):
    grid = field_grid(spark)
    surface = field_control_surface(player_influence(players, grid))
    rows = surface.collect()
    assert len(rows) == 120 * 54  # every cell, exactly once
    assert all(0.0 < r.control < 1.0 for r in rows)


def test_home_dominated_cell_reads_high(spark, players):
    # reference sign convention: home influence is NEGATED and the
    # sigmoid 1/(1+exp(x)) decreases, so control ~ 1 near home players
    grid = field_grid(spark)
    surface = field_control_surface(player_influence(players, grid))
    near_home = surface.filter(
        (F.abs(F.col("grid_x") - 50.0) < 1.0)
        & (F.abs(F.col("grid_y") - 20.0) < 1.0)
    )
    assert all(r.control > 0.5 for r in near_home.collect())


def test_nano_sum_is_bit_identical_to_the_decimal_sum(spark):
    """``nano_sum`` (long sum of 1e-9 units, one division) returns the
    same double, bit for bit, as the ``decimal(28,9)`` sum the DuckDB
    oracles use, on 9-decimal influences of both signs: random ones,
    rhu-rounded exact half-way inputs, grid extremes and groups that
    cancel to zero."""
    rng = random.Random(13)
    rows = []
    for g in range(400):  # random 9-dp values, 1..40 per group
        for _ in range(rng.randint(1, 40)):
            rows.append((g, rng.randint(-10**9, 10**9) / 1e9))
    for g in range(400, 500):  # half-way inputs, rounded by rhu below
        for _ in range(rng.randint(1, 40)):
            rows.append((g, rng.choice((-1, 1))
                         * (2 * rng.randint(0, 10**9) + 1) * 0.5e-9))
    edge = (0.5, -0.5, 1.0, -1.0, 1e-9, -1e-9, 0.999999999, -0.999999999)
    rows += [(500 + i, v) for i, v in enumerate(edge)]
    rows += [(600, v) for v in edge] + [(601, v) for v in (0.3, -0.1, -0.2)]
    rows += [(602, rng.randint(0, 10**9) / 1e9) for _ in range(5000)]
    df = spark.createDataFrame(rows, "g int, raw double").select(
        "g", rhu(F.col("raw")).alias("v")
    )
    got = df.groupBy("g").agg(
        nano_sum(F.col("v")).alias("fast"),
        F.sum(F.col("v").cast("decimal(28,9)")).cast("double").alias("ref"),
    ).collect()
    assert len(got) == 511
    bits = lambda x: struct.pack(">d", x)  # noqa: E731
    assert [r.g for r in got if bits(r.fast) != bits(r.ref)] == []
