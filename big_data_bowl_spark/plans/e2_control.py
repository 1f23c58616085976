"""Pipeline E2: field-control surface (Field Control.R:226-378).

The reference computes, for one play frame, each player's "zone of
influence" (a bivariate Gaussian centred on the player's projected
location, shaped by speed and heading) over a 120x54 field grid, then
sums signed per-team influence per cell and squashes with a sigmoid.
It does this with two nested ``group_split -> map_dfr`` R loops
(Field Control.R:357-361, 375-378) — per-player, per-frame, one R
process.

Here both loops are one declarative plan:

    players, hash-partitioned by frame     (the only shuffle)
      x broadcast(grid)                   (J5 — grid is ~6.5k rows)
      -> closed-form Gaussian (F12)       (pure codegen, no stats lib)
      -> per-player max-normalize (W6)    (window over the grid cells)
      -> signed team sum per cell (A1)    (in place, same partitioning)
      -> sigmoid (F7)

Float-determinism: per-player normalized influence is rounded to 9
decimals and summed exactly (``nano_sum``, order-independent), so the
DuckDB oracle's ``decimal(28,9)`` sum reproduces the surface
bit-for-bit (see queries/base.py policy).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import (
    bivariate_gaussian_pdf,
    euclidean,
    next_location,
    radius_of_influence,
    sigmoid,
    speed_ratio,
    velocity_components,
)
from ..functions.rounding import rhu

BALL_X = 60.0
BALL_Y = 26.65  # field mid (160/3 / 2), Field Control.R / all coverages.R


def attach_kinematics(players: DataFrame) -> DataFrame:
    """U2 chain: velocity (F6) -> ball distance (F5) -> influence radius
    (F8/F9) -> speed ratio -> projected location (F11).

    Expects columns: px, py, s, dir_deg. Adds v_x, v_y, v_theta,
    dist_from_ball, radius, s_ratio, mu_x, mu_y. All narrow
    projections — no shuffle (Field Control.R:226-292).
    """
    v_x, v_y, v_theta = velocity_components(F.col("s"), F.col("dir_deg"))
    players = players.withColumns(
        {"v_x": v_x, "v_y": v_y, "v_theta": v_theta}
    )
    players = players.withColumn(
        "dist_from_ball",
        euclidean(F.col("px"), F.col("py"), F.lit(BALL_X), F.lit(BALL_Y)),
    )
    players = players.withColumns(
        {
            "radius": radius_of_influence(F.col("dist_from_ball")),
            "s_ratio": speed_ratio(F.col("s")),
        }
    )
    mu_x, mu_y = next_location(
        F.col("px"), F.col("py"), F.col("v_x"), F.col("v_y")
    )
    return players.withColumns({"mu_x": mu_x, "mu_y": mu_y})


def player_influence(
    players: DataFrame,
    grid: DataFrame,
    player_key: str = "player_id",
    frame_cols: "tuple[str, ...] | None" = None,
) -> DataFrame:
    """ZOI per player: cross join the broadcast grid, evaluate the
    closed-form Gaussian and normalize each player's surface to max 1
    (Field Control.R:344-347).

    ``frame_cols`` name the frame a player belongs to. By default they
    are the BDB play keys ``gameId``/``playId`` when ``players`` has
    them; an input without frame columns is one frame. The normalize
    window is keyed on ``(*frame_cols, player_key)``.

    The players are hash-partitioned by the frame before the grid
    expansion, and a broadcast nested-loop join keeps that
    partitioning. So the normalize window and
    ``field_control_surface``'s per-cell sum, whose ``group_cols``
    include the frame columns, run in place: only the players
    shuffle, never the players x grid cells. An input without frame
    columns is partitioned by ``player_key`` instead, and its per-cell
    sum exchanges partial sums, one row per cell and partition.

    The partition count is the session's shuffle-partition target
    (``shuffle_partition_target``), set explicitly: AQE's byte-sized
    coalescing sees only the players table, not the grid-sized
    expansion after the exchange, and would run it in one task.
    """
    from ..sources.io import shuffle_partition_target

    if frame_cols is None:
        frame_cols = [c for c in ("gameId", "playId") if c in players.columns]
    n_parts = shuffle_partition_target(players.sparkSession)
    cells = players.repartition(
        n_parts, *(frame_cols or [player_key])
    ).crossJoin(F.broadcast(grid))
    pdf = bivariate_gaussian_pdf(
        px=F.col("grid_x"),
        py=F.col("grid_y"),
        mu_x=F.col("mu_x"),
        mu_y=F.col("mu_y"),
        v_theta=F.col("v_theta"),
        radius=F.col("radius"),
        s_ratio=F.col("s_ratio"),
    )
    cells = cells.withColumn("influence_raw", pdf)
    w = Window.partitionBy(*frame_cols, player_key)
    return cells.withColumn(
        "influence",
        rhu(F.col("influence_raw") / F.max("influence_raw").over(w)),
    )


def nano_sum(col: Column) -> Column:
    """Exact sum of 9-decimal values: each value is scaled to its
    integer count of 1e-9 units, the counts are summed as longs and the
    total is divided by 1e9 once. For values on the 1e-9 grid this is
    bit-identical to a ``decimal(28,9)`` sum cast to double (the
    long-to-double cast is exact below 2^53 and the division is
    correctly rounded), with no decimal aggregation buffer."""
    return F.sum(F.round(col * F.lit(1e9)).cast("long")) / F.lit(1e9)


def field_control_surface(
    influence: DataFrame,
    team_col: str = "team",
    home: str = "home",
    group_cols: "tuple[str, ...]" = ("grid_x", "grid_y"),
) -> DataFrame:
    """Team control per cell: sign-flip away influence (P12), exact
    sum per ``group_cols`` (A1, ``nano_sum``) and sigmoid squash (F7)
    (Field Control.R:362-370). The output has ``group_cols`` and
    ``control``.

    The reference's sigmoid is 1/(1+exp(x)), decreasing in x, and it
    negates HOME influence, so control near 1 means home-dominated.
    Both quirks are reproduced here and only here; a multi-frame
    caller puts its frame columns first in ``group_cols``, and an
    input from ``player_influence`` is then summed without a shuffle.
    """
    signed = influence.withColumn(
        "signed_influence",
        F.when(F.col(team_col) == home, -F.col("influence")).otherwise(
            F.col("influence")
        ),
    )
    per_cell = signed.groupBy(*group_cols).agg(
        nano_sum(F.col("signed_influence")).alias("control_sum")
    )
    return per_cell.select(
        *group_cols,
        rhu(sigmoid(F.col("control_sum"))).alias("control"),
    )
