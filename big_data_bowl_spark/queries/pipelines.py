"""End-to-end pipeline queries: E2 field control + U2 transform chain.

E2 condenses Field Control.R:226-378 onto the star schema: a
deterministic "players" frame is derived from `events` (integer-modulo
attributes so both engines compute bit-identical doubles), then the
full ZOI pipeline runs as ONE declarative plan — broadcast-grid cross
join, closed-form Gaussian, per-player window normalize, per-cell
signed decimal sum, sigmoid.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from ..plans.e2_control import (
    attach_kinematics,
    field_control_surface,
    player_influence,
)
from ..sources.io import field_grid
from .base import register, rhu, rhu_sql, t

TWO_PI = 2.0 * math.pi

# Deterministic player attributes from integer columns (exact in both
# engines): ~0.1% of events become "players on the field".
_PLAYERS_SQL = """
  SELECT event_id AS player_id,
         CAST(event_id % 121 AS DOUBLE) AS px,
         CAST(user_id % 53 AS DOUBLE) AS py,
         CAST(event_id % 13 AS DOUBLE) AS s,
         CAST((event_id * 7) % 360 AS DOUBLE) AS dir_deg,
         CASE WHEN user_id % 2 = 0 THEN 'home' ELSE 'away' END AS team
  FROM events WHERE event_id % 997 = 0
"""

_KINEMATICS_SQL = f"""
  WITH players AS ({_PLAYERS_SQL}),
  vel AS (
    SELECT *, sin(radians(dir_deg)) * s AS v_x,
           cos(radians(dir_deg)) * s AS v_y
    FROM players
  ),
  theta AS (
    SELECT *,
           CASE WHEN v_x = 0 AND v_y > 0 THEN pi() / 2
                WHEN v_x = 0 AND v_y < 0 THEN -pi() / 2
                WHEN v_x = 0 AND v_y = 0 THEN 0.0
                ELSE atan(v_y / v_x) END AS v_theta,
           sqrt((px - 60.0) * (px - 60.0)
              + (py - 26.65) * (py - 26.65)) AS dist_from_ball
    FROM vel
  )
  SELECT *,
         least(4.0 + dist_from_ball * dist_from_ball * dist_from_ball
                     * 0.3, 10.0) AS radius,
         s / 13.0 AS s_ratio,
         px + v_x * 0.5 AS mu_x,
         py + v_y * 0.5 AS mu_y
  FROM theta
"""


def _players(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 997 == 0).select(
        F.col("event_id").alias("player_id"),
        (F.col("event_id") % 121).cast("double").alias("px"),
        (F.col("user_id") % 53).cast("double").alias("py"),
        (F.col("event_id") % 13).cast("double").alias("s"),
        ((F.col("event_id") * 7) % 360).cast("double").alias("dir_deg"),
        F.when(F.col("user_id") % 2 == 0, F.lit("home"))
        .otherwise(F.lit("away"))
        .alias("team"),
    )


@register(
    "u02_transform_chain",
    oracle=f"""
    SELECT player_id,
           {rhu_sql('v_x')} AS v_x, {rhu_sql('v_y')} AS v_y,
           {rhu_sql('v_theta')} AS v_theta,
           {rhu_sql('dist_from_ball')} AS dist_from_ball,
           {rhu_sql('radius')} AS radius, {rhu_sql('s_ratio')} AS s_ratio,
           {rhu_sql('mu_x')} AS mu_x, {rhu_sql('mu_y')} AS mu_y
    FROM ({_KINEMATICS_SQL})
    """,
    note="U2 composable table->table transforms chained via df.transform "
    "(Field Control.R:226-292): velocity F6 -> ball distance F5 -> "
    "radius F8/F9 -> speed ratio -> projected location F11. All narrow "
    "projections, zero shuffles.",
)
def u02_transform_chain(spark, sf_dir):
    kin = _players(spark, sf_dir).transform(attach_kinematics)
    return kin.select(
        "player_id",
        *[
            rhu(F.col(c)).alias(c)
            for c in (
                "v_x",
                "v_y",
                "v_theta",
                "dist_from_ball",
                "radius",
                "s_ratio",
                "mu_x",
                "mu_y",
            )
        ],
    )


@register(
    "e02_field_control",
    oracle=f"""
    WITH kin AS ({_KINEMATICS_SQL}),
    grid AS (
      SELECT CAST(gx.i AS DOUBLE) * (120.0 / 119.0) AS grid_x,
             CAST(gy.i AS DOUBLE) * ((160.0 / 3.0) / 53.0) AS grid_y
      FROM range(120) gx(i) CROSS JOIN range(54) gy(i)
    ),
    cells AS (
      SELECT k.player_id, k.team, g.grid_x, g.grid_y,
             cos(k.v_theta) AS ct, sin(k.v_theta) AS st,
             k.radius * (1.0 + k.s_ratio) AS sx,
             greatest(k.radius * (1.0 - k.s_ratio), 1e-08) AS sy,
             g.grid_x - k.mu_x AS dx, g.grid_y - k.mu_y AS dy
      FROM kin k CROSS JOIN grid g
    ),
    gauss AS (
      SELECT player_id, team, grid_x, grid_y,
             exp(-0.5 * (((st * st * sx * sx + ct * ct * sy * sy) * dx * dx
                  - 2.0 * (st * ct * (sx * sx - sy * sy)) * dx * dy
                  + (ct * ct * sx * sx + st * st * sy * sy) * dy * dy)
                 / (sx * sx * sy * sy)))
             / ({TWO_PI!r} * sqrt(sx * sx * sy * sy)) AS influence_raw
      FROM cells
    ),
    norm AS (
      SELECT team, grid_x, grid_y,
             {rhu_sql('influence_raw / MAX(influence_raw)'
                      ' OVER (PARTITION BY player_id)')} AS influence
      FROM gauss
    )
    SELECT grid_x, grid_y,
           {rhu_sql('''1.0 / (1.0 + exp(CAST(SUM(CAST(
                 CASE WHEN team = 'home' THEN -influence ELSE influence END
                 AS DECIMAL(28,9))) AS DOUBLE)))''')} AS control
    FROM norm
    GROUP BY grid_x, grid_y
    """,
    note="E2 field-control surface (Field Control.R:226-378): the "
    "reference's two nested group_split loops collapse into one plan — "
    "players x broadcast(grid) cross join (J5), closed-form Gaussian "
    "(F12), per-player window normalize (W6), per-cell exact signed "
    "sum (A1), sigmoid (F7). The input is one frame: players shuffle "
    "by player_id, and the per-cell sum exchanges one partial row per "
    "cell and partition; parallel in the player dimension.",
)
def e02_field_control(spark, sf_dir):
    players = _players(spark, sf_dir).transform(attach_kinematics)
    grid = field_grid(spark)
    influence = player_influence(players, grid, player_key="player_id")
    return field_control_surface(influence)


# ---------------------------------------------------------------------------
# E2 full season: the scale showcase (SURVEY §7 phase 3)
# ---------------------------------------------------------------------------

# ~3% of events become players, deterministically spread over 48
# "frames" — at sf0.1 that is ~3.4k players x 6480 grid cells ≈ 22M
# Gaussian evaluations, two orders of magnitude past the reference's
# one-play-in-RAM ceiling.
_SEASON_PLAYERS_SQL = """
  SELECT event_id AS player_id,
         CAST((event_id // 29) % 48 AS BIGINT) AS frame_id,
         CAST(event_id % 121 AS DOUBLE) AS px,
         CAST(user_id % 53 AS DOUBLE) AS py,
         CAST(event_id % 13 AS DOUBLE) AS s,
         CAST((event_id * 7) % 360 AS DOUBLE) AS dir_deg,
         CASE WHEN user_id % 2 = 0 THEN 'home' ELSE 'away' END AS team
  FROM events WHERE event_id % 29 = 0
"""


def _season_players(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") % 29 == 0).select(
        F.col("event_id").alias("player_id"),
        # integer div, not `/`+cast: double division rounds above
        # 2^53, assigning the wrong frame at full id range (review r7)
        (F.expr("event_id div 29") % 48).alias("frame_id"),
        (F.col("event_id") % 121).cast("double").alias("px"),
        (F.col("user_id") % 53).cast("double").alias("py"),
        (F.col("event_id") % 13).cast("double").alias("s"),
        ((F.col("event_id") * 7) % 360).cast("double").alias("dir_deg"),
        F.when(F.col("user_id") % 2 == 0, F.lit("home"))
        .otherwise(F.lit("away"))
        .alias("team"),
    )


@register(
    "e03_field_control_season",
    oracle=f"""
    WITH kin AS ({_KINEMATICS_SQL.replace(_PLAYERS_SQL, _SEASON_PLAYERS_SQL)}),
    grid AS (
      SELECT CAST(gx.i AS DOUBLE) * (120.0 / 119.0) AS grid_x,
             CAST(gy.i AS DOUBLE) * ((160.0 / 3.0) / 53.0) AS grid_y
      FROM range(120) gx(i) CROSS JOIN range(54) gy(i)
    ),
    cells AS (
      SELECT k.player_id, k.frame_id, k.team, g.grid_x, g.grid_y,
             cos(k.v_theta) AS ct, sin(k.v_theta) AS st,
             k.radius * (1.0 + k.s_ratio) AS sx,
             greatest(k.radius * (1.0 - k.s_ratio), 1e-08) AS sy,
             g.grid_x - k.mu_x AS dx, g.grid_y - k.mu_y AS dy
      FROM kin k CROSS JOIN grid g
    ),
    gauss AS (
      SELECT player_id, frame_id, team, grid_x, grid_y,
             exp(-0.5 * (((st * st * sx * sx + ct * ct * sy * sy) * dx * dx
                  - 2.0 * (st * ct * (sx * sx - sy * sy)) * dx * dy
                  + (ct * ct * sx * sx + st * st * sy * sy) * dy * dy)
                 / (sx * sx * sy * sy)))
             / ({TWO_PI!r} * sqrt(sx * sx * sy * sy)) AS influence_raw
      FROM cells
    ),
    norm AS (
      SELECT frame_id, team, grid_x, grid_y,
             {rhu_sql('influence_raw / MAX(influence_raw)'
                      ' OVER (PARTITION BY player_id)')} AS influence
      FROM gauss
    )
    SELECT frame_id, grid_x, grid_y,
           {rhu_sql('''1.0 / (1.0 + exp(CAST(SUM(CAST(
                 CASE WHEN team = 'home' THEN -influence ELSE influence END
                 AS DECIMAL(28,9))) AS DOUBLE)))''')} AS control
    FROM norm
    GROUP BY frame_id, grid_x, grid_y
    """,
    note="E2 at FULL-SEASON scale (SURVEY §7 phase 3's showcase): the "
    "same one-plan field-control pipeline over every frame at once — "
    "~3.4k players x 6480 cells ≈ 22M Gaussian evals at sf0.1, vs the "
    "reference's one-play-at-a-time RAM ceiling (Field Control."
    "R:357-378). Broadcast grid, codegen Gaussian, per-(frame, "
    "player) normalize window and per-(frame, cell) exact signed sum; "
    "the players are hash-partitioned by frame_id, the ONLY shuffle, "
    "so neither the window nor the sum moves a cell. Frames add rows, "
    "not stages — the definition of linear scale-out. (Measured A/B at sf0.1: the "
    "normalize WINDOW beats a groupBy-max + broadcast-join-back "
    "5.7s vs 6.9s — the join form re-evaluates the Gaussian subtree, "
    "which costs more than the window's sort; self-referenced "
    "subtrees are never reused across join sides.)",
)
def e03_field_control_season(spark, sf_dir):
    from ..plans.e2_control import field_control_surface

    players = _season_players(spark, sf_dir).transform(attach_kinematics)
    grid = field_grid(spark)
    influence = player_influence(
        players, grid, player_key="player_id", frame_cols=("frame_id",)
    )
    return field_control_surface(
        influence, group_cols=("frame_id", "grid_x", "grid_y")
    )
