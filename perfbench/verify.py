"""Independent checks of the engine's outputs: DuckDB over the same
parquet, a NumPy recomputation of the field-control surface, and the
registry's own oracle SQL."""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb
import numpy as np

from big_data_bowl_spark.plans.tracking import FIELD_LENGTH, FIELD_WIDTH

ARRIVAL_SQL = ("'pass_outcome_caught', 'pass_arrived', "
               "'pass_outcome_incomplete', 'pass_outcome_interception', "
               "'pass_outcome_touchdown'")
PIVOT_SQL = "'SS', 'FS', 'CB', 'LB', 'OLB', 'ILB', 'DB'"


def _connect(work_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{work_dir}/duckdb_tmp'")
    return con


def _e1_sql(d: str) -> str:
    """E1 with line-of-scrimmage features, spelled independently in SQL
    (Tutorial.R:125-203, all coverages.R:118-127)."""
    return f"""
    WITH std AS (
      SELECT * REPLACE (
        CASE WHEN playDirection = 'left'
             THEN CAST({FIELD_LENGTH!r} AS DOUBLE) - x ELSE x END AS x,
        CASE WHEN playDirection = 'left'
             THEN CAST({FIELD_WIDTH!r} AS DOUBLE) - y ELSE y END AS y)
      FROM read_parquet('{d}/tracking.parquet/*.parquet')),
    merged AS (
      SELECT s.*, g.homeTeamAbbr, g.visitorTeamAbbr, p.possessionTeam,
             CASE WHEN (s.team = 'home' AND p.possessionTeam = g.homeTeamAbbr)
                    OR (s.team = 'away'
                        AND p.possessionTeam = g.visitorTeamAbbr)
                  THEN 'offense' ELSE 'defense' END AS sideOfBall
      FROM std s
      JOIN read_parquet('{d}/games.parquet') g USING (gameId)
      JOIN read_parquet('{d}/plays.parquet') p USING (gameId, playId)),
    w AS (
      SELECT *,
        x - MAX(CASE WHEN displayName = 'Football' AND frameId = 1
                     THEN x END) OVER (PARTITION BY gameId, playId)
          AS dist_from_los,
        SUM(CASE WHEN displayName = 'Football' THEN 1 ELSE 0 END)
          OVER (PARTITION BY gameId, playId, frameId) AS n_ball,
        MAX(CASE WHEN displayName = 'Football' THEN x END)
          OVER (PARTITION BY gameId, playId, frameId) AS xf,
        MAX(CASE WHEN displayName = 'Football' THEN y END)
          OVER (PARTITION BY gameId, playId, frameId) AS yf
      FROM merged)
    SELECT gameId, playId, frameId, nflId, displayName, position, sideOfBall,
           sqrt((x - xf) * (x - xf) + (y - yf) * (y - yf))
             AS distToFootballAtBallArrival,
           dist_from_los
    FROM w WHERE n_ball > 0 AND event IN ({ARRIVAL_SQL})"""


E1_COLUMNS = ("gameId", "playId", "frameId", "nflId", "displayName",
              "sideOfBall", "distToFootballAtBallArrival", "dist_from_los")


def season(d: str, spark_e1) -> tuple[int, int, list[tuple]]:
    """Rows of DuckDB's E1 table, rows differing from the engine's E1
    table ``spark_e1`` (an Arrow table; exact multisets), and per
    coverage over the plays that reach the feature table: plays, plays
    with EPA, mean EPA (NULLs skipped, all coverages.R:319-326)."""
    con = _connect(d)
    cols = ", ".join(E1_COLUMNS)
    con.execute(f"CREATE TEMP TABLE e1 AS {_e1_sql(d)}")
    con.execute(f"CREATE TEMP TABLE o AS SELECT {cols} FROM e1")
    con.register("spark_e1", spark_e1)
    con.execute(f"CREATE TEMP TABLE s AS SELECT {cols} FROM spark_e1")
    n = con.execute("SELECT count(*) FROM o").fetchone()[0]
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM s EXCEPT ALL "
        "SELECT * FROM o)) + (SELECT count(*) FROM (SELECT * FROM o "
        "EXCEPT ALL SELECT * FROM s))").fetchone()[0]
    summary = con.execute(f"""
      WITH kept AS (SELECT DISTINCT gameId, playId FROM e1
                    WHERE position IN ({PIVOT_SQL}))
      SELECT c.coverage, count(*), count(p.epa), avg(p.epa)
      FROM kept k
      JOIN read_parquet('{d}/coverages.parquet') c USING (gameId, playId)
      JOIN read_parquet('{d}/plays.parquet') p USING (gameId, playId)
      GROUP BY c.coverage ORDER BY c.coverage""").fetchall()
    con.close()
    return n, diff, [tuple(r) for r in summary]


def same_summary(got: list[tuple], expected: list[tuple]) -> bool:
    if len(got) != len(expected):
        return False
    for g, e in zip(sorted(got), sorted(expected)):
        if g[:3] != e[:3]:
            return False
        if (g[3] is None) != (e[3] is None):
            return False
        if g[3] is not None and not math.isclose(g[3], e[3], rel_tol=1e-9,
                                                 abs_tol=1e-12):
            return False
    return True


def _rhu(x, scale=9):
    p = 10.0 ** scale
    return np.floor(x * p + 0.5) / p


def surface_vs_numpy(rows, players, tol: float = 1e-7) -> str | None:
    """Recompute one play's field-control surface (Field Control.R:226-378)
    in NumPy and compare cell by cell. Returns a message on mismatch."""
    gx = np.arange(120) * (120.0 / 119)
    gy = np.arange(54) * ((160.0 / 3.0) / 53)
    X, Y = np.meshgrid(gx, gy, indexing="ij")
    total = np.zeros_like(X)
    for p in players:
        s, rad = p.s, math.radians(p.dir_deg)
        vx, vy = math.sin(rad) * s, math.cos(rad) * s
        if vx == 0:
            theta = math.pi / 2 if vy > 0 else -math.pi / 2 if vy < 0 else 0.0
        else:
            theta = math.atan(vy / vx)
        dist = math.hypot(p.px - 60.0, p.py - 26.65)
        radius = min(4.0 + dist ** 3 * 0.3, 10.0)
        ratio = s / 13.0
        mx, my = p.px + vx * 0.5, p.py + vy * 0.5
        sx = radius * (1 + ratio)
        sy = max(radius * (1 - ratio), 1e-8)
        ct, st = math.cos(theta), math.sin(theta)
        a = ct * ct * sx * sx + st * st * sy * sy
        b = st * ct * (sx * sx - sy * sy)
        c = st * st * sx * sx + ct * ct * sy * sy
        det = sx * sx * sy * sy
        dx, dy = X - mx, Y - my
        pdf = np.exp(-0.5 * (c * dx * dx - 2 * b * dx * dy + a * dy * dy)
                     / det) / (2 * math.pi * math.sqrt(det))
        infl = _rhu(pdf / pdf.max())
        total += -infl if p.team == "home" else infl
    want = _rhu(1.0 / (1.0 + np.exp(total)))
    if len(rows) != want.size:
        return f"{len(rows)} cells, expected {want.size}"
    got = np.full_like(want, np.nan)
    for r in rows:
        i = int(round(r.grid_x / (120.0 / 119)))
        j = int(round(r.grid_y / ((160.0 / 3.0) / 53)))
        got[i, j] = r.control
    if not np.all((got > 0) & (got < 1)):
        return "control outside (0, 1)"
    err = float(np.nanmax(np.abs(got - want)))
    if np.isnan(got).any() or err > tol:
        return f"max |control - numpy| = {err:.3g}"
    return None


def _norm(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def row_key(row: dict, columns) -> tuple:
    """A sortable, exact rendering of one row, columns in name order."""
    return tuple(_norm(row[c]) for c in sorted(columns))


def against_oracle(d: str, columns, rows, oracle_sql: str) -> str | None:
    """Compare collected rows with the registry's DuckDB oracle over the
    same parquet (column names, row count, full value multiset)."""
    con = _connect(d)
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{d}/{t}.parquet')")
    cur = con.execute(oracle_sql)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()
    con.close()
    if sorted(columns) != sorted(ocols):
        return f"columns {sorted(columns)} != {sorted(ocols)}"
    got = sorted(row_key(dict(zip(columns, r)), columns) for r in rows)
    want = sorted(row_key(dict(zip(ocols, r)), ocols) for r in orows)
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    diff = sum(a != b for a, b in zip(got, want))
    return f"{diff} of {len(got)} rows differ" if diff else None
