"""Football-domain composable transforms on the BDB tracking schema.

Each function is a ``DataFrame -> DataFrame`` transform chainable with
``df.transform``. Column names match the reference (gameId, playId,
frameId, displayName, playDirection, x, y, event, team,
possessionTeam, homeTeamAbbr, visitorTeamAbbr, personnelD, ...).

Plan contract:
- Coordinates are standardized exactly once.
- The ball is attached by a window over the frame and its ``event``
  (Tutorial.R:173-183). ``event`` is a frame attribute, so a filter on
  it, such as the pass-arrival filter of E1, runs before the window's
  exchange and is pushed into the tracking scan: only the kept
  frames are shuffled.
- The line of scrimmage is a per-play aggregate over the frame-1 ball
  rows, joined back on the play keys (all coverages.R:118-123). The
  aggregate reads a pushed-down scan and has one row per play.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geometry import euclidean

FIELD_LENGTH = 120.0
FIELD_WIDTH = 160.0 / 3.0
FIELD_MID_Y = 26.65  # the reference's constant (all coverages.R:127)

PASS_ARRIVAL_EVENTS = (
    "pass_outcome_caught",
    "pass_arrived",
    "pass_outcome_incomplete",
    "pass_outcome_interception",
    "pass_outcome_touchdown",
)  # Tutorial.R:138-142

FRAME_KEYS = ["gameId", "playId", "frameId"]
PLAY_KEYS = ["gameId", "playId"]


def standardize_coordinates(df: DataFrame) -> DataFrame:
    """P4: flip left-direction plays so offense always moves right
    (Tutorial.R:24-26). Apply exactly once."""
    left = F.col("playDirection") == "left"
    return df.withColumns(
        {
            "x": F.when(left, F.lit(FIELD_LENGTH) - F.col("x")).otherwise(
                F.col("x")
            ),
            "y": F.when(left, F.lit(FIELD_WIDTH) - F.col("y")).otherwise(
                F.col("y")
            ),
        }
    )


def derive_side_of_ball(df: DataFrame) -> DataFrame:
    """P13: offense/defense per tracked row + the defensive team
    (Tutorial.R:148-166)."""
    on_offense = (
        (F.col("team") == "home")
        & (F.col("possessionTeam") == F.col("homeTeamAbbr"))
    ) | (
        (F.col("team") == "away")
        & (F.col("possessionTeam") == F.col("visitorTeamAbbr"))
    )
    return df.withColumns(
        {
            "sideOfBall": F.when(on_offense, "offense").otherwise("defense"),
            "defensiveTeam": F.when(
                F.col("possessionTeam") == F.col("homeTeamAbbr"),
                F.col("visitorTeamAbbr"),
            ).otherwise(F.col("homeTeamAbbr")),
        }
    )


def attach_ball_position(df: DataFrame) -> DataFrame:
    """Give every row the (x, y) of its frame's football and drop the
    rows whose frame has no football (Tutorial.R:173-183).

    The window partitions by ``FRAME_KEYS + event``: the ball attaches
    to the rows of its frame that carry the same ``event`` as the ball
    row. In BDB tracking every row of a frame carries the frame's
    event, so this is the frame. A filter on ``event`` downstream runs
    before the window's exchange."""
    w = Window.partitionBy(*FRAME_KEYS, "event")
    is_ball = F.col("displayName") == "Football"
    return (
        df.withColumns(
            {
                "footballInPlay": F.sum(
                    is_ball.cast("int")
                ).over(w) > 0,
                "xFootball": F.max(F.when(is_ball, F.col("x"))).over(w),
                "yFootball": F.max(F.when(is_ball, F.col("y"))).over(w),
            }
        )
        .filter(F.col("footballInPlay"))
    )


def distance_to_ball_at_arrival(df: DataFrame) -> DataFrame:
    """P6+F5: keep pass-arrival frames, compute each row's distance to
    the football (Tutorial.R:189-203). Expects attach_ball_position
    upstream."""
    return df.filter(F.col("event").isin(*PASS_ARRIVAL_EVENTS)).withColumn(
        "distToFootballAtBallArrival",
        euclidean(
            F.col("x"), F.col("y"), F.col("xFootball"), F.col("yFootball")
        ),
    )


def line_of_scrimmage_features(df: DataFrame) -> DataFrame:
    """Add ``los``, ``dist_from_los`` and ``dist_from_mid``
    (all coverages.R:118-127). ``los`` is the largest x of the
    play's football rows at frame 1, NULL for a play without one.

    ``los`` is a per-play aggregate over the frame-1 ball rows, joined
    back on ``PLAY_KEYS`` as a sort-merge join. Its play-key
    partitioning also serves ``attach_ball_position``'s window, so an
    E1 chain shuffles only the rows its filters keep. Output columns
    are ``df``'s columns followed by the three new ones."""
    los = (
        df.filter((F.col("displayName") == "Football") & (F.col("frameId") == 1))
        .groupBy(*PLAY_KEYS)
        .agg(F.max("x").alias("los"))
    )
    return (
        df.join(los.hint("merge"), PLAY_KEYS, "left")
        .select(*df.columns, "los")
        .withColumns(
            {
                "dist_from_los": F.col("x") - F.col("los"),
                "dist_from_mid": F.col("y") - F.lit(FIELD_MID_Y),
            }
        )
    )


def personnel_features(plays: DataFrame) -> DataFrame:
    """F1: parse defensive personnel strings like '4 DL, 2 LB, 5 DB'
    into counts via fixed-offset substrings, exactly as the reference
    does (all coverages.R:141-148)."""
    return plays.withColumns(
        {
            "num_dl": F.substring("personnelD", 1, 1).cast("int"),
            "num_lb": F.substring("personnelD", 7, 1).cast("int"),
            "num_cb": F.substring("personnelD", 13, 1).cast("int"),
        }
    )


def distance_to_football_pipeline(
    tracking: DataFrame,
    games: DataFrame,
    plays: DataFrame,
    defensive_team: str | None = None,
) -> DataFrame:
    """E1 end-to-end (Tutorial.R:125-203): standardize -> join dims
    (broadcast) -> side-of-ball -> (optional) defense filter -> ball
    attach -> arrival frames -> distance.

    Output grain: one row per tracked player per arrival frame."""
    merged = (
        tracking.transform(standardize_coordinates)
        .join(F.broadcast(games), "gameId", "inner")
        .join(
            F.broadcast(plays.select(*PLAY_KEYS, "possessionTeam")),
            PLAY_KEYS,
            "inner",
        )
        .transform(derive_side_of_ball)
    )
    if defensive_team is not None:
        merged = merged.filter(
            (F.col("defensiveTeam") == defensive_team)
            & (F.col("sideOfBall") == "defense")
        )
    return merged.transform(attach_ball_position).transform(
        distance_to_ball_at_arrival
    )
