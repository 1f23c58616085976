"""Golden tests for the football-domain transforms (plans/tracking.py)
on a hand-built tracking fixture — expected values computed with plain
Python math, independent of any Spark expression — and plan contracts
on a small season written by the benchmark's generator."""

from __future__ import annotations

import importlib.util
import math
import os

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_bowl_spark.plans.tracking import (
    PLAY_KEYS,
    attach_ball_position,
    derive_side_of_ball,
    distance_to_ball_at_arrival,
    distance_to_football_pipeline,
    line_of_scrimmage_features,
    personnel_features,
    standardize_coordinates,
)
from big_data_bowl_spark.sources.io import load_table

TRACK_SCHEMA = (
    "gameId int, playId int, frameId int, displayName string, team string, "
    "playDirection string, x double, y double, event string"
)


@pytest.fixture(scope="module")
def tracking(spark):
    rows = [
        # play 1: DET (home) defends, GB has ball, direction LEFT (flips)
        # frame 1: snap; frame 2: pass arrives
        (1, 1, 1, "Football", "football", "left", 60.0, 25.0, "ball_snap"),
        (1, 1, 1, "Def One", "home", "left", 58.0, 24.0, "ball_snap"),
        (1, 1, 1, "Off One", "away", "left", 62.0, 26.0, "ball_snap"),
        (1, 1, 2, "Football", "football", "left", 50.0, 20.0, "pass_arrived"),
        (1, 1, 2, "Def One", "home", "left", 53.0, 16.0, "pass_arrived"),
        (1, 1, 2, "Off One", "away", "left", 49.0, 21.0, "pass_arrived"),
        # play 2: DET has ball (defensiveTeam = GB) -> excluded by filter
        (1, 2, 1, "Football", "football", "right", 30.0, 25.0, "ball_snap"),
        (1, 2, 2, "Def Two", "away", "right", 31.0, 25.0, "pass_arrived"),
        # play 2 frame 2 has NO football row -> footballInPlay False
        (1, 2, 2, "Football2", "away", "right", 30.5, 25.0, "pass_arrived"),
    ]
    return spark.createDataFrame(rows, TRACK_SCHEMA)


@pytest.fixture(scope="module")
def games(spark):
    return spark.createDataFrame(
        [(1, "DET", "GB")], "gameId int, homeTeamAbbr string, visitorTeamAbbr string"
    )


@pytest.fixture(scope="module")
def plays(spark):
    return spark.createDataFrame(
        [(1, 1, "GB"), (1, 2, "DET")],
        "gameId int, playId int, possessionTeam string",
    )


def test_standardize_flips_left_once(tracking):
    out = {
        (r.playId, r.frameId, r.displayName): (r.x, r.y)
        for r in standardize_coordinates(tracking).collect()
    }
    # left play: x -> 120-x, y -> 160/3-y
    assert out[(1, 1, "Football")] == (60.0, 160.0 / 3.0 - 25.0)
    assert out[(1, 2, "Def One")] == (120.0 - 53.0, 160.0 / 3.0 - 16.0)
    # right play untouched
    assert out[(2, 1, "Football")] == (30.0, 25.0)


def test_side_of_ball_and_defensive_team(tracking, games, plays):
    df = (
        tracking.join(games, "gameId")
        .join(plays, ["gameId", "playId"])
        .transform(derive_side_of_ball)
    )
    rows = {(r.playId, r.displayName): r for r in df.collect()}
    # play 1: GB possesses -> away rows offense, home rows defense
    assert rows[(1, "Off One")].sideOfBall == "offense"
    assert rows[(1, "Def One")].sideOfBall == "defense"
    assert rows[(1, "Football")].sideOfBall == "defense"  # ball is neither
    assert rows[(1, "Def One")].defensiveTeam == "DET"
    # play 2: DET possesses -> defensiveTeam GB
    assert rows[(2, "Def Two")].defensiveTeam == "GB"


def test_attach_ball_drops_ball_less_frames(tracking):
    out = attach_ball_position(tracking)
    frames = {(r.playId, r.frameId) for r in out.collect()}
    assert (2, 2) not in frames  # no football row in that frame
    r = [
        x
        for x in out.collect()
        if (x.playId, x.frameId, x.displayName) == (1, 2, "Def One")
    ][0]
    assert (r.xFootball, r.yFootball) == (50.0, 20.0)


def test_e1_pipeline_exact_distance(tracking, games, plays):
    out = distance_to_football_pipeline(
        tracking, games, plays, defensive_team="DET"
    ).collect()
    # play 1 frame 2 (pass_arrived) defense rows: Def One AND the ball
    # itself (the reference keeps it — sideOfBall falls through to
    # "defense" for team=='football'; its distance is exactly 0, the
    # SURVEY §5 invariant)
    assert len(out) == 2
    by_name = {r.displayName: r for r in out}
    assert by_name["Football"].distToFootballAtBallArrival == 0.0
    r = by_name["Def One"]
    # standardized coords: defender (120-53, 160/3-16), ball (120-50, 160/3-20)
    expected = math.sqrt((67.0 - 70.0) ** 2 + ((160 / 3 - 16) - (160 / 3 - 20)) ** 2)
    assert r.distToFootballAtBallArrival == pytest.approx(expected, abs=1e-12)
    assert expected == 5.0  # 3-4-5 triangle


def test_line_of_scrimmage_features(tracking):
    out = line_of_scrimmage_features(standardize_coordinates(tracking))
    rows = {
        (r.playId, r.frameId, r.displayName): r for r in out.collect()
    }
    # play 1 los = standardized ball x at frame 1 = 60 (120-60)
    r = rows[(1, 2, "Def One")]
    assert r.los == 60.0
    assert r.dist_from_los == pytest.approx(67.0 - 60.0)
    assert r.dist_from_mid == pytest.approx((160 / 3 - 16) - 26.65)


def test_personnel_features(spark):
    plays = spark.createDataFrame(
        [(1, 1, "4 DL, 2 LB, 5 DB"), (1, 2, "3 DL, 4 LB, 4 DB")],
        "gameId int, playId int, personnelD string",
    )
    out = {r.playId: r for r in personnel_features(plays).collect()}
    assert (out[1].num_dl, out[1].num_lb, out[1].num_cb) == (4, 2, 5)
    assert (out[2].num_dl, out[2].num_lb, out[2].num_cb) == (3, 4, 4)


def test_ball_attaches_only_to_rows_of_its_event(spark):
    """The ball window is keyed on the frame AND its event: a ball row
    whose event differs from its players' rows attaches to none of
    them, so those player rows are dropped as ball-less, and the ball
    row keeps its own position."""
    rows = [
        (1, 1, 3, "Football", "football", "right", 40.0, 20.0, "pass_arrived"),
        (1, 1, 3, "Def One", "home", "right", 43.0, 24.0, "None"),
        (1, 1, 3, "Off One", "away", "right", 41.0, 21.0, "None"),
    ]
    out = attach_ball_position(spark.createDataFrame(rows, TRACK_SCHEMA))
    got = [(r.displayName, r.xFootball, r.yFootball) for r in out.collect()]
    assert got == [("Football", 40.0, 20.0)]


@pytest.fixture(scope="module")
def season_dir(tmp_path_factory):
    """Two weeks of generated BDB tables (perfbench/gen.py): ball rows,
    both play directions, frames without the ball."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(repo, "perfbench", "gen.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    d = str(tmp_path_factory.mktemp("season"))
    gen.season(d, 7, 2, 1, 10)
    return d


def _season(spark, d):
    return (load_table(spark, d, t) for t in ("tracking", "games", "plays"))


def test_e1_arrival_filter_is_pushed_into_the_scan(spark, season_dir):
    """The pass-arrival ``event IN (...)`` filter reaches the tracking
    scan's PushedFilters, alone and behind the LOS join, so E1
    shuffles only arrival frames."""
    trk, games, plays = _season(spark, season_dir)
    merged = (
        standardize_coordinates(trk)
        .join(F.broadcast(games), "gameId")
        .join(F.broadcast(plays.select(*PLAY_KEYS, "possessionTeam")),
              PLAY_KEYS)
        .transform(derive_side_of_ball)
    )
    for e1 in (
        distance_to_football_pipeline(trk, games, plays),
        merged.transform(line_of_scrimmage_features)
        .transform(attach_ball_position)
        .transform(distance_to_ball_at_arrival),
    ):
        plan = e1._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(event, [pass_arrived" in plan, plan
        assert e1.count() > 0


def test_los_matches_the_per_play_window(spark, season_dir):
    """``los``/``dist_from_los`` equal the per-play window form
    ``max(x where frame-1 ball) over (gameId, playId)``, row for row,
    and the output keeps the input's column order."""
    trk, _games, _plays = _season(spark, season_dir)
    std = standardize_coordinates(trk)
    out = line_of_scrimmage_features(std)
    assert out.columns == [*std.columns, "los", "dist_from_los",
                           "dist_from_mid"]
    ball1 = (F.col("displayName") == "Football") & (F.col("frameId") == 1)
    ref = std.withColumn(
        "los",
        F.max(F.when(ball1, F.col("x"))).over(Window.partitionBy(*PLAY_KEYS)),
    ).withColumn("dist_from_los", F.col("x") - F.col("los"))
    cols = [*PLAY_KEYS, "frameId", "displayName", "los", "dist_from_los"]
    got = sorted(tuple(r) for r in out.select(*cols).collect())
    assert got == sorted(tuple(r) for r in ref.select(*cols).collect())
    assert len(got) == trk.count()
