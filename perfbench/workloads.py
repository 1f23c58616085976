"""The workloads: their inputs, one timed pass, and its checks.

Every workload drives the package's public functions the way a user
would compose them. The calls are wrapped in tracer spans named after
the package layer they enter (``sources``, ``plans.tracking``,
``operators``, ``ml``, ``plans.e2_control``, ``queries``); with tracing
off the spans cost nothing. Outputs are materialized through the no-op
sink (``persist`` + noop write where a later step or the check reuses
them), never ``count()``, which would let Catalyst prune the
projections being timed.

``run_pass(spark, tracer, held)`` appends every DataFrame it persists
to ``held``; the caller unpersists them once the pass's outputs have
been checked.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from big_data_bowl_spark.ml.coverage import train_eval
from big_data_bowl_spark.operators.pivot import pivot_wide_multi
from big_data_bowl_spark.operators.sample import deterministic_sample
from big_data_bowl_spark.plans.e2_control import (
    attach_kinematics,
    field_control_surface,
    player_influence,
)
from big_data_bowl_spark.plans.tracking import (
    PASS_ARRIVAL_EVENTS,
    PLAY_KEYS,
    attach_ball_position,
    derive_side_of_ball,
    distance_to_ball_at_arrival,
    line_of_scrimmage_features,
    personnel_features,
    standardize_coordinates,
)
from big_data_bowl_spark.queries import REGISTRY
from big_data_bowl_spark.queries import extras as _extras
from big_data_bowl_spark.sources.io import field_grid, load_table

import gen
import verify

PIVOT_POSITIONS = ("SS", "FS", "CB", "LB", "OLB", "ILB", "DB")
PIVOT_METRICS = ("s", "a", "dis", "o", "dir", "dist_from_los",
                 "dist_from_mid", "distToFootballAtBallArrival")
FEATURES = [f"{m}_{p}" for m in PIVOT_METRICS for p in PIVOT_POSITIONS] + [
    "num_dl", "num_lb", "num_cb"]
GRID_CELLS = 120 * 54  # field_grid() default: 120 x 54 points
ACCURACY_FLOOR = 0.5  # 8 classes; chance is ~0.3 for the majority class


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(df, held: list):
    """Persist ``df`` and fill the cache through the no-op sink, so every
    column is computed once and later steps reuse it."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _noop(df)
    held.append(df)
    return df


def release(held: list) -> None:
    for df in held:
        df.unpersist(blocking=True)
    held.clear()


def _los_chain(trk, games, plays):
    """standardize -> dims -> side of ball -> line-of-scrimmage features."""
    return (
        trk.transform(standardize_coordinates)
        .join(F.broadcast(games), "gameId")
        .join(F.broadcast(plays.select(*PLAY_KEYS, "possessionTeam")),
              PLAY_KEYS)
        .transform(derive_side_of_ball)
        .transform(line_of_scrimmage_features)
    )


def _e1_chain(merged):
    """ball attach -> pass-arrival frames -> distance to the football."""
    return merged.transform(attach_ball_position).transform(
        distance_to_ball_at_arrival)


def _arrival_players(std):
    """E2 input from standardized tracking rows: every player on a
    pass-arrival frame, keyed uniquely per (play, player)."""
    pid = ((F.col("gameId") - F.lit(2021090900)) * F.lit(1_000_000_000)
           + F.col("playId") * F.lit(100_000) + F.col("nflId"))
    return (
        std.filter(F.col("event").isin(*PASS_ARRIVAL_EVENTS)
                   & (F.col("displayName") != "Football"))
        .select(pid.alias("player_id"), "gameId", "playId",
                F.col("x").alias("px"), F.col("y").alias("py"), "s",
                F.col("dir").alias("dir_deg"), "team")
    )


def _surfaces(players, grid, tr, held):
    """E2 chain over many frames, (gameId, playId) kept on every cell;
    traced runs materialize each step so its span holds its own work.
    Returns the persisted surface, which the check reads."""
    with tr.span("plans.e2_control", "kinematics"):
        kin = attach_kinematics(players)
        if tr.enabled:
            kin = _materialize(kin, held)
    with tr.span("plans.e2_control", "influence"):
        infl = player_influence(kin, grid, player_key="player_id")
        if tr.enabled:
            infl = _materialize(
                infl.select("gameId", "playId", "grid_x", "grid_y", "team",
                            "influence"), held)
    with tr.span("plans.e2_control", "surface"):
        return _materialize(field_control_surface(
            infl, group_cols=("gameId", "playId", "grid_x", "grid_y")), held)


class Workload:
    """One benchmark workload: seeded inputs and a timed full pass."""

    name = ""

    def __init__(self, work_dir: str, seed: int):
        self.dir = work_dir
        self.seed = seed
        self.sizes: dict = {}
        self.failures: list[str] = []

    def generate(self) -> None:
        raise NotImplementedError

    def cells_per_pass(self) -> int:
        """Gaussian field-control cells one pass evaluates."""
        return 0


class SeasonCoverage(Workload):
    """The full coverage chain over one generated season, plus the E2
    field-control surfaces of a seeded sample of its pass-arrival
    frames."""

    name = "season_coverage"
    WEEKS, GAMES_PER_WEEK, PLAYS_PER_GAME = 17, 1, 20
    E2_FRAMES = 8

    def generate(self):
        self.sizes = gen.season(self.dir, self.seed, self.WEEKS,
                                self.GAMES_PER_WEEK, self.PLAYS_PER_GAME)

    def cells_per_pass(self):
        # 22 players per sampled frame, each expanded to the grid
        return self.E2_FRAMES * 22 * GRID_CELLS

    def _sample(self, e1):
        plays = e1.select(*PLAY_KEYS).distinct()
        return deterministic_sample(plays, PLAY_KEYS, self.E2_FRAMES)

    def run_pass(self, spark, tr, held: list) -> dict:
        d = self.dir
        games = load_table(spark, d, "games")
        plays = load_table(spark, d, "plays")
        cov = load_table(spark, d, "coverages")
        with tr.span("sources", "scan"):
            trk = load_table(spark, d, "tracking")
            if tr.enabled:
                trk = _materialize(trk, held)
        with tr.span("plans.tracking", "los"):
            merged = _los_chain(trk, games, plays)
            if tr.enabled:
                merged = _materialize(merged, held)
        with tr.span("plans.tracking", "e1"):
            e1 = _materialize(_e1_chain(merged), held)
        with tr.span("operators", "pivot"):
            wide = pivot_wide_multi(
                e1.filter(F.col("position").isin(*PIVOT_POSITIONS)),
                group_cols=PLAY_KEYS,
                pivot_col="position",
                categories=PIVOT_POSITIONS,
                value_cols=PIVOT_METRICS,
                agg=lambda v: F.min_by(F.col(v), F.col("nflId")),
                fill_value=0.0,
            )
            feats = _materialize(
                wide.join(cov, PLAY_KEYS).join(
                    personnel_features(plays).select(
                        *PLAY_KEYS, "num_dl", "num_lb", "num_cb", "epa"),
                    PLAY_KEYS),
                held)
        with tr.span("ml", "fit"):
            _model, scored, acc = train_eval(
                feats, FEATURES, label_col="coverage", id_cols=PLAY_KEYS)
        with tr.span("ml", "score"):
            _noop(scored)
        with tr.span("operators", "sample"):
            picked = self._sample(e1).collect()
        players = _materialize(_arrival_players(e1.join(
            F.broadcast(spark.createDataFrame(
                picked, "gameId long, playId long")),
            PLAY_KEYS, "left_semi")), held)
        surface = _surfaces(players, field_grid(spark), tr, held)
        with tr.span("client", "epa_summary"):
            summary = (
                feats.groupBy("coverage")
                .agg(F.count(F.lit(1)).alias("n_plays"),
                     F.count("epa").alias("n_epa"),
                     F.avg("epa").alias("mean_epa"))
                .collect()
            )
        return {"accuracy": acc, "e1": e1, "picked": picked,
                "players": players, "surface": surface,
                "summary": sorted(tuple(r) for r in summary)}

    def verify(self, spark, out: dict) -> None:
        """The E1 table and the EPA summary against DuckDB over the same
        parquet; two plays of the timed E2 surface against NumPy; RF
        accuracy above a floor. Each failure goes to ``self.failures``."""
        n, diff, expected = verify.season(
            self.dir, out["e1"].select(*verify.E1_COLUMNS).toArrow())
        if diff:
            self.failures.append(f"E1 table: {diff} of {n} rows differ from DuckDB")
        if not verify.same_summary(out["summary"], expected):
            self.failures.append(f"EPA summary differs: {out['summary']} vs {expected}")
        if out["accuracy"] < ACCURACY_FLOOR:
            self.failures.append(f"RF accuracy {out['accuracy']} < {ACCURACY_FLOOR}")
        # two plays of the timed surface against NumPy, control in (0, 1)
        picked = sorted(tuple(r) for r in out["picked"])
        for g, p in (picked[0], picked[len(picked) // 2]):
            def one(df):
                return df.filter((F.col("gameId") == g)
                                 & (F.col("playId") == p)).collect()

            err = verify.surface_vs_numpy(one(out["surface"]),
                                          one(out["players"]))
            if err:
                self.failures.append(f"E2 surface {g}/{p}: {err}")


class CorpusCuration(Workload):
    """The registered corpus-curation and embedding-index pipelines over
    a fresh documents/embeddings snapshot."""

    name = "corpus_curation"
    DOCS, VECS = 2000, 1500
    QUERIES = ("e04_corpus_curation", "e05_embedding_index_pipeline")
    # process-lifetime model memos keyed by the data fingerprint
    MEMOS = ("_CENT_CACHE", "_QV_CACHE", "_PQCB_CACHE")

    def generate(self):
        self.sizes = gen.corpus(self.dir, self.seed, self.DOCS, self.VECS)

    def run_pass(self, spark, tr, held: list) -> dict:
        # A curation job runs on a fresh snapshot: empty the memos so
        # the pass trains the index, and count the trainings.
        for m in self.MEMOS:
            getattr(_extras, m).clear()
        outs = {}
        for q, span in zip(self.QUERIES, ("e04", "e05")):
            with tr.span("queries", span):
                outs[q] = _materialize(REGISTRY[q].fn(spark, self.dir), held)
        return {"outputs": outs,
                "index_trainings": sum(len(getattr(_extras, m))
                                       for m in self.MEMOS)}

    def verify(self, spark, out: dict) -> None:
        """Both queries' outputs against the registry's oracle SQL."""
        for q, df in out["outputs"].items():
            err = verify.against_oracle(self.dir, df.columns, df.collect(),
                                        REGISTRY[q].oracle)
            if err:
                self.failures.append(f"{q}: {err}")


WORKLOADS = {w.name: w for w in (SeasonCoverage, CorpusCuration)}
