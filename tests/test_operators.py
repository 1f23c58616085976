"""Unit tests for operators/ (mode A3, pivot R1, sample O4/O5) on
tiny hand-built DataFrames with exact expected rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_bowl_spark.operators.mode import grouped_mode
from big_data_bowl_spark.operators.pivot import pivot_wide_multi
from big_data_bowl_spark.operators.sample import (
    deterministic_sample,
    deterministic_split,
)


@pytest.fixture(scope="module")
def plays(spark):
    rows = [
        # (game, play, coverage)
        (1, 1, "cover_3"),
        (1, 1, "cover_3"),
        (1, 1, "cover_1"),
        (1, 2, "cover_0"),
        (1, 2, "cover_2"),  # tie -> smallest value wins
        (2, 1, "man"),
    ]
    return spark.createDataFrame(rows, "gameId int, playId int, coverage string")


def test_grouped_mode_majority_and_tiebreak(plays):
    got = {
        (r.gameId, r.playId): r.mode_value
        for r in grouped_mode(plays, ["gameId", "playId"], "coverage").collect()
    }
    assert got == {
        (1, 1): "cover_3",  # majority
        (1, 2): "cover_0",  # 1-1 tie breaks to smallest value
        (2, 1): "man",  # singleton
    }


@pytest.fixture(scope="module")
def metrics(spark):
    rows = [
        (1, "SS", 4.0, 1.0),
        (1, "CB", 6.0, 2.0),
        (2, "SS", 5.0, 3.0),
    ]
    return spark.createDataFrame(rows, "playId int, position string, s double, a double")


def test_pivot_multi_value_columns(metrics):
    wide = pivot_wide_multi(
        metrics,
        group_cols=["playId"],
        pivot_col="position",
        categories=["SS", "CB", "FS"],
        value_cols=["s", "a"],
    )
    # reference naming metric_POS, declared categories => stable schema
    assert set(wide.columns) == {
        "playId", "s_SS", "a_SS", "s_CB", "a_CB", "s_FS", "a_FS"
    }
    by_play = {r.playId: r for r in wide.collect()}
    assert by_play[1].s_SS == 4.0 and by_play[1].a_CB == 2.0
    assert by_play[2].s_CB == 0.0  # values_fill=0
    assert by_play[2].s_FS == 0.0


def test_pivot_single_value_column_rename(metrics):
    # VERDICT r1 flagged this rename as version-fragile — pin it
    wide = pivot_wide_multi(
        metrics,
        group_cols=["playId"],
        pivot_col="position",
        categories=["SS", "CB"],
        value_cols=["s"],
    )
    assert set(wide.columns) == {"playId", "s_SS", "s_CB"}


def test_pivot_custom_agg(metrics):
    wide = pivot_wide_multi(
        metrics,
        group_cols=["playId"],
        pivot_col="position",
        categories=["SS"],
        value_cols=["s"],
        agg=lambda v: F.sum(F.col(v)),
    )
    assert {r.playId: r.s_SS for r in wide.collect()} == {1: 4.0, 2: 5.0}


@pytest.fixture(scope="module")
def people(spark):
    return spark.createDataFrame(
        [(i, f"name_{i}") for i in range(100)], "id int, name string"
    )


def test_deterministic_sample_exact_n_and_stable(people):
    a = deterministic_sample(people, ["id"], 7)
    b = deterministic_sample(people, ["id"], 7)
    ra = sorted(r.id for r in a.collect())
    rb = sorted(r.id for r in b.collect())
    assert len(ra) == 7
    assert ra == rb  # same keys -> same sample, any run


def test_deterministic_split_partitions_exactly(people):
    train, test = deterministic_split(people, ["id"], 0.75)
    tr = {r.id for r in train.collect()}
    te = {r.id for r in test.collect()}
    assert tr | te == set(range(100))
    assert tr & te == set()
    # hash split is approximate in count but must be near 75
    assert 60 <= len(tr) <= 90


def test_deterministic_split_row_never_migrates(people):
    # split is a pure function of the key: repartitioning must not
    # move any row between train and test (critical for pipelines)
    train1, _ = deterministic_split(people, ["id"], 0.75)
    train2, _ = deterministic_split(people.repartition(13), ["id"], 0.75)
    assert {r.id for r in train1.collect()} == {r.id for r in train2.collect()}


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    from big_data_bowl_spark.queries.extras import s06_bucketed_join

    df = s06_bucketed_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the whole point of bucketing: the persisted layout satisfies the
    # join's distribution requirement, so NO shuffle exchange appears
    assert "Exchange hashpartitioning" not in plan
    assert df.count() > 0


def test_salted_sum_matches_unsalted(spark, sf_dir):
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries.base import dsum, load_table
    from big_data_bowl_spark.queries.extras import a08_salted_grouped_sum

    salted = {
        r.user_id: r.sum_value
        for r in a08_salted_grouped_sum(spark, sf_dir).collect()
    }
    plain = {
        r.user_id: r.sum_value
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(dsum(F.col("value")).alias("sum_value"))
        .collect()
    }
    assert salted == plain


def test_connected_components_chain_and_singleton_clusters(spark):
    from big_data_bowl_spark.operators.components import (
        connected_components,
    )

    # one 4-chain (needs transitive closure, not just direct pairs),
    # one isolated pair, one triangle with a redundant edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "src long, dst long",
    )
    got = {
        r["node"]: r["comp"] for r in connected_components(edges).collect()
    }
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_connected_components_long_path_pointer_jumping(spark):
    from big_data_bowl_spark.operators.components import (
        connected_components,
    )

    # a 12-node path is the adversarial (max-diameter) shape: plain
    # min-propagation needs 11 rounds, hash-to-min pointer jumping
    # must still settle it within the round budget
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = {
        r["node"]: r["comp"]
        for r in connected_components(edges, max_rounds=8).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_duplicate_edges_are_harmless(spark):
    """r15: the edge-list .distinct() was removed (its map-side hash
    state was keyed by EDGE — the allocation that OOM'd the e05 100x
    probe) on the invariant that min-label propagation is duplicate-
    insensitive. Pin the invariant: a heavily duplicated multigraph
    labels identically to its deduplicated form, on both the
    converged-at-init fast path (triangle) and the loop path
    (chain)."""
    from big_data_bowl_spark.operators.components import (
        connected_components,
    )

    base = [(1, 2), (2, 3), (3, 4), (20, 21), (21, 22), (20, 22)]
    dup = base * 7 + [(b, a) for a, b in base] * 3
    want = {
        r["node"]: r["comp"]
        for r in connected_components(
            spark.createDataFrame(base, "src long, dst long")
        ).collect()
    }
    got = {
        r["node"]: r["comp"]
        for r in connected_components(
            spark.createDataFrame(dup, "src long, dst long")
        ).collect()
    }
    assert got == want
    assert got[4] == 1 and got[22] == 20


def test_release_local_checkpoint_frees_blocks(spark):
    """ADVICE r15: Dataset.unpersist on a localCheckpoint'd frame is
    a no-op (the checkpoint RDD is never registered with the
    CacheManager), so components' storage releases must go through
    the RDD-level helper. Pin both facts against getRDDStorageInfo:
    unpersist() leaves the blocks, _release_local_checkpoint frees
    them."""
    from big_data_bowl_spark.operators.components import (
        release_local_checkpoint,
    )

    def block_ids():
        jsc = spark.sparkContext._jsc.sc()
        return {i.id() for i in jsc.getRDDStorageInfo()}

    before = block_ids()
    df = spark.range(10_000).selectExpr(
        "id", "id * 2 AS y"
    ).localCheckpoint()
    mine = block_ids() - before
    assert mine, "localCheckpoint did not register storage blocks"
    df.unpersist()
    assert mine <= block_ids(), (
        "Dataset.unpersist freed checkpoint blocks — Spark behavior "
        "changed; the RDD-level helper may be obsolete"
    )
    release_local_checkpoint(df)
    assert not (mine & block_ids()), (
        "RDD-level release left the checkpoint blocks resident"
    )


def test_release_local_checkpoint_failure_path_is_loud(spark):
    """ADVICE r16 / VERDICT r16 item 5: if the RDD-level unpersist
    itself blows up (a py4j surface shift), the helper must degrade
    LOUDLY — a silent pass would revive the O(rounds x nodes)
    checkpoint-block leak invisibly. Mock the breakage by handing
    the helper a frame whose _jdf raises, and assert the
    RuntimeWarning carries the exception text."""
    import warnings as _warnings

    from big_data_bowl_spark.operators.components import (
        release_local_checkpoint,
    )

    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("py4j surface shifted")

    class _FakeDF:
        _jdf = _Boom()

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        release_local_checkpoint(_FakeDF())
    msgs = [
        str(w.message)
        for w in caught
        if issubclass(w.category, RuntimeWarning)
    ]
    assert any(
        "RDD-level unpersist failed" in m
        and "py4j surface shifted" in m
        for m in msgs
    ), f"expected a loud failure warning, got {msgs!r}"


def test_asof_join_backward_inclusive_semantics(spark):
    from big_data_bowl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 100, 5),    # exact tie with right ts=5 -> inclusive
            (1, 101, 7),    # between right 5 and 9 -> matches 5
            (1, 102, 3),    # before any right row -> NULLs
            (2, 200, 50),   # other key, matches its own right side
            (3, 300, 1),    # key with no right rows at all -> NULLs
        ],
        "k long, event_id long, ts long",
    )
    right = spark.createDataFrame(
        [
            (1, 5, "a", None),  # NULL payload field must not be
            (1, 9, "b", 9.9),   # back-filled from an older row
            (2, 40, "c", 4.4),
        ],
        "k long, ts long, label string, score double",
    )
    got = {
        r["event_id"]: (r["ts_r"], r["label"], r["score"])
        for r in asof_join(left, right, on="k").collect()
    }
    assert got == {
        100: (5, "a", None),   # tie -> matched; score stays NULL
        101: (5, "a", None),
        102: (None, None, None),
        200: (40, "c", 4.4),
        300: (None, None, None),
    }


def test_partitioned_sink_prunes_partitions(spark, tmp_path):
    import contextlib
    import io

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3]) for i in range(30)],
        "id long, part string",
    )
    out = str(tmp_path / "psink")
    df.write.mode("overwrite").partitionBy("part").parquet(out)
    back = spark.read.parquet(out).filter(F.col("part") == "a")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    # the predicate must resolve against partition directories, not
    # row-level data filters — that's what makes untouched partitions
    # free at 100 TB
    assert "PartitionFilters" in plan
    ppart = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "part" in ppart and "= a" in ppart.replace("'", "")

    assert back.count() == 10
    assert {r["part"] for r in back.collect()} == {"a"}


def test_kmeans_fit_recovers_separated_blobs(spark):
    import random

    from big_data_bowl_spark.operators.kmeans import kmeans_fit

    rng = random.Random(5)
    centers = [(0.0, 0.0), (10.0, 10.0), (-10.0, 5.0)]
    rows = []
    for i in range(90):
        cx, cy = centers[i % 3]
        rows.append(
            (i, [cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)])
        )
    df = spark.createDataFrame(rows, "vid long, embedding array<double>")
    cent = kmeans_fit(df, id_col="vid", k=3, max_iter=15, tol=1e-9)
    got = sorted(
        (round(r["kv"][0]), round(r["kv"][1]), r["n_members"])
        for r in cent.collect()
    )
    # converged centroids sit on the true blob centers, 30 points each
    assert got == [(-10, 5, 30), (0, 0, 30), (10, 10, 30)]


def test_kmeans_fit_large_k_uses_broadcast_kernel(spark):
    """kmeans_fit end-to-end at k x dim = 18 x 32 = 576 model terms
    (more than the 512 any shipped model uses): every Lloyd
    assignment runs the one nearest-centroid kernel, and the trainer
    still recovers well-separated blobs exactly."""
    import random

    from big_data_bowl_spark.operators.kmeans import kmeans_fit

    dim, k = 32, 18
    rng = random.Random(23)
    # blob c sits at (10c, 10c, ..., 10c); vids 0..k-1 are one point
    # per blob, so the deterministic lowest-vid seeding starts with
    # one seed in each blob
    centers = [[10.0 * c] * dim for c in range(k)]
    rows = []
    for i in range(k * 20):
        c = i % k
        rows.append(
            (i, [x + rng.uniform(-0.5, 0.5) for x in centers[c]])
        )
    df = spark.createDataFrame(rows, "vid long, embedding array<double>")
    cent = kmeans_fit(df, id_col="vid", k=k, max_iter=12, tol=1e-9)
    got = sorted(
        (round(r["kv"][0] / 10.0), r["n_members"])
        for r in cent.collect()
    )
    assert got == [(c, 20) for c in range(k)]


def _adversarial_model(rng, k, dim):
    """k centroids with norms spread over four decades, plus an exact
    duplicate of cid 0 (id tie-break) and a 1-ulp twin of cid 1
    (bit-level score compare)."""
    import math

    cent = [
        (
            i,
            [rng.uniform(-1, 1) * (10.0 ** (i % 5 - 2)) for _ in range(dim)],
        )
        for i in range(k - 2)
    ]
    cent.append((k - 2, list(cent[0][1])))
    bumped = list(cent[1][1])
    bumped[0] = math.nextafter(bumped[0], math.inf)
    cent.append((k - 1, bumped))
    return cent


def _replay_argbest(rows, cent, score, largest=False):
    """Driver-side reference: pyfold_dot replays the kernel's IEEE op
    sequence, and the (score, id) ordering its struct tie-break."""
    out = {}
    for vid, cv in rows:
        keyed = [
            ((-score(cv, kv), cid) if largest else (score(cv, kv), cid))
            for cid, kv in cent
        ]
        out[vid] = min(keyed)[1]
    return out


def _plan_text(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_ragged_rows_fail(spark, assign, lengths):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    for n in lengths:
        bad = spark.createDataFrame(
            [(0, [1.0] * n)], "vid long, cv array<double>"
        )
        with pytest.raises(
            SparkRuntimeException, match="array lengths must be equal"
        ):
            assign(bad).collect()


def test_assignment_kernels_bit_identical(spark):
    """The argmin scores of the one nearest-centroid kernel — Lloyd's
    kk - 2 cv.kv and the PQ (sv.sv - 2 sv.kv) + kk over a subspace
    slice — match a pyfold_dot replay bit for bit on duplicate
    centroids, 1-ulp twins and mixed norms, at model sizes above
    512 terms. The plan reads the one-row model as a scalar subquery
    and never shuffles the corpus, and a ragged row fails the
    query."""
    import random

    import big_data_bowl_spark.queries.extras as ex
    from big_data_bowl_spark.functions.sqltext import pyfold_dot
    from big_data_bowl_spark.operators.kmeans import assign_cells

    rng = random.Random(11)
    dim, k = 2 * ex.PQ_SUB, 40
    cent = _adversarial_model(rng, k, dim)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(400)]
    rows[0] = (0, list(cent[0][1]))  # exact copy of a duplicated cid
    rows[1] = (1, list(cent[1][1]))  # exact copy of a 1-ulp twin
    corp = spark.createDataFrame(rows, "vid long, cv array<double>")

    lloyd = assign_cells(corp, cent)
    want = _replay_argbest(
        rows, cent,
        lambda cv, kv: pyfold_dot(kv, kv) - 2.0 * pyfold_dot(cv, kv),
    )
    assert {r["vid"]: r["cell"] for r in lloyd.collect()} == want
    assert want[0] == 0  # duplicate centroid tie broke to low cid
    assert "__cents__" not in lloyd.columns
    plan = _plan_text(lloyd)
    # the model arrives as a scalar subquery: no join, no shuffle
    assert "Subquery" in plan and "Join" not in plan
    assert "Exchange hashpartitioning" not in plan

    # PQ subspace m=1 against a k x PQ_SUB = 640-term codebook
    lo = ex.PQ_SUB
    cb = [
        (cid, kv[lo:], pyfold_dot(kv[lo:], kv[lo:])) for cid, kv in cent
    ]
    assert sum(len(ckv) for _, ckv, _ in cb) > 512
    pq = ex._with_code(corp, 1, cb)
    want_pq = _replay_argbest(
        [(vid, cv[lo:]) for vid, cv in rows],
        [(cid, ckv) for cid, ckv, _ in cb],
        lambda sv, ckv: (pyfold_dot(sv, sv) - 2 * pyfold_dot(sv, ckv))
        + pyfold_dot(ckv, ckv),
    )
    assert {r["vid"]: r["code1"] for r in pq.collect()} == want_pq
    assert "Exchange hashpartitioning" not in _plan_text(pq)

    _assert_ragged_rows_fail(
        spark, lambda df: assign_cells(df, cent), (dim - 3, dim + 2)
    )
    _assert_ragged_rows_fail(
        spark, lambda df: ex._with_code(df, 1, cb), (dim - 3,)
    )


def test_dot_assignment_kernels_bit_identical(spark):
    """The IVF score assigns by ARGMAX dot with ties to the lowest
    cid. On centroids whose norms differ, argmax-dot and
    argmin-distance disagree, so this pins the largest=True ordering
    against a pyfold_dot replay, with the same duplicate and 1-ulp
    cases, no corpus shuffle and ragged rows failing both ways."""
    import random

    import big_data_bowl_spark.queries.extras as ex
    from big_data_bowl_spark.functions.sqltext import pyfold_dot
    from big_data_bowl_spark.operators.kmeans import assign_cells

    rng = random.Random(23)
    dim, k = 16, 40
    cent = _adversarial_model(rng, k, dim)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(400)
    ]
    corp = spark.createDataFrame(rows, "vid long, cv array<double>")

    got = {r["vid"]: r["cell"] for r in ex._with_cell(corp, cent).collect()}
    want = _replay_argbest(rows, cent, pyfold_dot, largest=True)
    assert got == want
    # exact duplicates listed high id first: both scores break the
    # tie to the lowest id
    tie = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vid long, cv array<double>"
    )
    dup = [(5, [1.0, 0.0]), (3, [1.0, 0.0]), (4, [0.0, 1.0])]
    assert ex._with_cell(tie, dup).first()["cell"] == 3
    assert assign_cells(tie, dup).first()["cell"] == 3
    lloyd = {r["vid"]: r["cell"] for r in assign_cells(corp, cent).collect()}
    assert lloyd != got  # mixed norms make the two scores disagree
    assert "Exchange hashpartitioning" not in _plan_text(
        ex._with_cell(corp, cent)
    )
    _assert_ragged_rows_fail(
        spark, lambda df: ex._with_cell(df, cent), (dim - 2, dim + 3)
    )


def test_v04_code_path_survives_over_ceiling_nlist(spark, monkeypatch):
    """v04's actual code path with a trained model of NLIST=16 x
    dim=64 = 1024 terms: training (_spark_lloyd_step) and assignment
    (_with_cell) both run through the nearest-centroid kernel, the query
    executes, and the assignments match a pyfold_dot replay of the
    trained centroids."""
    import big_data_bowl_spark.queries.extras as ex
    from big_data_bowl_spark.functions.sqltext import pyfold_dot
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(ex, "NLIST", 16)
    e = ex.t(spark, sf, "embeddings")
    cent = ex._trained_centroid_rows(spark, e, sf)
    assert len(cent) == 16
    assert sum(len(kv) for _, kv in cent) > 512
    out = ex.v04_ivf_topk(spark, sf).collect()
    assert len(out) > 0
    corp = e.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("cv")
    )
    got = {
        r["vec_id"]: r["cell"]
        for r in ex._with_cell(corp, cent).collect()
    }
    rows = [(r["vec_id"], list(r["cv"])) for r in corp.collect()]
    assert got == _replay_argbest(rows, cent, pyfold_dot, largest=True)
    assert len(set(got.values())) > 1  # non-vacuous model


def test_kmeans_and_sqltext_degenerate_inputs_fail_loud(spark):
    """Zero centroids must raise a descriptive ValueError, not emit
    malformed SQL that dies with an opaque parse error downstream."""
    from big_data_bowl_spark.operators.kmeans import (
        assign_cells,
        kmeans_fit,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vid long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no centroid rows"):
        assign_cells(df, [], cv_name="embedding")
    with pytest.raises(ValueError, match="no centroid"):
        kmeans_fit(df, id_col="vid", k=0, max_iter=0)
    empty = df.where("vid < 0")
    with pytest.raises(ValueError, match="no centroid"):
        kmeans_fit(empty, id_col="vid", k=3, max_iter=0)


def test_a10_approx_distinct_within_tolerance(spark, sf_dir):
    """a10 has no cross-engine oracle (different sketches); pin the
    HLL++ estimates within 5% of exact counts instead."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    approx = {
        r.l_returnflag: r
        for r in REGISTRY["a10_approx_count_distinct"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.countDistinct("l_orderkey").alias("orders"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, e in exact.items():
        # the registered query computes the |HLL - exact| <= 5% check
        # in-engine and emits it as the oracle-pinned boolean; the
        # exact counts must match an independent countDistinct
        a = approx[flag]
        assert (a.exact_parts, a.exact_orders) == (e.parts, e.orders)
        assert a.parts_within_5pct and a.orders_within_5pct


def test_split_fraction_edge_cases(spark):
    """ADVICE r2: fraction >= 1 must keep everything (not ~6% via a
    broken 14-char hex compare); <= 0 keeps nothing; out-of-domain
    thresholds raise."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_bowl_spark.functions.hashing import (
        hex_threshold,
        md5_of,
    )
    from big_data_bowl_spark.operators.sample import deterministic_split

    df = spark.range(1000).withColumn("k", F.col("id").cast("string"))
    train, test = deterministic_split(df, key_cols=["k"], train_fraction=1.0)
    assert train.count() == 1000 and test.count() == 0
    train0, test0 = deterministic_split(df, key_cols=["k"], train_fraction=0.0)
    assert train0.count() == 0 and test0.count() == 1000
    with pytest.raises(ValueError):
        hex_threshold(1.0)
    with pytest.raises(ValueError):
        hex_threshold(-0.1)
    # separator ambiguity regression: ('a|b','c') must not collide with
    # ('a','b|c') now that the join char is 0x1f
    row = spark.range(1).select(
        md5_of(F.lit("a|b"), F.lit("c")).alias("h1"),
        md5_of(F.lit("a"), F.lit("b|c")).alias("h2"),
    ).collect()[0]
    assert row.h1 != row.h2


def test_global_row_number_degenerate_inputs(spark):
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.rank import with_global_row_number

    empty = spark.range(0).select(F.col("id").alias("k"))
    assert with_global_row_number(empty, "k").count() == 0

    const = spark.range(5).select(F.lit(7).alias("k"))
    rows = sorted(
        r.row_num for r in with_global_row_number(const, "k").collect()
    )
    assert rows == [1, 2, 3, 4, 5]


def test_dq03_smooths_bins_a_cohort_never_hit(spark, tmp_path):
    """A bin with rows in only ONE cohort must still produce a finite
    smoothed psi_term (not NULL) — the densified-grid contract."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import (
        DRIFT_BINS,
        DRIFT_HI,
        DRIFT_LO,
    )

    # ref cohort (even ids) all land in bin 0; cur (odd) all in the
    # LAST bin — values derived from the domain constants so the test
    # tracks them (review r7 widened the domain to the real range)
    width = (DRIFT_HI - DRIFT_LO) / DRIFT_BINS
    lo_val = DRIFT_LO + 0.5 * width
    hi_val = DRIFT_LO + (DRIFT_BINS - 0.5) * width
    n = 40
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([1700000000000000 + i for i in range(n)],
                               pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array(
                    [lo_val if i % 2 == 0 else hi_val for i in range(n)]
                ),
                "props": pa.array(["{}"] * n),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    rows = {
        r.bin: r
        for r in REGISTRY["dq03_distribution_drift"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == set(range(10))  # dense grid
    for r in rows.values():
        assert r.p_ref is not None and r.p_cur is not None
        assert r.psi_term is not None
    # the two one-sided bins carry the drift signal
    assert rows[0].psi_term > 1.0 and rows[9].psi_term > 1.0


def test_interval_join_boundary_semantics(spark, tmp_path):
    """t09: start is inclusive, end exclusive — pin events exactly ON
    the boundaries (the off-by-one a bucket-expansion rewrite could
    introduce)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    # interval 0 = [2024-01-01 03:00, 04:30); place events at start,
    # end-1us, end, and far outside
    base = 1704078000000000  # 2024-01-01 03:00:00 UTC in epoch micros
    cases = {
        100: base,                       # == start -> IN
        101: base + 90 * 60 * 1000000 - 1,  # end - 1us -> IN
        102: base + 90 * 60 * 1000000,      # == end -> OUT
        103: base - 1,                      # start - 1us -> OUT
    }
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(list(cases), pa.int64()),
                "ts": pa.array(list(cases.values()), pa.timestamp("us")),
                "user_id": pa.array([1] * 4, pa.int64()),
                "event_type": pa.array(["view"] * 4),
                "value": pa.array([1.0] * 4),
                "props": pa.array(["{}"] * 4),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    rows = REGISTRY["t09_interval_join"].fn(spark, str(tmp_path)).collect()
    got = {(r.event_id, r.interval_id) for r in rows}
    assert got == {(100, 0), (101, 0)}, got


def test_funnel_planted_depths(spark):
    """ordered_funnel on a planted changelog covering every depth:
    the strictly-after rule, out-of-order events, and repeats."""
    import datetime as dt

    from big_data_bowl_spark.operators.funnel import ordered_funnel

    t0 = dt.datetime(2026, 1, 1)

    def ts(minute):
        return t0 + dt.timedelta(minutes=minute)

    rows = [
        # u1: full funnel, with noise + a click BEFORE the view that
        # must not count, and the SECOND purchase must not win
        (1, "click", ts(0)),
        (1, "view", ts(1)),
        (1, "error", ts(2)),
        (1, "click", ts(3)),
        (1, "purchase", ts(4)),
        (1, "purchase", ts(9)),
        # u2: view then purchase but never a click -> depth 1
        (2, "view", ts(1)),
        (2, "purchase", ts(2)),
        # u3: clicks only -> depth 0
        (3, "click", ts(1)),
        # u4: view+click simultaneous -> strict 'after' rejects -> depth 1
        (4, "view", ts(5)),
        (4, "click", ts(5)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r.user_id: (r.t_view, r.t_click, r.t_purchase, r.funnel_depth)
        for r in ordered_funnel(ev, ["view", "click", "purchase"]).collect()
    }
    assert got[1] == (ts(1), ts(3), ts(4), 3)
    assert got[2] == (ts(1), None, None, 1)
    assert got[3] == (None, None, None, 0)
    assert got[4] == (ts(5), None, None, 1)


def test_funnel_real_data_consistency(spark, sf_dir):
    """t15 on the real testdata: depth always equals the count of
    non-null stages, stage times strictly increase, one row per user."""
    from big_data_bowl_spark.queries.temporal import t15_funnel_analysis
    from big_data_bowl_spark.sources.io import load_table

    out = t15_funnel_analysis(spark, sf_dir)
    rows = out.collect()
    n_users = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert len(rows) == n_users
    for r in rows:
        stages = [r.t_view, r.t_click, r.t_purchase]
        n = sum(s is not None for s in stages)
        assert r.funnel_depth == n
        assert all(s is None for s in stages[n:])
        for a, b in zip(stages, stages[1:]):
            if a is not None and b is not None:
                assert a < b


def test_cdc_compaction_keeps_newest_and_counts_all(spark, sf_dir):
    """d07: one row per live key, version counts sum to the full
    changelog, and the kept value is the max-ts row's value."""
    from big_data_bowl_spark.queries.temporal import d07_cdc_compaction
    from big_data_bowl_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events")
    out = d07_cdc_compaction(spark, sf_dir)
    assert out.count() == ev.select("user_id", "event_type").distinct().count()
    total = out.agg(F.sum("n_versions")).collect()[0][0]
    assert total == ev.count()
    bad = out.filter(F.col("last_seen") < F.col("first_seen")).count()
    assert bad == 0
    # spot-check one key end-to-end
    k = out.orderBy("user_id", "event_type").first()
    versions = (
        ev.filter(
            (F.col("user_id") == k.user_id)
            & (F.col("event_type") == k.event_type)
        )
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .collect()
    )
    assert versions[0].value == k.latest_value
    assert len(versions) == k.n_versions


def test_containment_dominates_jaccard(spark, sf_dir):
    """n16 vs d03: for any pair both emit, max containment >= jaccard
    (the subset-duplication signal Jaccard underestimates)."""
    from big_data_bowl_spark.queries.nlp import (
        d03_ngram_jaccard,
        n16_shingle_containment,
    )

    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in d03_ngram_jaccard(spark, sf_dir).collect()
    }
    cont = {
        (r.doc_a, r.doc_b): max(r.containment_ab, r.containment_ba)
        for r in n16_shingle_containment(spark, sf_dir).collect()
    }
    assert len(cont) > 0
    shared = set(jac) & set(cont)
    assert len(shared) > 0
    for pair in shared:
        assert cont[pair] >= jac[pair] - 1e-9


def test_product_quantization_invariants(spark, sf_dir):
    """v09: centroid vectors are their own codes with zero error;
    every code has M sub-codes in [0, K); recon_err >= 0."""
    from big_data_bowl_spark.queries.vectors import (
        PQ_K,
        PQ_M,
        v09_product_quantization,
    )

    rows = {
        r.vec_id: r
        for r in v09_product_quantization(spark, sf_dir).collect()
    }
    for vid in range(PQ_K):
        assert rows[vid].pq_code == ",".join([str(vid)] * PQ_M)
        assert rows[vid].recon_err == 0.0
    for r in rows.values():
        codes = [int(c) for c in r.pq_code.split(",")]
        assert len(codes) == PQ_M
        assert all(0 <= c < PQ_K for c in codes)
        assert r.recon_err >= 0.0


def test_pagerank_invariants(spark, sf_dir):
    """g01: ranks positive and summing to ~1 (symmetric graph, no
    dangling mass), and the most-connected node outranks the median."""
    from big_data_bowl_spark.queries.graph import g01_pagerank_neardup

    rows = g01_pagerank_neardup(spark, sf_dir).collect()
    assert len(rows) > 0
    ranks = [r.pagerank for r in rows]
    assert all(r > 0 for r in ranks)
    assert abs(sum(ranks) - 1.0) < 1e-6


def test_pagerank_star_center_dominates(spark):
    """Planted star: the center must outrank every leaf, and symmetric
    leaves must tie exactly."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.functions.rounding import rhu
    from big_data_bowl_spark.queries.graph import (
        PR_DAMPING,
        PR_ITERS,
        PR_SCALE,
    )

    # star 0-(1..5): build the same loop the query runs, on a planted
    # edge set (the registered query is bound to the documents table)
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    sym = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .distinct()
        .repartition("u")
        .localCheckpoint()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = sym.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.withColumn("rank", rhu(F.lit(1.0) / n, PR_SCALE))
    for _ in range(PR_ITERS):
        contrib = (
            sym.join(ranks, sym["u"] == ranks["node"])
            .join(deg, "u")
            .select("v", (F.col("rank") / F.col("deg")).alias("c"))
        )
        summed = contrib.groupBy("v").agg(
            F.sum(F.col("c").cast(f"decimal(38,{PR_SCALE + 3})"))
            .cast("double")
            .alias("s")
        )
        ranks = summed.select(
            F.col("v").alias("node"),
            rhu(
                F.lit((1.0 - PR_DAMPING) / n) + PR_DAMPING * F.col("s"),
                PR_SCALE,
            ).alias("rank"),
        ).localCheckpoint()
    got = {r.node: r.rank for r in ranks.collect()}
    center, leaves = got[0], [got[i] for i in range(1, 6)]
    assert all(center > lv for lv in leaves)
    assert len(set(leaves)) == 1  # symmetric leaves tie exactly


def test_label_propagation_planted_communities(spark):
    """g02's loop on a planted two-cliques-and-a-bridge graph: each
    clique converges to its min label; the integer tie-break is
    deterministic."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.queries.graph import LP_ROUNDS

    # clique A: 0-1-2 fully connected; clique B: 10-11-12; bridge 2-10
    cl = [(0, 1), (0, 2), (1, 2), (10, 11), (10, 12), (11, 12), (2, 10)]
    pairs = spark.createDataFrame(cl, "doc_a long, doc_b long")
    sym = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .distinct()
        .repartition("u")
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(LP_ROUNDS):
        counts = (
            sym.join(labels, sym["u"] == labels["node"])
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            counts.groupBy(F.col("v").alias("node"))
            .agg(F.expr("min_by(label, struct(-n, label))").alias("label"))
            .localCheckpoint()
        )
    got = {r.node: r.label for r in labels.collect()}
    # clique A nodes all land on a common A-side label; clique B's
    # non-bridge nodes land on a common label distinct from A's
    assert got[0] == got[1]
    assert got[11] == got[12]
    assert got[0] != got[11]


def test_n17_segment_dedup_planted(spark, tmp_path):
    """Planted 10-token segments: the canonical (lowest doc_id,
    seg_idx) occurrence survives, later copies are cut, a fully-
    duplicated doc reassembles to the empty-string fingerprint, and a
    short tail still counts as its own segment."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    seg_a = " ".join(f"a{i}" for i in range(10))
    seg_b = " ".join(f"b{i}" for i in range(10))
    seg_c = " ".join(f"c{i}" for i in range(10))
    seg_d = " ".join(f"d{i}" for i in range(10))
    tail_e = " ".join(f"e{i}" for i in range(5))
    texts = {
        0: f"{seg_a} {seg_b}",   # both canonical
        1: f"{seg_a} {seg_c}",   # A cut (doc 0 owns it), C kept
        2: seg_a,                # fully duplicated -> empty doc
        3: f"{seg_d} {tail_e}",  # 10+5 tokens -> 2 segments, both kept
    }
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(texts), pa.int64()),
                "text": pa.array([texts[i] for i in sorted(texts)]),
                "lang": pa.array(["en"] * 4),
                "source": pa.array(["s"] * 4),
                "n_chars": pa.array(
                    [len(texts[i]) for i in sorted(texts)], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    rows = {
        r.doc_id: r
        for r in REGISTRY["n17_segment_dedup"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert (rows[0].n_segs, rows[0].n_kept) == (2, 2)
    assert rows[0].kept_fp == md5(f"{seg_a} {seg_b}")
    assert (rows[1].n_segs, rows[1].n_kept) == (2, 1)
    assert rows[1].kept_fp == md5(seg_c)
    assert (rows[2].n_segs, rows[2].n_kept) == (1, 0)
    assert rows[2].kept_fp == md5("")
    assert rows[2].kept_ratio == 0.0
    assert (rows[3].n_segs, rows[3].n_kept) == (2, 2)
    assert rows[3].kept_fp == md5(f"{seg_d} {tail_e}")


def test_d08_scd2_intervals_chain(spark, sf_dir):
    """SCD-2 invariants on the real events table: per key the version
    numbers are contiguous from 1, intervals chain exactly
    (valid_to(n) == valid_from(n+1)), exactly one open (current) row
    per key, and the current row is the one d07 compaction keeps."""
    from big_data_bowl_spark.queries import REGISTRY

    rows = REGISTRY["d08_scd2_history"].fn(spark, sf_dir).collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r.user_id, r.event_type), []).append(r)
    assert by_key
    for key, versions in by_key.items():
        versions.sort(key=lambda r: r.version_num)
        assert [r.version_num for r in versions] == list(
            range(1, len(versions) + 1)
        )
        for cur, nxt in zip(versions, versions[1:]):
            assert cur.valid_to == nxt.valid_from
            assert not cur.is_current
        assert versions[-1].is_current
        assert versions[-1].valid_to is None

    d07 = {
        (r.user_id, r.event_type): r.latest_value
        for r in REGISTRY["d07_cdc_compaction"].fn(spark, sf_dir).collect()
    }
    assert {
        k: vs[-1].value for k, vs in by_key.items()
    } == d07


def test_n18_lm_perplexity_planted(spark, tmp_path):
    """Hand-computed add-one bigram LM on a 3-doc corpus: per-doc
    avg-NLL and perplexity match the closed-form model exactly, and
    the repeated-bigram doc scores lower (more predictable) than the
    one holding a corpus-rare bigram."""
    import math
    from collections import Counter

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    # doc 3 is a single token: it emits no bigrams (absent from the
    # output) but its token still widens V for everyone's smoothing
    texts = {0: "a b a b a c", 1: "a b", 2: "x y x y", 3: "z"}
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(sorted(texts), pa.int64()),
                "text": pa.array([texts[i] for i in sorted(texts)]),
                "lang": pa.array(["en"] * 4),
                "source": pa.array(["s"] * 4),
                "n_chars": pa.array(
                    [len(texts[i]) for i in sorted(texts)], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    docs = {i: t.split() for i, t in texts.items() if len(t.split()) > 1}
    c2 = Counter(
        (w1, w2) for tk in docs.values() for w1, w2 in zip(tk, tk[1:])
    )
    c1 = Counter()
    for (w1, _w2), n in c2.items():
        c1[w1] += n
    vocab = len({w for t in texts.values() for w in t.split()})
    rhu = lambda x, s: math.floor(x * 10**s + 0.5) / 10**s  # noqa: E731

    def expect(tk):
        grams = Counter(zip(tk, tk[1:]))
        s = sum(
            n * rhu(-math.log((c2[g] + 1.0) / (c1[g[0]] + vocab)), 9)
            for g, n in grams.items()
        )
        total = sum(grams.values())
        avg = rhu(s / float(total), 9)
        return total, avg, rhu(math.exp(avg), 6)

    rows = {
        r.doc_id: r
        for r in REGISTRY["n18_lm_perplexity"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {0, 1, 2}
    for i, tk in docs.items():
        n_bigrams, avg_nll, ppl = expect(tk)
        assert rows[i].n_bigrams == n_bigrams
        assert rows[i].avg_nll == avg_nll
        assert rows[i].ppl == ppl
    # "x y x y" repeats one in-model bigram; doc 0 ends in the rare
    # (a,c) bigram, so it is strictly more surprising to the model
    assert rows[2].ppl < rows[0].ppl


def test_n19_decontamination_planted(spark, tmp_path):
    """Planted leakage: a train doc embedding a full 5-token span of
    an eval doc (doc_id 7 under the %20==7 rule) is flagged with the
    right shared-shingle count; disjoint train docs stay clean; eval
    docs never appear in the output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    eval_text = "alpha beta gamma delta epsilon zeta"
    texts = {
        7: eval_text,                           # the eval doc
        1: f"intro {eval_text} outro",          # leaks all its spans
        2: "one two three four five six seven", # clean
        3: "alpha beta gamma other words here", # shares no FULL 5-gram
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array(
                    [len(texts[i]) for i in ids], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r.doc_id: r
        for r in REGISTRY["n19_benchmark_decontamination"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {1, 2, 3}  # eval doc 7 excluded
    # eval doc has 2 distinct 5-gram shingles; doc 1 contains both
    assert rows[1].contaminated and rows[1].n_shared == 2
    assert not rows[2].contaminated and rows[2].n_shared == 0
    assert not rows[3].contaminated and rows[3].n_shared == 0


def test_t19_cohort_retention_invariants(spark, sf_dir):
    """Offset 0 always retains 100% (a user is active in their own
    first week by definition), later offsets never exceed the cohort
    size, and cohort sizes sum to the distinct-user count."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["t19_cohort_retention"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.week_offset >= 0
        assert 0 < r.n_active <= r.cohort_size
        if r.week_offset == 0:
            assert r.n_active == r.cohort_size and r.retention == 1.0
    sizes = {r.cohort_week: r.cohort_size for r in rows}
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert sum(sizes.values()) == n_users


def test_v10_ivfpq_refine_returns_true_cosines(spark, sf_dir):
    """The IVF-PQ shortlist is approximate, but the refine step must
    emit TRUE cosines: recompute each returned pair with numpy and
    match at the 1e-9 rounding; ranks are contiguous per query and
    ADC distances are non-negative."""
    import math

    import numpy as np

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["v10_ivfpq_topk"].fn(spark, sf_dir).collect()
    assert rows
    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.cand_id != r.query_id
        assert r.adc_dist2 >= 0.0
        q, c = vecs[r.query_id], vecs[r.cand_id]
        true_cos = float(q @ c) / (
            math.sqrt(float(q @ q)) * math.sqrt(float(c @ c))
        )
        assert abs(r.cosine - true_cos) < 2e-9
    for q, rs in by_q.items():
        assert sorted(r.rn for r in rs) == list(range(1, len(rs) + 1))
        ordered = sorted(rs, key=lambda r: r.rn)
        assert all(
            a.cosine >= b.cosine for a, b in zip(ordered, ordered[1:])
        )


def test_g04_triangles_planted_clique_and_pair(spark, tmp_path):
    """Three identical docs form an LSH clique -> one triangle, each
    corner at clustering coefficient 1.0; an identical pair yields an
    edge but no triangle (coefficient 0); a unique doc never enters
    the graph."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    dup = ("spark shuffles the hash partitioned rows across every "
           "executor while the broadcast side stays resident in memory")
    pair = ("the optimizer prunes parquet row groups using min max "
            "statistics collected during the columnar write path")
    texts = {
        0: dup, 1: dup, 2: dup,           # clique of 3
        3: pair, 4: pair,                 # single edge
        5: "completely unrelated words about gardening and weather",
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r.doc_id: r
        for r in REGISTRY["g04_triangle_count"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3, 4}  # doc 5 has no edges
    for i in (0, 1, 2):
        assert rows[i].deg == 2
        assert rows[i].n_triangles == 1
        assert rows[i].clustering_coef == 1.0
    for i in (3, 4):
        assert rows[i].deg == 1
        assert rows[i].n_triangles == 0
        assert rows[i].clustering_coef == 0.0


def test_t20_gapfill_grid_complete_and_carries(spark, sf_dir):
    """Gap-fill output is exactly |users| x |hours| dense, hour steps
    are contiguous, observed cells match the raw rollup, and every
    gap cell carries the most recent prior observed mean (NULL only
    before a user's first observation)."""
    from big_data_bowl_spark.queries import REGISTRY

    rows = REGISTRY["t20_gapfill_resample"].fn(spark, sf_dir).collect()
    users = {r.user_id for r in rows}
    hours = sorted({r.hour for r in rows})
    assert len(rows) == len(users) * len(hours)
    step = hours[1] - hours[0]
    assert step.total_seconds() == 3600
    assert all((b - a) == step for a, b in zip(hours, hours[1:]))
    by_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.hour)):
        by_user.setdefault(r.user_id, []).append(r)
    saw_gap = saw_carry = False
    for seq in by_user.values():
        last = None
        for r in seq:
            assert r.is_gap == (r.n_events == 0)
            if r.n_events > 0:
                assert r.value_avg is not None
                last = r.value_avg
            else:
                saw_gap = True
                assert r.value_avg == last
                if last is not None:
                    saw_carry = True
    assert saw_gap and saw_carry


def test_d09_merge_dispatch_planted(spark, tmp_path):
    """MERGE dispatch on a planted changelog: pre-cutoff-only key ->
    keep, both-sides key -> update with the change's value, new key
    -> insert, and a tombstone change (value < 1.0) deletes the key
    whether or not it existed in base."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    before = dt.datetime(2024, 1, 10)
    after = dt.datetime(2024, 1, 20)
    rows = [
        # (event_id, ts, user_id, event_type, value)
        (1, before, 1, "click", 10.0),   # keep (no change)
        (2, before, 2, "click", 20.0),   # updated below
        (3, after, 2, "click", 25.0),
        (4, after, 3, "click", 30.0),    # insert
        (5, before, 4, "click", 40.0),   # tombstoned below
        (6, after, 4, "click", 0.5),
        (7, after, 5, "click", 0.2),     # insert-then-tombstone: absent
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows],
                               pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.user_id: (r.op, r.value)
        for r in REGISTRY["d09_merge_upsert"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        1: ("keep", 10.0),
        2: ("update", 25.0),
        3: ("insert", 30.0),
    }


def test_g05_kcore_converges_within_unroll(spark, sf_dir, tmp_path):
    """The fixed unroll must be PAST convergence on the real graph
    (an extra peel round changes nothing), and on a planted
    triangle+pendant graph the pendant chain peels away while the
    triangle survives as the 2-core."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.graph import KCORE_ROUNDS

    rows = {
        (r.doc_id, r.core_deg)
        for r in REGISTRY["g05_kcore"].fn(spark, sf_dir).collect()
    }
    # one more round over the SAME graph must be a fixed point
    import big_data_bowl_spark.queries.graph as g

    orig = g.KCORE_ROUNDS
    try:
        g.KCORE_ROUNDS = KCORE_ROUNDS + 1
        rows_plus = {
            (r.doc_id, r.core_deg)
            for r in g.g05_kcore(spark, sf_dir).collect()
        }
    finally:
        g.KCORE_ROUNDS = orig
    assert rows == rows_plus

    dup = ("the broadcast hash join keeps the dimension side resident "
           "while probe rows stream through every executor core")
    texts = {0: dup, 1: dup, 2: dup,       # triangle (2-core)
             3: dup + " extra trailing words here",  # may edge weakly
             10: "completely different text about rivers and maps"}
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    core = {
        r.doc_id: r.core_deg
        for r in REGISTRY["g05_kcore"].fn(spark, str(tmp_path)).collect()
    }
    assert {0, 1, 2} <= set(core)
    assert all(core[i] >= 2 for i in (0, 1, 2))
    assert 10 not in core


def test_d10_incremental_merge_equals_full_recompute(spark, sf_dir):
    """base ⊕ delta must BIT-equal the full aggregation for every
    user, and the delta must touch a proper subset of users (so the
    merge path is genuinely exercised from both sides)."""
    from big_data_bowl_spark.queries import REGISTRY

    rows = REGISTRY["d10_incremental_agg_maintenance"].fn(
        spark, sf_dir
    ).collect()
    assert rows
    assert all(r.matches_full for r in rows)
    touched = sum(1 for r in rows if r.touched_by_delta)
    assert 0 < touched <= len(rows)


def test_t23_cusum_detects_level_shift_not_outlier(spark, tmp_path):
    """CUSUM semantics on planted series: a sustained level shift
    compounds past the threshold and alarms; an equal-magnitude
    SINGLE outlier decays back without alarming; a flat series never
    accumulates. Both drift states must also occur on the real
    testdata (non-vacuous)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: flat at 50
    for i in range(40):
        rows.append((eid, t0 + dt.timedelta(minutes=i), 1, "m", 50.0))
        eid += 1
    # user 2: 50 for 20 readings, then shifts to 150 (level shift)
    for i in range(40):
        v = 50.0 if i < 20 else 150.0
        rows.append((eid, t0 + dt.timedelta(minutes=i), 2, "m", v))
        eid += 1
    # user 3: flat at 50 with ONE moderate outlier (sub-threshold)
    for i in range(40):
        v = 330.0 if i == 10 else 50.0
        rows.append((eid, t0 + dt.timedelta(minutes=i), 3, "m", v))
        eid += 1
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.user_id: r
        for r in REGISTRY["t23_cusum_changepoint"].fn(
            spark, str(tmp_path)
        ).collect()
    }
    assert not got[1].drifted and got[1].max_cusum == 0.0
    # user 2: after the shift, each reading adds (150-100)-30 = +20
    # over its own mean -> compounds past h=250 -> alarms
    assert got[2].drifted and got[2].n_alarms > 0
    # user 3: mean = 57.5; the single spike adds ~242 (< h=250) and
    # then drains at ~-37.5 per flat reading — a lone outlier never
    # alarms, which is exactly what separates CUSUM from a simple
    # per-reading threshold
    assert not got[3].drifted and got[3].n_alarms == 0
    assert got[3].max_cusum > 0.0

    real = REGISTRY["t23_cusum_changepoint"].fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    states = {r.drifted for r in real}
    assert states == {True, False}


def test_u04_udtf_matches_oracle_on_edge_whitespace(spark, tmp_path):
    """The UDTF's Python tokenization must replicate the ORACLE
    spelling exactly on the cases where .strip().split() diverges:
    non-space edge whitespace (trim strips spaces ONLY, \\s+ split
    keeps empty edge tokens) and empty text (both engines tokenize
    to [''])."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    texts = {0: "\nhello world\n", 1: "", 2: "  padded  ", 3: "plain"}
    ids = sorted(texts)
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        path,
    )
    q = REGISTRY["u04_python_udtf"]
    got = sorted(
        (r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_text)
        for r in q.fn(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    assert got == want
    # the divergence cases actually exercise: doc 0 has empty edge
    # tokens, doc 1 tokenizes to one empty token
    assert (0, 0, 4, " hello world ") in got
    assert (1, 0, 1, "") in got


def test_v12_mmr_prefers_diversity_over_redundancy(spark, tmp_path):
    """Planted slate: two near-identical high-relevance candidates
    and one distinct medium-relevance candidate. Pure relevance
    ranks the twins 1-2; MMR must pick one twin first, then JUMP to
    the distinct candidate because the second twin's redundancy
    penalty (max-sim to the picked twin ~ 1.0) crushes its score."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import MMR_POOL, N_QUERIES

    rng = np.random.default_rng(7)
    dim = 64
    # queries are mutually orthogonal so they never crowd each
    # other's slates; the planted slate targets query 0 (axis e0)
    vecs = {}
    for i in range(N_QUERIES):
        v = np.zeros(dim); v[10 + i if i else 0] = 1.0
        vecs[i] = v
    # query 0 = (e0+e1)/sqrt(2); twins lie on e0 (cos ~ 0.707 to the
    # query, ~1.0 to each other); distinct lies on e1 (same 0.707
    # relevance, ZERO similarity to the twins) — so relevance alone
    # cannot separate them but diversity decisively can
    vecs[0] = np.zeros(dim); vecs[0][0] = vecs[0][1] = 1 / np.sqrt(2)
    twin_a = np.zeros(dim); twin_a[0] = 1.0
    twin_b = np.zeros(dim); twin_b[0] = 1.0; twin_b[5] = 0.001
    distinct = np.zeros(dim); distinct[1] = 1.0
    vecs[100], vecs[101], vecs[102] = twin_a, twin_b, distinct
    # filler: low-relevance noise to pad the pool
    for i in range(200, 200 + MMR_POOL):
        v = rng.normal(0, 1, dim); v[0] = 0.0
        vecs[i] = v / np.linalg.norm(v) * 0.1
    ids = sorted(vecs)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in vecs[i]] for i in ids],
                    pa.list_(pa.float64()),
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    picks = {}
    for r in REGISTRY["v12_mmr_diversified_topk"].fn(
        spark, str(tmp_path)
    ).collect():
        picks.setdefault(r.query_id, {})[r.pick_rank] = r.cand_id
    by_rank = picks[0]  # the slate was planted for query 0
    # twin_a wins rank 1 (relevance ties with distinct at ~0.707,
    # lowest cand_id breaks it); rank 2 MUST be the distinct
    # candidate: twin_b's redundancy penalty (max-sim ~ 1.0 to the
    # picked twin) crushes its score while distinct pays none
    assert by_rank[1] == 100
    assert by_rank[2] == 102


def test_md5_of_null_columns_do_not_collide(spark):
    """concat_ws silently drops NULL arguments, so without the chr(0)
    sentinel ('a', NULL), (NULL, 'a') and ('a', absent) would all
    hash identically — a deterministic key collision for nullable
    multi-column keys (review r7). The sentinel keeps them distinct
    and matches the md5_sql mirror."""
    import duckdb

    from pyspark.sql import functions as F

    from big_data_bowl_spark.functions.hashing import md5_of, md5_sql

    df = spark.createDataFrame(
        [("a", None), (None, "a"), ("a", "x")], "c1 string, c2 string"
    )
    got = [
        r.h
        for r in df.select(
            md5_of(F.col("c1"), F.col("c2")).alias("h")
        ).collect()
    ]
    assert len(set(got)) == 3  # all distinct

    con = duckdb.connect()
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {md5_sql('c1', 'c2')} FROM (VALUES "
            "('a', NULL), (NULL, 'a'), ('a', 'x')) t(c1, c2)"
        ).fetchall()
    ]
    assert want == got  # cross-engine parity including the sentinel


def test_pivot_fill_type_mismatch_raises(metrics):
    """fill_value must match the value columns' type family: a numeric
    fill on a string value column (or vice versa) raises instead of
    silently stringifying ('0' in a string column was the silent
    failure mode — review r8)."""
    str_df = metrics.select(
        "playId", "position", F.col("s").cast("string").alias("label")
    )
    with pytest.raises(TypeError, match="incompatible"):
        pivot_wide_multi(
            str_df,
            group_cols=["playId"],
            pivot_col="position",
            categories=["SS", "CB"],
            value_cols=["label"],
            agg="first",
            fill_value=0,
        )
    with pytest.raises(TypeError, match="incompatible"):
        pivot_wide_multi(
            metrics,
            group_cols=["playId"],
            pivot_col="position",
            categories=["SS", "CB"],
            value_cols=["s"],
            agg="sum",
            fill_value="missing",
        )


def test_fixedwidth_byte_widths_multibyte_safe(spark, tmp_path):
    """widths are BYTE widths: a multibyte UTF-8 character in one
    field must not shift the byte offsets of later fields."""
    import os

    d = tmp_path / "fw"
    d.mkdir()
    # 'Ä' is 2 bytes in UTF-8: name field = b'\xc3\x84bc ' (6 bytes)
    line = "     7".encode() + "Ä".encode() + b"bc  " + b"     12.50"
    assert len(line) == 6 + 6 + 10
    (d / "part-00000").write_bytes(line + b"\n")
    from big_data_bowl_spark.sources.fixedwidth import FixedWidthDataSource

    spark.dataSource.register(FixedWidthDataSource)
    rows = (
        spark.read.format("fixedwidth")
        .schema("id long, name string, amount double")
        .option("widths", "6,6,10")
        .option("path", str(d))
        .load()
        .collect()
    )
    assert [tuple(r) for r in rows] == [(7, "Äbc", 12.5)]


def test_zorder_writer_prunes_both_dims(spark, sf_dir, tmp_path):
    """write_zordered's layout must make per-FILE column stats prune a
    2D box on BOTH dimensions: scanning only the files whose (min,max)
    stats intersect the box reads fewer rows under the z-order layout
    than under a leading-column sort — measured from the real parquet
    files' footer statistics, and lossless (same rows back)."""
    import pyarrow.parquet as pq

    from big_data_bowl_spark.operators.zorder import (
        interleave2,
        quantize,
        write_zordered,
    )
    from big_data_bowl_spark.sources.io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    codes = li.select(
        quantize(F.col("l_quantity"), 0.0, 50.0, 8).alias("qc"),
        quantize(F.col("l_discount"), 0.0, 0.1, 8).alias("dc"),
    )
    # granularity matters: with too few chunks each z-run straddles
    # quadrant boundaries and z-order loses its locality edge (measured:
    # 8 files -> parity with lex; 32 -> lex scans ~1.4x more rows)
    zpath = str(tmp_path / "zord")
    write_zordered(
        codes, interleave2(F.col("qc"), F.col("dc"), 8), zpath, n_files=32
    )
    lpath = str(tmp_path / "lex")
    write_zordered(codes, F.col("qc"), lpath, n_files=32)

    assert spark.read.parquet(zpath).count() == codes.count()

    box_q, box_d = (51, 102), (51, 127)

    def rows_scanned(path):
        import glob

        total = 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.row_group(0).num_columns)
            }
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                sq = g.column(names["qc"]).statistics
                sd = g.column(names["dc"]).statistics
                if (
                    sq.max >= box_q[0]
                    and sq.min <= box_q[1]
                    and sd.max >= box_d[0]
                    and sd.min <= box_d[1]
                ):
                    total += g.num_rows
        return total

    z_rows, l_rows = rows_scanned(zpath), rows_scanned(lpath)
    assert 0 < z_rows < l_rows, (z_rows, l_rows)


def test_dq06_kanon_classes_cover_table(spark, sf_dir):
    """dq06's equivalence classes must partition the customer table:
    class sizes sum to the row count, l_diversity is within [1, 2],
    and flags agree with the thresholds."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import KANON_K, LDIV_L
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["dq06_k_anonymity"].fn(spark, sf_dir).collect()
    n_customers = load_table(spark, sf_dir, "customer").count()
    assert sum(r.class_size for r in rows) == n_customers
    for r in rows:
        assert 1 <= r.l_diversity <= 2
        assert r.is_k_anonymous == (r.class_size >= KANON_K)
        assert r.is_l_diverse == (r.l_diversity >= LDIV_L)


def test_a23_ols_matches_numpy_polyfit(spark, sf_dir):
    """a23's closed-form slope/intercept must match numpy's least-
    squares fit on the same (quantity, price) points per group."""
    import numpy as np

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    got = {
        r.l_returnflag: r
        for r in REGISTRY["a23_grouped_ols"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).collect()
    by_flag: dict = {}
    for row in li:
        by_flag.setdefault(row.l_returnflag, []).append(
            (row.l_quantity, row.l_extendedprice)
        )
    assert set(got) == set(by_flag)
    for flag, pts in by_flag.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        slope, intercept = np.polyfit(x, y, 1)
        r = np.corrcoef(x, y)[0, 1]
        assert got[flag].n_rows == len(pts)
        assert abs(got[flag].slope - slope) < 1e-4 * max(1, abs(slope))
        assert abs(got[flag].intercept - intercept) < 1e-3 * max(
            1, abs(intercept)
        )
        assert abs(got[flag].r2 - r * r) < 1e-6


def test_a24_welch_matches_reference(spark, sf_dir):
    """a24's t statistic and Welch-Satterthwaite dof must match the
    textbook formulas evaluated in Python over the same values."""
    import math

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import TTEST_A, TTEST_B
    from big_data_bowl_spark.sources.io import load_table

    row = REGISTRY["a24_welch_ttest"].fn(spark, sf_dir).collect()[0]
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value"
    ).collect()
    a = [r.value for r in ev if r.event_type == TTEST_A]
    b = [r.value for r in ev if r.event_type == TTEST_B]

    def mean_var(xs):
        m = sum(xs) / len(xs)
        return m, sum((x - m) ** 2 for x in xs) / (len(xs) - 1)

    ma, va = mean_var(a)
    mb, vb = mean_var(b)
    sea, seb = va / len(a), vb / len(b)
    t_ref = (ma - mb) / math.sqrt(sea + seb)
    dof_ref = (sea + seb) ** 2 / (
        sea**2 / (len(a) - 1) + seb**2 / (len(b) - 1)
    )
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.mean_a - ma) < 1e-6
    assert abs(row.mean_b - mb) < 1e-6
    assert abs(row.t_stat - t_ref) < 1e-6
    assert abs(row.dof - dof_ref) < 1e-3


def test_w11_streaks_match_python_scan(spark, sf_dir):
    """w11's per-user longest streak must equal a single-pass Python
    scan over each user's time-ordered event sequence."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    got = {
        r.user_id: (r.best_streak, r.n_best)
        for r in REGISTRY["w11_longest_streak"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    seqs: dict = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(r.event_type)
    for user, types in seqs.items():
        runs, cur = [], 1
        for prev, nxt in zip(types, types[1:]):
            if nxt == prev:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        best = max(runs)
        assert got[user] == (best, runs.count(best)), user


def test_j12_grid_join_equals_bruteforce(spark, sf_dir):
    """j12's grid-bucketed pair set must equal the O(n^2) brute-force
    pair set at fixture scale — the grid must lose no pairs at cell
    boundaries and produce no duplicates."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import GRID_RADIUS

    q = REGISTRY["j12_grid_radius_join"]
    rows = q.fn(spark, sf_dir).collect()
    pairs = {(r.id_a, r.id_b) for r in rows}
    assert len(pairs) == len(rows)  # no duplicate pairs

    # rebuild the md5-derived coordinates in Python
    import hashlib

    from big_data_bowl_spark.sources.io import load_table

    ids = [
        r.event_id
        for r in load_table(spark, sf_dir, "events")
        .select("event_id")
        .collect()
    ]

    def uni(eid, salt):
        h = hashlib.md5(f"{salt}\x1f{eid}".encode()).hexdigest()
        return int(h[:13], 16) / 16**13 * 100.0

    pts = {e: (uni(e, "jx"), uni(e, "jy")) for e in ids}
    brute = set()
    items = sorted(pts.items())
    for i, (ia, (xa, ya)) in enumerate(items):
        for ib, (xb, yb) in items[i + 1 :]:
            if (xa - xb) ** 2 + (ya - yb) ** 2 <= GRID_RADIUS**2:
                brute.add((min(ia, ib), max(ia, ib)))
    assert pairs == brute


def test_t27_t28_sequence_contracts(spark, sf_dir):
    """t27 match counts and t28 transition matrix agree with a Python
    scan; t28 rows are a proper distribution per from-state."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.temporal import FUNNEL_PATTERN
    from big_data_bowl_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    ).collect()
    seqs: dict = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        seqs.setdefault(r.user_id, []).append(r.event_type)

    want_matches: dict = {}
    trans: dict = {}
    for user, types in seqs.items():
        n = sum(
            1
            for i in range(len(types) - 2)
            if tuple(types[i : i + 3]) == FUNNEL_PATTERN
        )
        if n:
            want_matches[user] = n
        for a, b in zip(types, types[1:]):
            trans[(a, b)] = trans.get((a, b), 0) + 1

    got27 = {
        r.user_id: r.n_matches
        for r in REGISTRY["t27_sequence_pattern"].fn(spark, sf_dir).collect()
    }
    assert got27 == want_matches

    got28 = REGISTRY["t28_markov_transitions"].fn(spark, sf_dir).collect()
    assert {(r.from_type, r.to_type): r.n for r in got28} == trans
    from collections import defaultdict

    psum = defaultdict(float)
    for r in got28:
        psum[r.from_type] += r.p
    for tot in psum.values():
        assert abs(tot - 1.0) < 1e-12


def test_a25_weighted_median_matches_python(spark, sf_dir):
    """a25 equals the definitional weighted median computed in Python:
    smallest value whose cumulative weight reaches half the total."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    got = {
        r.l_returnflag: (r.weighted_median, r.total_weight)
        for r in REGISTRY["a25_weighted_median"].fn(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    groups: dict = {}
    for r in li:
        groups.setdefault(r.l_returnflag, []).append(
            (r.l_extendedprice, r.l_quantity)
        )
    for flag, pts in groups.items():
        pts.sort()
        tot = sum(w for _, w in pts)
        acc = 0.0
        for v, w in pts:
            acc += w
            if 2 * acc >= tot:
                assert got[flag] == (v, int(tot)), flag
                break


def test_o11_group_sample_is_stable_and_exact_k(spark, sf_dir):
    """o11 returns exactly k docs per source, ranks 1..k, and the same
    doc set on repeated runs (determinism, not RNG)."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import GROUP_SAMPLE_K

    fn = REGISTRY["o11_group_sample_topk"].fn
    rows1 = sorted(
        (r.source, r.rk, r.doc_id) for r in fn(spark, sf_dir).collect()
    )
    rows2 = sorted(
        (r.source, r.rk, r.doc_id) for r in fn(spark, sf_dir).collect()
    )
    assert rows1 == rows2
    per_source: dict = {}
    for source, rk, _ in rows1:
        per_source.setdefault(source, []).append(rk)
    for source, rks in per_source.items():
        assert sorted(rks) == list(range(1, GROUP_SAMPLE_K + 1)), source


def test_g06_bfs_matches_python_bfs(spark, sf_dir):
    """g06's hop distances equal a Python BFS (bounded at BFS_ROUNDS)
    from the same seed set over the same d02 candidate pairs."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.graph import BFS_ROUNDS, BFS_SEED_MOD

    pairs = [
        (r.doc_a, r.doc_b)
        for r in REGISTRY["d02_dedup_minhash_lsh"].fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .collect()
    ]
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {n: 0 for n in adj if n % BFS_SEED_MOD == 0}
    frontier = set(dist)
    for hop in range(1, BFS_ROUNDS + 1):
        frontier = {
            v for u in frontier for v in adj[u] if v not in dist
        }
        for v in frontier:
            dist[v] = hop
    got = {
        r.doc_id: r.hops
        for r in REGISTRY["g06_bfs_hops"].fn(spark, sf_dir).collect()
    }
    assert got == dist


def test_t30_attribution_matches_python_scan(spark, sf_dir):
    """t30: each purchase credits the most recent strictly-preceding
    click in the user's (ts, event_id)-ordered sequence."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    ).collect()
    want = {}
    by_user: dict = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    for user, rows in by_user.items():
        last_click = None
        for r in rows:
            if r.event_type == "purchase":
                want[r.event_id] = (
                    None
                    if last_click is None
                    else (
                        last_click.event_id,
                        (lambda d: (d.days * 86_400 + d.seconds)
                         * 1_000_000 + d.microseconds)(
                            r.ts - last_click.ts
                        ),
                    )
                )
            if r.event_type == "click":
                last_click = r
    got = {
        r.purchase_id: (
            None if r.click_id is None else (r.click_id, r.gap_us)
        )
        for r in REGISTRY["t30_last_touch_attribution"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert got == want


def test_v13_truncation_recall_matches_numpy(spark, sf_dir):
    """v13's recall equals a numpy recomputation of full-dim vs
    truncated-dim exact top-k over the same vectors."""
    import numpy as np

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import (
        IVF_TOPK,
        N_QUERIES,
        TRUNC_DIM,
    )
    from big_data_bowl_spark.sources.io import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}

    def topk(qid, dim):
        q = vecs[qid][:dim]
        scored = []
        for cid, v in vecs.items():
            if cid == qid:
                continue
            c = v[:dim]
            cos = float(q @ c / (np.linalg.norm(q) * np.linalg.norm(c)))
            scored.append((-cos, cid))
        scored.sort()
        return {cid for _, cid in scored[:IVF_TOPK]}

    got = {
        r.query_id: r
        for r in REGISTRY["v13_dim_truncation_recall"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(range(N_QUERIES))
    for qid in range(N_QUERIES):
        full = topk(qid, None)
        trunc = topk(qid, TRUNC_DIM)
        n_hit = len(full & trunc)
        assert got[qid].n_hit == n_hit, qid
        assert abs(got[qid].recall - n_hit / IVF_TOPK) < 1e-12


def test_dq07_fd_audit_contract(spark, sf_dir):
    """dq07: the key-determinant FD holds (negative control), every
    row's holds flag agrees with its violation count, and one FD's
    counts match a Python recount."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    rows = {
        r.fd_name: r
        for r in REGISTRY["dq07_functional_dependency"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert rows["nation_key_determines_region"].holds is True
    for r in rows.values():
        assert r.holds == (r.n_violating_keys == 0)
        assert 0 <= r.n_violating_keys <= r.n_keys

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).collect()
    dep: dict = {}
    for r in ev:
        dep.setdefault(r.user_id, set()).add(r.event_type)
    want_viol = sum(1 for s in dep.values() if len(s) > 1)
    got = rows["user_determines_event_type"]
    assert got.n_keys == len(dep)
    assert got.n_violating_keys == want_viol


def test_a26_entropy_matches_python(spark, sf_dir):
    """a26's entropy/gini equal the definitional computation from
    Python counts (within the documented 12-decimal term rounding)."""
    import math

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "lang"
    ).collect()
    counts: dict = {}
    for r in docs:
        counts.setdefault(r.source, {}).setdefault(r.lang, 0)
        counts[r.source][r.lang] += 1
    got = {
        r.source: r
        for r in REGISTRY["a26_class_balance_entropy"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(got) == set(counts)
    for source, by_lang in counts.items():
        n = sum(by_lang.values())
        ps = [c / n for c in by_lang.values()]
        ent = -sum(p * math.log(p) for p in ps)
        gini = 1.0 - sum(p * p for p in ps)
        assert got[source].n_docs == n
        assert got[source].n_classes == len(by_lang)
        assert abs(got[source].entropy - ent) < 1e-8
        assert abs(got[source].gini - gini) < 1e-8


def test_t31_reach_is_monotone_and_totals(spark, sf_dir):
    """t31: cumulative_reach is strictly increasing, ends at the
    distinct-user count, and each row's increment is its n_new_users."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    rows = sorted(
        REGISTRY["t31_cumulative_reach"].fn(spark, sf_dir).collect(),
        key=lambda r: r.hour,
    )
    n_users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    acc = 0
    for r in rows:
        assert r.n_new_users > 0
        acc += r.n_new_users
        assert r.cumulative_reach == acc
    assert acc == n_users


def test_s15_compaction_reduces_files_preserves_rows(spark, sf_dir):
    """s15: the fragmented layout has many files, the compacted one
    has COMPACT_TARGET_FILES, and row counts survive both rewrites."""
    import glob
    import os

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import (
        COMPACT_TARGET_FILES,
        _scratch_dir,
    )
    from big_data_bowl_spark.sources.io import load_table

    rows = REGISTRY["s15_small_file_compaction"].fn(spark, sf_dir).collect()
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert sum(r.n_orders for r in rows) == n_orders

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    frag = glob.glob(
        os.path.join(_scratch_dir(), f"frag_{sf_tag}", "part-*.parquet")
    )
    compact = glob.glob(
        os.path.join(
            _scratch_dir(), f"compact_{sf_tag}", "part-*.parquet"
        )
    )
    assert len(compact) == COMPACT_TARGET_FILES
    assert len(frag) > len(compact)


def test_dq08_diff_classes_reconcile(spark, sf_dir):
    """dq08: class counts recompute from the key rules and partition
    the base table exactly."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import (
        DIFF_CHANGE_MOD,
        DIFF_DROP_MOD,
    )
    from big_data_bowl_spark.sources.io import load_table

    keys = [
        r.o_orderkey
        for r in load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .collect()
    ]
    want = {"removed": 0, "changed": 0, "unchanged": 0}
    for k in keys:
        if k % DIFF_DROP_MOD == 0:
            want["removed"] += 1
        elif k % DIFF_CHANGE_MOD == 0:
            want["changed"] += 1
        else:
            want["unchanged"] += 1
    got = {
        r.diff_class: r.n
        for r in REGISTRY["dq08_snapshot_diff"].fn(spark, sf_dir).collect()
    }
    assert got == {c: n for c, n in want.items() if n > 0}
    assert sum(got.values()) == len(keys)


def test_t32_autocorr_matches_numpy(spark, sf_dir):
    """t32 equals numpy's Pearson correlation of (v, lag v) over each
    type's time-ordered value sequence."""
    import numpy as np

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.sources.io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts", "event_id"
    ).collect()
    seqs: dict = {}
    for r in sorted(ev, key=lambda r: (r.event_type, r.ts, r.event_id)):
        seqs.setdefault(r.event_type, []).append(r.value)
    got = {
        r.event_type: (r.n_pairs, r.lag1_autocorr)
        for r in REGISTRY["t32_lag1_autocorr"].fn(spark, sf_dir).collect()
    }
    for typ, vals in seqs.items():
        v, pv = np.array(vals[1:]), np.array(vals[:-1])
        want = float(np.corrcoef(v, pv)[0, 1])
        assert got[typ][0] == len(v)
        assert abs(got[typ][1] - want) < 1e-7, typ


def test_v14_hybrid_fusion_contract(spark, sf_dir):
    """v14: rrf recomputes from the two ranks, the result is the top
    HYBRID_TOPK by fused score, and both rank lists are consistent
    (1..HYBRID_CAND, no duplicate docs within a list)."""
    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import (
        HYBRID_CAND,
        HYBRID_TOPK,
        RRF_K,
    )

    rows = REGISTRY["v14_hybrid_rrf_search"].fn(spark, sf_dir).collect()
    assert len(rows) == HYBRID_TOPK
    assert [r.rank for r in rows] == list(range(1, HYBRID_TOPK + 1))
    prev = None
    for r in rows:
        want = (1.0 / (RRF_K + r.r_bm) if r.r_bm is not None else 0.0) + (
            1.0 / (RRF_K + r.r_cos) if r.r_cos is not None else 0.0
        )
        assert abs(r.rrf - want) < 1e-15
        for rk in (r.r_bm, r.r_cos):
            if rk is not None:
                assert 1 <= rk <= HYBRID_CAND
        if prev is not None:
            assert (r.rrf, -r.doc_id) <= (prev.rrf, -prev.doc_id)
        prev = r
    assert len({r.doc_id for r in rows}) == HYBRID_TOPK


def test_histogram_degenerate_range_raises():
    """bin_exprs / grouped_histogram_sql reject hi <= lo and
    non-positive bin counts instead of emitting NaN bin indices."""
    import pytest
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.histogram import (
        bin_exprs,
        grouped_histogram_sql,
    )

    for lo, hi, nb in [(5.0, 5.0, 10), (7.0, 3.0, 10), (0.0, 1.0, 0)]:
        with pytest.raises(ValueError):
            bin_exprs(F.col("v"), lo, hi, nb)
        with pytest.raises(ValueError):
            grouped_histogram_sql("t", "g", "v", lo, hi, nb)


def test_bin_bounds_follow_caller_alias(spark):
    """ADVICE r9: bin_exprs' bounds are a function of whatever index
    column the CALLER passes — grouping under a non-'bin_idx' alias
    must still yield correct edges (the old F.col('bin_idx') hardcode
    would throw unresolved-column here)."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.histogram import bin_exprs

    df = spark.createDataFrame([(2.5,), (7.5,), (7.9,)], "v double")
    keep, bin_idx, bin_bounds = bin_exprs(F.col("v"), 0.0, 10.0, 4)
    lo_c, hi_c = bin_bounds(F.col("my_bin"))
    rows = {
        (r.my_bin, r.lo, r.hi, r.n)
        for r in (
            df.filter(keep)
            .groupBy(bin_idx.alias("my_bin"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select("my_bin", lo_c.alias("lo"), hi_c.alias("hi"), "n")
            .collect()
        )
    }
    assert rows == {(1, 2.5, 5.0, 1), (3, 7.5, 10.0, 2)}


def test_j13_deletion_blocking_exact_recall(spark, tmp_path):
    """j13's deletion-neighborhood blocking must equal brute-force
    all-pairs levenshtein <= 1 — including the prefix-divergent pair
    class j11's blocking documents as its miss (two names differing
    at position 1), insertion pairs (length mismatch), and exact
    duplicates (dist 0)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    names = [
        "alphabetical-name-x",   # 0
        "blphabetical-name-x",   # 1: substitution at pos 1 (j11 miss)
        "alphabetical-name-xy",  # 2: insertion at the end
        "alphabeticalname-x",    # 3: deletion mid-string
        "alphabetical-name-x",   # 4: exact duplicate of 0
        "completely-different",  # 5: no partner
        "alphabetical-nbme-q",   # 6: 2 edits from 0 -> excluded
    ]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(len(names)), pa.int64()),
                "c_name": pa.array(names),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb),
                    )
                )
            prev = cur
        return prev[-1]

    want = {
        (i, j, lev(names[i], names[j]))
        for i in range(len(names))
        for j in range(i + 1, len(names))
        if lev(names[i], names[j]) <= 1
    }
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in REGISTRY["j13_fuzzy_match_deletion_blocking"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == want
    # the planted j11-miss pair is really in there
    assert (0, 1, 1) in got and (0, 4, 0) in got and (0, 2, 1) in got


def test_fuzzy_bucket_cap_under_adversarial_skew(spark, tmp_path):
    """VERDICT r10 item 2: a hot blocking key — here 150 byte-identical
    names, which share EVERY deletion variant (j13) and the prefix
    (j11) — concentrates O(bucket^2) pair emission in one task; the
    max_bucket cap threaded from the d02 family must drop exactly
    those buckets while keeping ordinary fuzzy pairs, and the
    oversized_buckets audit must name what was dropped."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from big_data_bowl_spark.queries.extras import (
        _fuzzy_blocked_pairs,
        _j11_blocking_table,
        j11_fuzzy_name_match_capped,
        j13_fuzzy_match_deletion_blocking_capped,
    )

    hot = "hotname-duplicate-cluster"
    names = [hot] * 150 + [
        "unique-alice-smith1",   # 150: genuine near-pair (sub at the
        "unique-alice-smith2",   # 151: last char, inside j11's prefix)
        "completely-unrelated",  # 152
    ]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(len(names)), pa.int64()),
                "c_name": pa.array(names),
            }
        ),
        str(tmp_path / "customer.parquet"),
    )
    sf = str(tmp_path)

    for capped_fn in (
        j13_fuzzy_match_deletion_blocking_capped,
        j11_fuzzy_name_match_capped,
    ):
        matches, audit = capped_fn(spark, sf, 50)
        got = {(r.key_a, r.key_b) for r in matches.collect()}
        # the hot cluster is gone, the genuine near-pair survives
        assert (150, 151) in got
        assert not any(a < 150 and b < 150 for a, b in got)
        audit_rows = audit.collect()
        assert audit_rows and all(
            r.bucket_size == 150 for r in audit_rows
        )
    # j13: every one of the hot name's len+1 deletion keys (deduped
    # per row) is its own oversized bucket; j11: exactly one prefix
    _, j13_audit = j13_fuzzy_match_deletion_blocking_capped(spark, sf, 50)
    assert j13_audit.count() == len(hot) + 1
    _, j11_audit = j11_fuzzy_name_match_capped(spark, sf, 50)
    assert j11_audit.count() == 1

    with pytest.raises(ValueError, match="max_bucket"):
        _fuzzy_blocked_pairs(
            _j11_blocking_table(spark, sf), "blk", max_bucket=1
        ).count()


def test_lsh_bucket_cap_under_adversarial_skew(spark):
    """VERDICT r9 item 5: an adversarial corpus (hundreds of
    byte-identical docs) puts them all in one bucket per band; the
    max_bucket cap must drop exactly those buckets — collapsing the
    quadratic pair blowup — while keeping ordinary near-dup pairs,
    and the oversized_buckets audit must name what was dropped."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.nlp import (
        _minhash_bands,
        _pairs_from_bands,
    )

    hot_text = "the quick brown fox jumps over the lazy dog again " * 4
    near_a = "a wholly different document about spark shuffles " * 4
    near_b = near_a + "with one extra trailing clause"
    rows = [(i, hot_text) for i in range(200)]
    rows += [(1000, near_a), (1001, near_b)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bands = _minhash_bands(docs).cache()
    try:
        uncapped = _pairs_from_bands(bands).count()
        # 200 identical docs alone contribute C(200,2) = 19900 pairs
        assert uncapped >= 19900

        capped = {
            (r.doc_a, r.doc_b)
            for r in _pairs_from_bands(bands, max_bucket=50).collect()
        }
        # the hot cluster is gone, the genuine near-dup pair survives
        assert (1000, 1001) in capped
        assert not any(a < 1000 and b < 1000 for a, b in capped)

        audit = oversized_buckets(bands, ("band", "bkey"), 50).collect()
        assert audit and all(r.bucket_size == 200 for r in audit)

        import pytest

        with pytest.raises(ValueError, match="max_bucket"):
            _pairs_from_bands(bands, max_bucket=1)
    finally:
        bands.unpersist()


def test_fuzzy_null_blocking_keys_never_pair_and_never_bypass_cap(
    spark,
):
    """r16 review finding: a NULL blocking key must not pair (SQL
    equi-join semantics — every oracle spells the blocker as an
    equi-join, where NULL = NULL is false) and must not slip through
    the capped path's left_anti pre-filter (anti joins don't match
    NULL keys), which would re-materialize the unbounded reducer
    array the cap exists to prevent. Plant an oversized NULL-key
    bucket next to a normal pair and check both spellings."""
    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.extras import _fuzzy_blocked_pairs
    from pyspark.sql import functions as F

    # 60 rows whose blocking key is NULL + one genuine near-pair
    keyed = spark.createDataFrame(
        [(i, f"null-keyed-{i}", None) for i in range(60)]
        + [(100, "unique-alice-smith1", "blockA"),
           (101, "unique-alice-smith2", "blockA")],
        "c_custkey long, c_name string, blk string",
    )
    # uncapped: no pair may come from the NULL bucket
    got = {
        (r["a"]["c_custkey"], r["b"]["c_custkey"])
        for r in _fuzzy_blocked_pairs(keyed, "blk").collect()
    }
    assert got == {(100, 101)}
    # capped below the NULL bucket's size: still only the real pair,
    # and the audit reports no NULL bucket (it was excluded by the
    # null-key rule, not dropped by the cap)
    got_capped = {
        (r["a"]["c_custkey"], r["b"]["c_custkey"])
        for r in _fuzzy_blocked_pairs(keyed, "blk", max_bucket=50).collect()
    }
    assert got_capped == {(100, 101)}
    audit = oversized_buckets(keyed, ("blk",), 50).collect()
    assert audit == []


def test_srp_bucket_cap_under_degenerate_collinear_corpus(spark):
    """VERDICT r14 item 3 — the d02 skew treatment for the VECTOR
    side: a near-collinear embedding corpus (every vector a tiny
    perturbation of one direction — a bad encoder run) lands whole
    in ONE SRP bucket, whose collect_list would buffer bucket x dim
    doubles on a single reducer and then explode O(bucket^2) pairs.
    The max_bucket cap must drop exactly that bucket — BEFORE the
    vector-carrying collect — while keeping ordinary near-dup pairs
    in cold buckets, and oversized_buckets must name what was
    dropped."""
    import random

    import pytest

    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.vectors import (
        EMBED_DIM,
        _srp_pairs,
        _srp_withb,
    )

    rng = random.Random(7)
    base = [rng.uniform(0.5, 1.0) for _ in range(EMBED_DIM)]
    # 120 near-collinear vectors: same plane-projection signs ->
    # same SRP bucket; pairwise cosine ~1 -> every pair passes the
    # threshold, the full quadratic blowup
    hot = [
        (
            i,
            [x * (1.0 + 1e-9 * rng.random()) for x in base],
        )
        for i in range(120)
    ]
    # a genuine near-dup pair in a DIFFERENT bucket: -base flips
    # every projection sign, so its bucket is the bit-complement
    cold = [
        (1000, [-x for x in base]),
        (1001, [-x * 1.0001 for x in base]),
    ]
    e = spark.createDataFrame(
        hot + cold, "vec_id long, embedding array<double>"
    )
    withb = _srp_withb(e).cache()
    try:
        hot_bucket = withb.filter(F.col("vec_id") == 0).collect()[0][
            "bucket"
        ]
        cold_bucket = withb.filter(F.col("vec_id") == 1000).collect()[
            0
        ]["bucket"]
        assert hot_bucket != cold_bucket

        uncapped = _srp_pairs(withb).count()
        assert uncapped >= 120 * 119 // 2  # the quadratic blowup

        capped = {
            (r.vec_a, r.vec_b)
            for r in _srp_pairs(withb, max_bucket=50).collect()
        }
        assert (1000, 1001) in capped  # cold-bucket pair survives
        assert not any(a < 1000 and b < 1000 for a, b in capped)

        audit = oversized_buckets(withb, ("bucket",), 50).collect()
        assert [(r.bucket, r.bucket_size) for r in audit] == [
            (hot_bucket, 120)
        ]

        with pytest.raises(ValueError, match="max_bucket"):
            _srp_pairs(withb, max_bucket=1)
    finally:
        withb.unpersist()


def test_bucket_pairs_emission_policy(spark):
    """The bucket-pair operator's contract on a 3-member bucket, a
    singleton and a NULL-key group: exactly the 3 sorted i<j pairs,
    none from the NULL group (SQL equi-join rule), none from a bucket
    over the cap, and a cap below 2 rejected up front."""
    from big_data_bowl_spark.functions.banding import bucket_pairs

    df = spark.createDataFrame(
        [(7, "k"), (3, "k"), (5, "k"), (9, "solo"), (1, None), (2, None)],
        "id long, key string",
    )

    def pairs(max_bucket=None):
        out = bucket_pairs(df, ("key",), "id", max_bucket).collect()
        return sorted((r.key, r.a, r.b) for r in out)

    assert pairs() == [("k", 3, 5), ("k", 3, 7), ("k", 5, 7)]
    assert pairs(max_bucket=3) == pairs()
    assert pairs(max_bucket=2) == []
    with pytest.raises(ValueError, match="max_bucket"):
        bucket_pairs(df, ("key",), "id", max_bucket=1)


def test_d12_incremental_union_equals_full_recompute(spark, sf_dir):
    """The incremental-maintenance contract: the full d02 candidate
    set is EXACTLY the base-only pairs plus d12's delta-driven pairs
    (disjointly), so applying d12 on each ingest batch converges to
    the same index a full recompute would build."""
    from big_data_bowl_spark.queries import REGISTRY

    full = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["d02_dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    incr = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["d12_incremental_lsh_maintenance"]
        .fn(spark, sf_dir)
        .collect()
    }
    is_delta = lambda i: i % 10 == 0  # noqa: E731
    base_only = {
        (a, b) for a, b in full if not is_delta(a) and not is_delta(b)
    }
    assert incr == full - base_only          # exactly the delta-driven pairs
    assert base_only | incr == full          # disjoint decomposition
    assert all(is_delta(a) or is_delta(b) for a, b in incr)
    assert incr                              # non-vacuous at sf0.001+


def test_o13_temporal_split_no_leakage(spark, sf_dir):
    """The temporal split's defining property: every training row
    precedes every test row (max train ts <= min test ts), the counts
    cover the table exactly, and the cut matches numpy's linear-
    interpolation quantile on the raw timestamps."""
    import numpy as np
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    rows = {
        r.split: r
        for r in REGISTRY["o13_temporal_split"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"train", "test"}
    tr, te = rows["train"], rows["test"]
    assert tr.max_ts <= te.min_ts          # the no-leakage guarantee
    assert tr.min_ts <= tr.max_ts and te.min_ts <= te.max_ts

    ts = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts"])["ts"]
    us = np.sort(ts.cast("int64").to_numpy())
    assert tr.n_rows + te.n_rows == len(us)
    cut = np.quantile(us, 0.8, method="linear")
    assert tr.n_rows == int((us <= cut).sum())


def test_a09b_approx_quantiles_vs_numpy(spark, sf_dir):
    """a09b: the exact p50/p90/p99 must match numpy's linear
    interpolation on the raw column (the a09 definition), and every
    within-tolerance boolean must be genuinely TRUE — the invariant
    the driver oracle pins."""
    import numpy as np
    import pyarrow.parquet as pq
    import os

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import _QUANTILE_PS

    rows = {
        r.l_returnflag: r
        for r in REGISTRY["a09b_grouped_quantiles_approx"]
        .fn(spark, sf_dir)
        .collect()
    }
    tbl = pq.read_table(
        os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_returnflag", "l_extendedprice"],
    ).to_pandas()
    for flag, grp in tbl.groupby("l_returnflag"):
        r = rows[flag]
        for p in _QUANTILE_PS:
            want = float(
                np.quantile(
                    grp["l_extendedprice"].to_numpy(), p, method="linear"
                )
            )
            got = getattr(r, f"p{int(p * 100)}")
            assert abs(got - round(want, 9)) < 1e-6, (flag, p)
            assert getattr(r, f"p{int(p * 100)}_within") is True


def test_fuzzy_capped_registered_facets(spark, sf_dir):
    """r12 (VERDICT r11 item 3): the gate-registered capped spellings
    j11b/j13b must (a) carry the executed production function's
    matches verbatim in the 'match' facet, (b) name every dropped
    bucket in the audit facet, and (c) satisfy the cap equivalence:
    capped matches == uncapped matches minus the pairs whose EVERY
    shared blocking key was audited out."""
    from big_data_bowl_spark.functions.banding import oversized_buckets
    from big_data_bowl_spark.queries.extras import (
        FUZZY_MAX_BUCKET_J13,
        j13_fuzzy_match_deletion_blocking,
        j13_fuzzy_match_deletion_blocking_capped,
        j13b_fuzzy_capped_audit,
        j11b_fuzzy_capped_audit,
        FUZZY_MAX_BUCKET_J11,
        _j11_blocking_table,
        _j13_key_table,
    )

    out = j13b_fuzzy_capped_audit(spark, sf_dir).collect()
    got_pairs = {
        (r.key_a, r.key_b, r.dist) for r in out if r.facet == "match"
    }
    got_audit = {
        (r.bkey, r.bucket_size)
        for r in out
        if r.facet == "oversized_bucket"
    }
    matches, audit = j13_fuzzy_match_deletion_blocking_capped(
        spark, sf_dir, FUZZY_MAX_BUCKET_J13
    )
    assert got_pairs == {
        (r.key_a, r.key_b, r.dist) for r in matches.collect()
    }
    assert got_audit == {
        (r.k, r.bucket_size) for r in audit.collect()
    }
    # every audited bucket really exceeds the cap
    assert all(n > FUZZY_MAX_BUCKET_J13 for _, n in got_audit)

    # cap equivalence on the real table: a pair drops iff every
    # shared deletion key is oversized
    unc = {
        (r.key_a, r.key_b)
        for r in j13_fuzzy_match_deletion_blocking(spark, sf_dir)
        .collect()
    }
    capped_keys = {(a, b) for a, b, _ in got_pairs}
    assert capped_keys <= unc
    dropped = unc - capped_keys
    if dropped:  # sf0.01 bites; tiny sf may not
        hot = {k for k, _ in got_audit}
        keyed = {}
        for r in _j13_key_table(spark, sf_dir).collect():
            keyed.setdefault(r.c_custkey, set()).add(r.k)
        for a, b in dropped:
            assert keyed[a] & keyed[b] <= hot

    # j11b at any sf: audit facet == banding.oversized_buckets exactly
    out11 = j11b_fuzzy_capped_audit(spark, sf_dir).collect()
    audit11 = {
        (r.bkey, r.bucket_size)
        for r in out11
        if r.facet == "oversized_bucket"
    }
    want11 = {
        (r.blk, r.bucket_size)
        for r in oversized_buckets(
            _j11_blocking_table(spark, sf_dir), ("blk",), FUZZY_MAX_BUCKET_J11
        ).collect()
    }
    assert audit11 == want11 and want11
