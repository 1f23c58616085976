"""Randomized cross-checks: Spark operators vs tiny pure-Python
reference implementations (union-find, nested-loop as-of). Fixed
seeds keep runs deterministic; sizes stay small because each example
is a full Spark job."""

from __future__ import annotations

import random

import pytest

from big_data_bowl_spark.operators.asof import asof_join
from big_data_bowl_spark.operators.components import connected_components


def _uf_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in {x for e in edges for x in e}}


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_connected_components_matches_union_find(spark, seed):
    rng = random.Random(seed)
    n = 40
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(30)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    expect = _uf_components(n, edges)
    got = {
        r["node"]: r["comp"]
        for r in connected_components(
            spark.createDataFrame(edges, "src long, dst long")
        ).collect()
    }
    assert got == expect


def _ref_asof(left, right):
    out = {}
    for k, eid, lts in left:
        best = None
        for rk, rts, val in right:
            if rk == k and rts <= lts and (best is None or rts > best[0]):
                best = (rts, val)
        out[eid] = best
    return out


@pytest.mark.parametrize("seed", [3, 9, 42])
def test_asof_join_matches_nested_loop(spark, seed):
    rng = random.Random(seed)
    left = [
        (rng.randrange(5), i, rng.randrange(100)) for i in range(60)
    ]
    # unique (key, ts) on the right, as the operator contract requires
    right_keys = {(rng.randrange(5), rng.randrange(100)) for _ in range(40)}
    right = [(k, ts, float(k * 1000 + ts)) for k, ts in right_keys]
    expect = _ref_asof(left, right)
    got = {
        r["event_id"]: (
            None if r["ts_r"] is None else (r["ts_r"], r["val"])
        )
        for r in asof_join(
            spark.createDataFrame(left, "k long, event_id long, ts long"),
            spark.createDataFrame(right, "k long, ts long, val double"),
            on="k",
        ).collect()
    }
    assert got == expect


@pytest.mark.parametrize("seed", [7, 21])
def test_global_row_number_matches_sorted_rank(spark, seed):
    """Random (skewed, duplicate-bearing, negative) keys: the two-phase
    rank must emit exactly {1..n} and respect key order."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.rank import with_global_row_number

    rng = random.Random(seed)
    keys = (
        [rng.randrange(-50, 50) for _ in range(200)]
        + [7] * 50  # heavy duplicate run
        + [rng.gauss(0, 1000) for _ in range(50)]
    )
    df = spark.createDataFrame([(float(k),) for k in keys], "k double")
    got = with_global_row_number(df, "k", num_buckets=13).collect()
    assert sorted(r.row_num for r in got) == list(range(1, len(keys) + 1))
    by_rank = sorted(got, key=lambda r: r.row_num)
    ks = [r.k for r in by_rank]
    assert ks == sorted(ks)  # nondecreasing key along the ordinal


def test_registry_priority_list_is_consistent():
    """Every _PRIORITY name must exist (typos would silently demote a
    query), and queries()/oracle_sql() must agree with REGISTRY."""
    from big_data_bowl_spark.queries import (
        REGISTRY,
        _PRIORITY,
        oracle_sql,
        queries,
    )

    missing = set(_PRIORITY) - set(REGISTRY)
    assert not missing, f"_PRIORITY names not in REGISTRY: {missing}"
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate priority names"
    q = queries()
    assert set(q) == set(REGISTRY)
    assert set(oracle_sql()) == {
        n for n, s in REGISTRY.items() if s.oracle is not None
    }


def test_md5_parity_hashlib_spark_duckdb(spark):
    """The entire deterministic-sampling/minhash/oracle stack rests on
    md5 being bit-identical across Python, Spark and DuckDB — pin it
    over awkward strings (unicode, empty, whitespace, separators)."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    rng = random.Random(1234)
    pool = "abc \t\nへんな字🦆'|\x1f%_0123"
    strings = ["", " ", "\x1f", "a|b", "'quote'"] + [
        "".join(rng.choice(pool) for _ in range(rng.randrange(1, 30)))
        for _ in range(40)
    ]
    expected = {s: hashlib.md5(s.encode("utf-8")).hexdigest() for s in strings}

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got_spark = {r.s: r.h for r in df.select("s", F.md5(F.col("s").cast("binary")).alias("h")).collect()}
    assert got_spark == expected

    con = duckdb.connect()
    for s in strings:
        (h,) = con.execute("SELECT md5(?)", [s]).fetchone()
        assert h == expected[s], repr(s)


def _ref_funnel(events, steps):
    """Brute-force per-user funnel: earliest step k strictly after the
    matched step k-1."""
    by_user: dict[int, list[tuple[str, int]]] = {}
    for u, et, ts in events:
        by_user.setdefault(u, []).append((et, ts))
    out = {}
    for u, evs in by_user.items():
        times, prev = [], None
        for step in steps:
            cand = [
                ts for et, ts in evs
                if et == step and (prev is None or ts > prev)
            ]
            if not cand:
                break
            prev = min(cand)
            times.append(prev)
        out[u] = (
            tuple(times) + (None,) * (len(steps) - len(times)),
            len(times),
        )
    return out


@pytest.mark.parametrize("seed", [3, 11, 23])
def test_ordered_funnel_matches_bruteforce(spark, seed):
    import datetime as dt

    from big_data_bowl_spark.operators.funnel import ordered_funnel

    rng = random.Random(seed)
    steps = ["a", "b", "c"]
    t0 = dt.datetime(2026, 1, 1)
    events = [
        (
            rng.randrange(8),
            rng.choice(["a", "b", "c", "x"]),
            rng.randrange(50),
        )
        for _ in range(120)
    ]
    # duplicate timestamps per user exercise the strict inequality
    expect = _ref_funnel(events, steps)

    df = spark.createDataFrame(
        [
            (u, et, t0 + dt.timedelta(minutes=m))
            for u, et, m in events
        ],
        "user_id long, event_type string, ts timestamp",
    )
    got = {
        r.user_id: (
            tuple(
                None
                if v is None
                else int((v - t0).total_seconds() // 60)
                for v in (r.t_a, r.t_b, r.t_c)
            ),
            r.funnel_depth,
        )
        for r in ordered_funnel(df, steps).collect()
    }
    assert got == expect


@pytest.mark.parametrize("seed", [3, 11])
def test_triangle_count_matches_bruteforce(spark, seed):
    """g04's wedge-join enumeration vs an O(n^3) reference on random
    graphs, exercised through the reusable shape (direct edge input
    rather than the LSH chain)."""
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    n = 14
    und = {
        tuple(sorted((rng.randrange(n), rng.randrange(n))))
        for _ in range(26)
    }
    und = {(a, b) for a, b in und if a != b}
    tri_ref = {v: 0 for e in und for v in e}
    nodes = sorted(tri_ref)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            for c in nodes[nodes.index(b) + 1:]:
                if ((a, b) in und and (b, c) in und and (a, c) in und):
                    tri_ref[a] += 1
                    tri_ref[b] += 1
                    tri_ref[c] += 1

    e = spark.createDataFrame(sorted(und), "u long, v long")
    wedge = e.alias("e1").join(
        e.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("a"),
        F.col("e1.v").alias("b"),
        F.col("e2.v").alias("c"),
    )
    tri = wedge.join(
        e.alias("e3"),
        (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
        "left_semi",
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    got = {
        r.node: r.n
        for r in corners.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    expect = {v: c for v, c in tri_ref.items() if c > 0}
    assert got == expect


@pytest.mark.parametrize("seed", [5, 19])
def test_kmv_estimate_matches_order_statistic(spark, seed, tmp_path):
    """a15's KMV estimate vs the same order statistic computed in
    pure Python from hashlib md5 — the sketch must be a deterministic
    function of the key set, not of Spark's execution."""
    import hashlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.extras import KMV_K

    rng = random.Random(seed)
    users = rng.sample(range(100_000), 60)
    rows = [(i, users[i % len(users)], "x") for i in range(300)]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    hashes = sorted(
        hashlib.md5(str(u).encode()).hexdigest()[:13] for u in set(users)
    )
    u_k = int(hashes[KMV_K - 1], 16) / float(16**13)
    import math
    expect = math.floor((KMV_K - 1) / u_k * 1e6 + 0.5) / 1e6
    got = REGISTRY["a15_kmv_distinct_sketch"].fn(
        spark, str(tmp_path)
    ).collect()
    assert len(got) == 1
    assert got[0].n_exact == len(set(users))
    assert got[0].kmv_est == expect


def test_bpe_oracle_matches_reference_bpe_fuzz():
    """The n20/n21 DuckDB oracles vs a direct reference BPE
    implementation (Sennrich-style: overlapping pair counts, greedy
    left-to-right non-overlapping merge application) over random
    tiny corpora — runs, ties, empties, and letterless docs
    included. The Spark side is hash-matched to the oracle by the
    driver gate, so oracle == reference closes the triangle without
    a Spark session."""
    import random
    import re

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.nlp import (
        BPE_PREFIX,
        BPE_SAMPLE_MOD,
        N_BPE_MERGES,
    )

    def norm(text):
        return re.sub(r"[^a-z ]", "", text.lower()).replace(" ", "_")

    def ref_train(texts):
        docs = [list(norm(t)[:BPE_PREFIX]) for t in texts]
        merges = []
        for _ in range(N_BPE_MERGES):
            counts = {}
            for d in docs:
                for a, b in zip(d, d[1:]):  # overlapping counts
                    counts[(a, b)] = counts.get((a, b), 0) + 1
            if not counts:
                merges.append(("", "", 0))
                continue
            (left, right), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((left, right, c))
            docs = [ref_apply(d, left, right) for d in docs]
        return merges

    def ref_apply(d, left, right):
        out, i = [], 0
        while i < len(d):  # greedy left-to-right, non-overlapping
            if i + 1 < len(d) and d[i] == left and d[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(d[i])
                i += 1
        return out

    rng = random.Random(97)
    import tempfile

    # ~6 s/trial (the unrolled merge-round SQL is planning-heavy in
    # DuckDB), so the trial count trades coverage for suite latency;
    # the seeded mix hits empties, letterless docs, runs and count
    # ties within the first few trials
    for trial in range(8):
        n_docs = rng.randint(1, 8)
        texts = []
        for _ in range(n_docs):
            kind = rng.random()
            if kind < 0.15:
                texts.append("")  # empty
            elif kind < 0.3:
                texts.append("123 !?")  # letterless
            else:
                # small alphabet maximizes runs and count ties
                texts.append(
                    " ".join(
                        "".join(
                            rng.choice("aab") for _ in range(rng.randint(1, 6))
                        )
                        for _ in range(rng.randint(1, 5))
                    )
                )
        with tempfile.TemporaryDirectory() as td:
            pq.write_table(
                pa.table(
                    {
                        "doc_id": pa.array(range(n_docs), pa.int64()),
                        "text": pa.array(texts),
                        "source": pa.array(["x"] * n_docs),
                    }
                ),
                f"{td}/documents.parquet",
            )
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{td}/documents.parquet')"
            )
            # training: oracle merge table == reference merge table
            got = {
                r[0]: (r[1], r[2], r[4])
                for r in con.execute(
                    REGISTRY["n20_bpe_train"].oracle
                ).fetchall()
            }
            sampled = [
                t for i, t in enumerate(texts) if i % BPE_SAMPLE_MOD == 0
            ]
            want = dict(enumerate(ref_train(sampled)))
            assert got == want, (trial, texts, got, want)
            # tokenization: oracle token counts == reference apply
            merges = [m for m in want.values() if m[0] or m[1]]
            tok_got = {
                r[0]: r[1]
                for r in con.execute(
                    REGISTRY["n21_bpe_tokenize"].oracle
                ).fetchall()
            }
            for i, t in enumerate(texts):
                d = list(norm(t))
                for left, right, _c in merges:
                    d = ref_apply(d, left, right)
                assert tok_got[i] == max(len(d), 1), (trial, i, t, d)


@pytest.mark.parametrize("seed", [3, 11])
def test_grouped_histogram_matches_python_reference(spark, seed):
    """Random values/groups/ranges: the Spark histogram must equal a
    pure-Python binning, and bin counts must partition the
    strict-range subset exactly."""
    import math

    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.histogram import grouped_histogram

    rng = random.Random(seed)
    lo = rng.uniform(-50, 0)
    hi = lo + rng.uniform(1, 100)
    nbins = rng.randrange(1, 30)
    width = (hi - lo) / nbins
    rows = [
        (rng.choice("abc"), rng.uniform(lo - 10, hi + 10))
        for _ in range(300)
    ]
    expect: dict[tuple, int] = {}
    for g, v in rows:
        if lo < v < hi:
            b = math.floor((v - lo) / width)
            expect[(g, b)] = expect.get((g, b), 0) + 1
    df = spark.createDataFrame(rows, "grp_in string, v double")
    got = {
        (r.grp, r.bin_idx): r.n
        for r in grouped_histogram(
            df, "grp_in", F.col("v"), lo, hi, nbins
        ).collect()
    }
    assert got == expect
    assert sum(got.values()) == sum(
        1 for _g, v in rows if lo < v < hi
    )


@pytest.mark.parametrize("seed", [5, 19])
def test_morton_interleave_matches_python_reference(spark, seed):
    """quantize + interleave2 vs a pure-Python Morton encoder on
    random points; codes must be pure functions of the values."""
    from pyspark.sql import functions as F

    from big_data_bowl_spark.operators.zorder import interleave2, quantize

    rng = random.Random(seed)
    bits = rng.randrange(2, 12)
    lo_x, hi_x = 0.0, rng.uniform(1, 1000)
    lo_y, hi_y = -rng.uniform(1, 500), rng.uniform(1, 500)
    pts = [
        (i, rng.uniform(lo_x - 5, hi_x + 5), rng.uniform(lo_y - 5, hi_y + 5))
        for i in range(200)
    ]

    import math

    def q(v, lo, hi):
        n = (1 << bits) - 1
        scaled = (v - lo) / (hi - lo) * n
        return int(math.floor(min(max(scaled, 0.0), float(n)) + 0.5))

    def morton(xc, yc):
        z = 0
        for i in range(bits):
            z |= ((xc >> i) & 1) << (2 * i + 1)
            z |= ((yc >> i) & 1) << (2 * i)
        return z

    expect = {
        i: morton(q(x, lo_x, hi_x), q(y, lo_y, hi_y)) for i, x, y in pts
    }
    df = spark.createDataFrame(pts, "id long, x double, y double")
    got = {
        r.id: r.z
        for r in df.select(
            "id",
            interleave2(
                quantize(F.col("x"), lo_x, hi_x, bits),
                quantize(F.col("y"), lo_y, hi_y, bits),
                bits,
            ).alias("z"),
        ).collect()
    }
    assert got == expect


def _ref_weighted_median(pts):
    """Smallest value whose cumulative weight reaches half the total."""
    pts = sorted(pts)
    tot = sum(w for _, w in pts)
    acc = 0
    for v, w in pts:
        acc += w
        if 2 * acc >= tot:
            return v


@pytest.mark.parametrize("seed", [3, 11, 99])
def test_weighted_median_window_matches_reference(spark, seed):
    """The a25 cumulative-weight-window spelling equals the
    definitional weighted median on random integer-weighted points,
    including duplicate values and weight ties."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    rows = [
        (rng.randrange(3), float(rng.randrange(20)), rng.randrange(1, 6), i)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "grp int, v double, wt int, rid int"
    )
    w_ord = (
        Window.partitionBy("grp")
        .orderBy("v", "rid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp")
    got = {
        r.grp: r.wm
        for r in df.select(
            "grp",
            "v",
            F.sum("wt").over(w_ord).alias("cw"),
            F.sum("wt").over(w_all).alias("tw"),
        )
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(F.min("v").alias("wm"))
        .collect()
    }
    for grp in set(r[0] for r in rows):
        pts = [(v, wt) for g, v, wt, _ in rows if g == grp]
        assert got[grp] == _ref_weighted_median(pts), (seed, grp)


@pytest.mark.parametrize("seed", [5, 23])
def test_ols_sufficient_stats_match_numpy(spark, seed):
    """The a23 sufficient-statistics OLS reconstruction equals numpy's
    least-squares fit on random 2-decimal data."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    rows = [
        (
            rng.randrange(2),
            float(rng.randrange(1, 50)),
            round(rng.uniform(10, 1000), 2),
            i,
        )
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "grp int, x double, y double, rid int")
    s = df.groupBy("grp").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast("decimal(28,2)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,2)"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    got = {
        r.grp: (
            (r.n * r.sxy - r.sx * r.sy) / (r.n * r.sxx - r.sx * r.sx),
            (r.sy - (r.n * r.sxy - r.sx * r.sy)
             / (r.n * r.sxx - r.sx * r.sx) * r.sx) / r.n,
        )
        for r in s.collect()
    }
    for grp in set(r[0] for r in rows):
        xs = np.array([x for g, x, _, _ in rows if g == grp])
        ys = np.array([y for g, _, y, _ in rows if g == grp])
        slope, intercept = np.polyfit(xs, ys, 1)
        assert abs(got[grp][0] - slope) < 1e-9 * max(1, abs(slope))
        assert abs(got[grp][1] - intercept) < 1e-7 * max(1, abs(intercept))


@pytest.mark.parametrize("seed", [2, 13])
def test_grid_radius_join_boundary_points(spark, seed):
    """Grid-bucketed radius join on ADVERSARIAL points — many exactly
    on cell boundaries (multiples of r) and pairs at exactly distance
    r — must equal O(n^2) brute force: the classic neighbor-cell
    off-by-one hides exactly there."""
    from pyspark.sql import functions as F

    r = 0.5
    rng = random.Random(seed)
    pts = {}
    for i in range(40):
        if i % 3 == 0:
            # exactly on a cell-boundary lattice point
            x = r * rng.randrange(0, 8)
            y = r * rng.randrange(0, 8)
        elif i % 3 == 1:
            # exactly r away from a previous point, axis-aligned
            if pts:
                px, py = pts[rng.choice(list(pts))]
                x, y = px + r, py
            else:
                x = y = 0.0
        else:
            x = rng.uniform(0, 4)
            y = rng.uniform(0, 4)
        pts[i] = (x, y)

    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in pts.items()],
        "event_id long, x double, y double",
    )
    g = df.select(
        "event_id",
        "x",
        "y",
        F.floor(F.col("x") / r).cast("int").alias("cx"),
        F.floor(F.col("y") / r).cast("int").alias("cy"),
    )
    offsets = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("int").alias("dx"),
        (F.floor(F.col("id") / 3) - 1).cast("int").alias("dy"),
    )
    a = g.crossJoin(F.broadcast(offsets)).select(
        F.col("event_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("jcx"),
        (F.col("cy") + F.col("dy")).alias("jcy"),
    )
    b = g.select(
        F.col("event_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        "cx",
        "cy",
    )
    d2 = (F.col("xa") - F.col("xb")) ** 2 + (F.col("ya") - F.col("yb")) ** 2
    got = {
        (row.id_a, row.id_b)
        for row in a.join(
            b,
            (F.col("jcx") == F.col("cx"))
            & (F.col("jcy") == F.col("cy"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(d2 <= r * r)
        .collect()
    }
    brute = {
        (i, j)
        for i in pts
        for j in pts
        if i < j
        and (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2
        <= r * r
    }
    assert got == brute, (seed, got.symmetric_difference(brute))


@pytest.mark.parametrize("seed", [4, 17])
def test_streak_rownumber_trick_random_sequences(spark, seed):
    """The w11 rownumber-difference islands spelling equals a linear
    scan on random sequences dense with ties and repeats."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(seed)
    rows = [
        (rng.randrange(3), rng.choice("ab"), i)  # 2 symbols => long runs
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "u int, sym string, pos int")
    w_all = Window.partitionBy("u").orderBy("pos")
    w_sym = Window.partitionBy("u", "sym").orderBy("pos")
    got = {
        (r.u, r.best, r.n_best)
        for r in df.select(
            "u",
            "sym",
            (F.row_number().over(w_all) - F.row_number().over(w_sym)).alias(
                "grp"
            ),
        )
        .groupBy("u", "sym", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
        .groupBy("u")
        .agg(F.max("len").alias("best"))
        .join(
            df.select(
                "u",
                "sym",
                (
                    F.row_number().over(w_all) - F.row_number().over(w_sym)
                ).alias("grp"),
            )
            .groupBy("u", "sym", "grp")
            .agg(F.count(F.lit(1)).alias("len")),
            "u",
        )
        .filter(F.col("len") == F.col("best"))
        .groupBy("u", "best")
        .agg(F.count(F.lit(1)).alias("n_best"))
        .collect()
    }
    want = set()
    by_u: dict = {}
    for u, sym, pos in sorted(rows, key=lambda t: (t[0], t[2])):
        by_u.setdefault(u, []).append(sym)
    for u, syms in by_u.items():
        runs, cur = [], 1
        for a, b in zip(syms, syms[1:]):
            cur = cur + 1 if a == b else (runs.append(cur), 1)[1]
        runs.append(cur)
        want.add((u, max(runs), runs.count(max(runs))))
    assert got == want, seed


def test_deletion_blocking_exact_recall_randomized(spark, tmp_path):
    """j13's no-miss-class guarantee on a seeded random corpus built
    to be adversarial: a 2-letter alphabet and short lengths make
    dist<=1 pairs dense and of every edit kind (substitution,
    insertion, deletion, duplicates), so the candidate generator is
    compared against brute-force all-pairs levenshtein on hundreds of
    true pairs, not a handful of planted ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY

    rng = random.Random(1013)
    names = [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
        for _ in range(120)
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

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
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
    # the corpus really is adversarial: hundreds of pairs, all kinds
    assert len(want) > 200
    assert any(d == 0 for _, _, d in want)          # duplicates
    assert any(                                      # length-mismatch
        len(names[a]) != len(names[b]) for a, b, _ in want
    )


def test_timer_sessions_match_python_islands_randomized(spark, tmp_path):
    """t35's drained output on a seeded random event set must equal a
    pure-Python gaps-and-islands computation with the closed-session
    filter (every session except a user's last, which needs its gap
    elapsed before the final watermark) — the full dual-close
    contract, independent of both engines."""
    from datetime import datetime, timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.temporal import (
        _T35_GAP_MIN,
    )

    rng = random.Random(417)
    base = datetime(2024, 1, 1)
    rows = []
    for uid in range(12):
        t_min = rng.randint(0, 60)
        for _ in range(rng.randint(1, 40)):
            rows.append((uid, base + timedelta(minutes=t_min)))
            # mix of intra-session steps and gap-sized jumps
            t_min += rng.choice([0, 1, 2, 3, 9, 10, 11, 25, 60])
    rng.shuffle(rows)
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [r[1] for r in rows], pa.timestamp("us")
                ),
                "value": pa.array([1.0] * len(rows)),
                "event_type": pa.array(["x"] * len(rows)),
                "event_id": pa.array(range(len(rows)), pa.int64()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )

    gap = timedelta(minutes=_T35_GAP_MIN)
    wm_delay = timedelta(minutes=1)
    mx = max(ts for _, ts in rows)
    by_user = {}
    for uid, ts in rows:
        by_user.setdefault(uid, []).append(ts)
    want = set()
    for uid, tss in by_user.items():
        tss.sort()
        sessions = []
        start = last = tss[0]
        n = 1
        for ts in tss[1:]:
            if ts - last >= gap:
                sessions.append((start, last, n))
                start, n = ts, 0
            last = max(last, ts)
            n += 1
        sessions.append((start, last, n))
        for i, (s, e, k) in enumerate(sessions):
            is_last = i == len(sessions) - 1
            # the stream's exact timer contract (r11): expiry is
            # ms-floored and fires only when the (ms-floored)
            # watermark STRICTLY exceeds it
            e_ms = (e - base) // timedelta(milliseconds=1)
            mx_ms = (mx - base) // timedelta(milliseconds=1)
            gap_ms = gap // timedelta(milliseconds=1)
            wm_ms = wm_delay // timedelta(milliseconds=1)
            if not is_last or e_ms + gap_ms < mx_ms - wm_ms:
                want.add((uid, s, e, k))
    got = {
        (r.user_id, r.session_start, r.session_last, r.n_events)
        for r in REGISTRY["t35_timer_closed_sessions"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got == want
    # non-vacuous: closed sessions exist AND at least one user's last
    # session stayed open
    assert want
    all_sessions = 0
    for uid, tss in by_user.items():
        tss.sort()
        cnt, last = 1, tss[0]
        for ts in tss[1:]:
            if ts - last >= gap:
                cnt += 1
            last = max(last, ts)
        all_sessions += cnt
    assert len(want) < all_sessions  # some sessions genuinely open


def test_timer_sessions_millisecond_boundary_window(spark, tmp_path):
    """The ADVICE-r10 flake class, pinned: a user whose last event
    lands so that last + gap == final-watermark EXACTLY at microsecond
    precision (but whose ms-floored timer expiry therefore does NOT
    strictly precede the ms-floored watermark) must stay OPEN — in
    the stream (Spark only fires an event-time timer when the
    watermark strictly exceeds the expiry), in the registered oracle
    (ms-floored strict inequality since r11), and in DuckDB actually
    executing that oracle. Before the r11 oracle fix the SQL side
    emitted this session and the gate could flake on any corpus with
    sub-millisecond timestamp components."""
    from datetime import datetime, timedelta

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_bowl_spark.queries import REGISTRY
    from big_data_bowl_spark.queries.temporal import (
        _T35_GAP_MIN,
        _T35_WM_MS,
    )

    base = datetime(2024, 3, 1)
    us = timedelta(microseconds=500)  # sub-ms component
    gap = timedelta(minutes=_T35_GAP_MIN)
    wm = timedelta(milliseconds=_T35_WM_MS)
    # user 1: an old session closed inline by the gap (non-vacuous),
    # then a final session whose expiry hits the EXACT equality
    # window: last + gap + wm == mx to the microsecond
    t_old = base - timedelta(minutes=30)
    t_last = base + us
    mx = t_last + gap + wm  # user 2's event defines the watermark
    rows = [(1, t_old), (1, t_last), (2, mx)]
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "value": pa.array([1.0] * len(rows)),
                "event_type": pa.array(["x"] * len(rows)),
                "event_id": pa.array(range(len(rows)), pa.int64()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    q = REGISTRY["t35_timer_closed_sessions"]
    got = {
        (r.user_id, r.session_start, r.session_last, r.n_events)
        for r in q.fn(spark, str(tmp_path)).collect()
    }
    # only user 1's OLD session closed (inline, by the gap); the
    # boundary session and user 2's session stay open
    assert got == {(1, t_old, t_old, 1)}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    oracle = {tuple(r) for r in con.execute(q.oracle).fetchall()}
    assert oracle == {(1, t_old, t_old, 1)}
    # one microsecond earlier and the strict inequality admits it:
    # the window is exactly the boundary, not a broad exclusion
    con.execute("DROP VIEW events")
    rows2 = [(1, t_old), (1, t_last - timedelta(milliseconds=1)), (2, mx)]
    pq.write_table(
        pa.table(
            {
                "user_id": pa.array([r[0] for r in rows2], pa.int64()),
                "ts": pa.array([r[1] for r in rows2], pa.timestamp("us")),
                "value": pa.array([1.0] * len(rows2)),
                "event_type": pa.array(["x"] * len(rows2)),
                "event_id": pa.array(range(len(rows2)), pa.int64()),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet')"
    )
    oracle2 = {tuple(r) for r in con.execute(q.oracle).fetchall()}
    assert (1, t_old, t_old, 1) in oracle2
    assert (
        1,
        t_last - timedelta(milliseconds=1),
        t_last - timedelta(milliseconds=1),
        1,
    ) in oracle2


def test_nearest_centroid_matches_python_argmin_bitwise(spark):
    """The Lloyd assignment (operators/kmeans.assign_cells, the one
    nearest-centroid kernel) assigns every vector to the cell a
    driver-side replay of the identical IEEE op sequence picks —
    same d formula, same left-to-right fold, same (d, cid)
    tie-break — over adversarial vectors: duplicated centroids
    (exact ties), signed zeros, near-identical values differing in
    the last ulp, and denormals."""
    import random as _r

    from big_data_bowl_spark.functions.sqltext import pyfold_dot
    from big_data_bowl_spark.operators.kmeans import assign_cells

    rng = _r.Random(13)
    dim, k, n = 8, 5, 200

    def vec():
        kind = rng.random()
        if kind < 0.2:
            return [rng.choice([0.0, -0.0, 1e-310, 1.0]) for _ in range(dim)]
        base = [rng.uniform(-2, 2) for _ in range(dim)]
        if kind < 0.4:  # last-ulp sibling of another draw
            return [x + abs(x) * 2.2e-16 for x in base]
        return base

    cents = [(cid, vec()) for cid in range(k)]
    cents[3] = (3, list(cents[1][1]))  # duplicated centroid: exact tie
    rows = [(i, vec()) for i in range(n)]
    rows += [(n + j, list(kv)) for j, (_, kv) in enumerate(cents)]

    expected = {}
    for vid, cv in rows:
        best = None
        for cid, kv in cents:
            d = pyfold_dot(kv, kv) - 2.0 * pyfold_dot(cv, kv)
            if best is None or (d, cid) < best:
                best = (d, cid)
        expected[vid] = best[1]

    df = spark.createDataFrame(
        [(vid, cv) for vid, cv in rows], "vid long, cv array<double>"
    )
    got = {r["vid"]: r["cell"] for r in assign_cells(df, cents).collect()}
    assert got == expected
