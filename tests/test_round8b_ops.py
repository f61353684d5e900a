"""Round-8 second-batch operators: semantics pinned on adversarial
tiny fixtures (the oracle gates prove sf-scale parity; these prove the
CONTRACTS — baseline exclusion, tie-breaks, prune-neutrality, guards).
"""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- timeseries


def _series(spark, vals, key="a"):
    rows = [(key, i, int(v)) for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, "event_type string, day int, n bigint")


def test_rolling_anomaly_flags_spike_not_baseline(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import rolling_anomaly

    # 7 flat days then a spike: the spike is anomalous, the flat rows
    # before it have no full baseline (NULL), a flat row AFTER a full
    # flat baseline is not anomalous.
    out = rolling_anomaly(_series(spark, [5] * 8 + [50])).orderBy("day").collect()
    assert [r["is_anomaly"] for r in out[:7]] == [None] * 7
    assert out[7]["is_anomaly"] is False  # 8th flat day, flat baseline
    assert out[8]["is_anomaly"] is True  # the spike


def test_rolling_anomaly_baseline_is_strictly_prior(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import rolling_anomaly

    out = {
        r["day"]: r
        for r in rolling_anomaly(_series(spark, [5] * 8 + [50])).collect()
    }
    # day 8's own value (50) must NOT contaminate its baseline
    assert out[8]["base_sum"] == 35
    assert out[8]["base_sumsq"] == 7 * 25


def test_rolling_anomaly_zero_variance_flags_any_departure(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import rolling_anomaly

    out = {
        r["day"]: r["is_anomaly"]
        for r in rolling_anomaly(_series(spark, [5] * 7 + [6])).collect()
    }
    assert out[7] is True  # σ=0 baseline: any departure flags


def test_changepoint_scan_finds_level_shift(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import changepoint_scan

    # 10 then 100: shift after index 5 (1-based t=5)
    r = changepoint_scan(_series(spark, [10] * 5 + [100] * 5)).collect()[0]
    assert r["split_idx"] == 5
    assert r["mean_before"] == 10.0
    assert r["mean_after"] == 100.0
    assert r["n_points"] == 10
    # G at t=5: |10·50 − 5·550| = 2250
    assert r["g_stat"] == 2250


def test_changepoint_scan_tie_takes_earliest(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import changepoint_scan

    # constant series: every split has G = 0 — earliest (t=1) wins
    r = changepoint_scan(_series(spark, [7, 7, 7, 7])).collect()[0]
    assert r["g_stat"] == 0
    assert r["split_idx"] == 1


# ------------------------------------------------------------------ skyline


def _brute_skyline(pts):
    out = []
    for a in set(pts):
        if not any(
            b[0] <= a[0] and b[1] >= a[1] and (b[0] < a[0] or b[1] > a[1])
            for b in set(pts)
        ):
            out.append(a)
    return sorted(out)


@pytest.mark.parametrize("n_buckets", [1, 3, 64])
def test_skyline2d_matches_definition(spark, n_buckets):
    from awi_datapipelinepublic_spark.operators.spatial import skyline2d

    pts = [
        (1.0, 5), (1.0, 5),  # duplicate coord: kept once, n_rows=2
        (1.0, 4),            # same x, smaller y → dominated
        (2.0, 9), (3.0, 9),  # (3,9) dominated by (2,9)
        (0.5, 1), (4.0, 10), (4.0, 2),
    ]
    df = spark.createDataFrame(pts, "x double, y int")
    got = sorted(
        (r["x"], r["y"]) for r in skyline2d(df, "x", "y", n_buckets=n_buckets).collect()
    )
    assert got == _brute_skyline(pts)
    dup = {
        (r["x"], r["y"]): r["n_rows"]
        for r in skyline2d(df, "x", "y", n_buckets=n_buckets).collect()
    }
    assert dup[(1.0, 5)] == 2


def test_skyline2d_degenerate_single_x(spark):
    from awi_datapipelinepublic_spark.operators.spatial import skyline2d

    df = spark.createDataFrame([(1.0, i) for i in range(5)], "x double, y int")
    got = [(r["x"], r["y"]) for r in skyline2d(df, "x", "y").collect()]
    assert got == [(1.0, 4)]  # only the max-y survives at equal x


# ---------------------------------------------------------------- link pred


def test_link_prediction_scores_and_excludes_edges(spark):
    import math

    from awi_datapipelinepublic_spark.operators.graph import link_prediction

    # path graph 1-2-3 plus 1-4, 3-4: candidates include (1,3) with
    # common neighbors {2, 4}; (2,4) with common neighbors {1, 3};
    # existing edges must not appear.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 4), (3, 4)], "src int, dst int"
    )
    out = {(r["item_a"], r["item_b"]): r for r in link_prediction(edges, k=10).collect()}
    assert set(out) == {(1, 3), (2, 4)}
    assert out[(1, 3)]["cn"] == 2
    # deg(2)=2, deg(4)=2 → aa = 2·floor(1e9/ln 2)
    assert out[(1, 3)]["aa_nano"] == 2 * math.floor(1e9 / math.log(2))


def test_link_prediction_degree_cap_drops_hub_centers(spark):
    from awi_datapipelinepublic_spark.operators.graph import link_prediction

    # star: hub 0 with leaves 1..5 — all wedges center on the hub;
    # capping below its degree leaves no candidates.
    edges = spark.createDataFrame([(0, i) for i in range(1, 6)], "src int, dst int")
    assert link_prediction(edges, max_degree=4, k=10).count() == 0
    assert link_prediction(edges, max_degree=5, k=10).count() == 10  # C(5,2)
    with pytest.raises(ValueError, match="max_degree"):
        link_prediction(edges, max_degree=65_537)


# ------------------------------------------------------------------ triples


def test_triple_support_counts_and_prunes_neutrally(spark):
    from awi_datapipelinepublic_spark.operators.affinity import triple_support

    rows = []
    for b in range(3):
        for it in ("a", "b", "c"):
            rows.append((f"bk{b}", it))
    rows += [("bk0", "rare")]  # infrequent item — pruned, result-neutral
    df = spark.createDataFrame(rows, "bk string, it string")
    out = triple_support(df, "bk", "it", min_support=2).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["item_a"], r["item_b"], r["item_c"], r["n_abc"]) == ("a", "b", "c", 3)
    assert r["support"] == 1.0  # 3 of 3 capped baskets


def test_triple_support_basket_cap_excludes_megabasket(spark):
    from awi_datapipelinepublic_spark.operators.affinity import triple_support

    rows = [("big", f"i{k}") for k in range(10)] + [
        ("s1", x) for x in ("a", "b", "c")
    ] + [("s2", x) for x in ("a", "b", "c")]
    df = spark.createDataFrame(rows, "bk string, it string")
    out = triple_support(df, "bk", "it", min_support=2, max_basket=5).collect()
    # the 10-item basket is excluded BEFORE expansion and from N
    assert len(out) == 1 and out[0]["n_abc"] == 2
    assert out[0]["support"] == 1.0


# ----------------------------------------------------------------------- MI


def test_mutual_information_independent_columns_zero_pmi(spark):
    from awi_datapipelinepublic_spark.operators.expectations import mutual_information

    # perfectly independent 2×2: pmi = ln(1) = 0 in every cell
    rows = [("x1", "y1"), ("x1", "y2"), ("x2", "y1"), ("x2", "y2")] * 5
    out = mutual_information(
        spark.createDataFrame(rows, "a string, b string"), "a", "b"
    ).collect()
    assert len(out) == 4
    assert all(r["pmi_nano"] == 0 and r["mi_contrib_nano"] == 0 for r in out)
    assert all(r["n_xy"] == 5 and r["n_x"] == 10 and r["n_y"] == 10 for r in out)


def test_mutual_information_dependent_columns_positive_mi(spark):
    import math

    from awi_datapipelinepublic_spark.operators.expectations import mutual_information

    # perfect dependence: y == x ⇒ MI = ln(2) for 2 symbols
    rows = [("x1", "y1")] * 4 + [("x2", "y2")] * 4
    out = mutual_information(
        spark.createDataFrame(rows, "a string, b string"), "a", "b"
    ).collect()
    total = sum(r["mi_contrib_nano"] for r in out)
    assert total == 8 * math.floor(1e9 * math.log(float(4 * 8) / float(4 * 4)))


def test_mutual_information_guard_raises_on_high_cardinality(spark):
    from awi_datapipelinepublic_spark.operators.expectations import mutual_information

    df = spark.range(100).select(
        F.col("id").alias("a"), F.col("id").alias("b")
    )
    with pytest.raises(ValueError, match="joint cells"):
        mutual_information(df, "a", "b", max_cells=50)


# -------------------------------------------------------- random projection


def test_random_projection_matches_manual_dot(spark):
    from awi_datapipelinepublic_spark.operators.similarity import (
        random_projection,
        rp_signs,
    )

    vec = [1.0, 2.0, 3.0, 4.0]
    df = spark.createDataFrame([(1, vec)], "vec_id int, embedding array<double>")
    out = random_projection(df, out_dim=3, dim=4).collect()[0]
    signs = rp_signs(3, 4)
    for j in range(3):
        assert out[f"proj_{j}"] == round(
            sum(v * s for v, s in zip(vec, signs[j])), 6
        )


def test_random_projection_plan_has_no_exchange(spark, sf_dir):
    from awi_datapipelinepublic_spark.operators.similarity import random_projection

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = random_projection(e, out_dim=4, dim=64)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure projection: zero shuffle


def test_rp_signs_deterministic_and_balanced():
    from awi_datapipelinepublic_spark.operators.similarity import rp_signs

    a, b = rp_signs(4, 64), rp_signs(4, 64)
    assert a == b
    flat = [v for row in a for v in row]
    assert set(flat) == {1.0, -1.0}
    # md5 parity should be roughly balanced (not a constant matrix)
    assert 0.3 < (flat.count(1.0) / len(flat)) < 0.7


# -------------------------------------------------------- poisson bootstrap


def test_poisson_bootstrap_constant_value_degenerate_ci(spark):
    from awi_datapipelinepublic_spark.operators.sampling import poisson_bootstrap

    rows = [("k", i, 7.0) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, id int, v double")
    out = poisson_bootstrap(df, "k", "id", "v").collect()[0]
    # every weighted mean of a constant IS the constant
    assert out["mean"] == out["ci_lo"] == out["ci_hi"] == 7.0
    assert out["n_rows"] == 200


def test_poisson_bootstrap_ci_brackets_mean(spark):
    from awi_datapipelinepublic_spark.operators.sampling import poisson_bootstrap

    rows = [("k", i, float(i % 10)) for i in range(1000)]
    df = spark.createDataFrame(rows, "k string, id int, v double")
    out = poisson_bootstrap(df, "k", "id", "v").collect()[0]
    true_mean = sum(i % 10 for i in range(1000)) / 1000
    assert out["ci_lo"] <= out["mean"] <= out["ci_hi"]
    assert out["ci_lo"] < true_mean < out["ci_hi"]
    # CI of a 1000-row mean of values in [0,9] should be tight-ish
    assert out["ci_hi"] - out["ci_lo"] < 1.0


# ------------------------------------------------------- packing efficiency


def test_packing_efficiency_exact_ceils(spark):
    from awi_datapipelinepublic_spark.operators.chunking import packing_efficiency

    # tokens: 100, 512, 513, 0-token docs must cost zero chunks
    df = spark.createDataFrame([(100,), (512,), (513,), (0,)], "n_tokens int")
    out = {r["seq_len"]: r for r in packing_efficiency(df, "n_tokens").collect()}
    r = out[512]
    assert r["n_docs"] == 4 and r["total_tokens"] == 1125
    assert r["n_chunks"] == 1 + 1 + 2 + 0  # ceil(100/512)+1+ceil(513/512)+0
    assert r["padded_slots"] == 4 * 512
    assert r["concat_sequences"] == 3  # ceil(1125/512)
    assert r["pad_waste"] == round(1 - 1125 / 2048, 6)
    # bigger L: fewer chunks, more padding
    assert out[2048]["n_chunks"] == 3 and out[2048]["pad_waste"] > r["pad_waste"]


# ------------------------------------------------------------------ spearman


def test_spearman_matches_scipy_free_reference(spark):
    from awi_datapipelinepublic_spark.operators.quality import spearman_corr

    # hand-checkable: y monotone in x → rho = 1; reversed → -1
    up = spark.createDataFrame([(i, i * 2.0) for i in range(20)], "x int, y double")
    assert spearman_corr(up, "x", "y").collect()[0]["rho"] == 1.0
    down = spark.createDataFrame([(i, -i * 2.0) for i in range(20)], "x int, y double")
    assert spearman_corr(down, "x", "y").collect()[0]["rho"] == -1.0


def test_spearman_tie_averaged_ranks(spark):
    import math

    from awi_datapipelinepublic_spark.operators.quality import spearman_corr

    # data with ties; compare against a driver-side average-rank Spearman
    xs = [1, 2, 2, 3, 3, 3, 9]
    ys = [4, 4, 5, 6, 7, 7, 1]

    def avg_ranks(vals):
        out = []
        for v in vals:
            out.append(sum(1 for w in vals if w < v) + (sum(1 for w in vals if w == v) + 1) / 2)
        return out

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(xs)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    expect = (n * sxy - sx * sy) / math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    df = spark.createDataFrame(list(zip(xs, ys)), "x int, y int")
    got = spearman_corr(df, "x", "y").collect()[0]
    assert got["n_rows"] == n
    assert abs(got["rho"] - round(expect, 6)) <= 1e-6


def test_spearman_constant_column_null(spark):
    from awi_datapipelinepublic_spark.operators.quality import spearman_corr

    df = spark.createDataFrame([(1, 5.0), (2, 5.0), (3, 5.0)], "x int, y double")
    assert spearman_corr(df, "x", "y").collect()[0]["rho"] is None


# ------------------------------------------------------------ target encode


def test_target_encode_loo_excludes_own_row_and_smooths(spark):
    from awi_datapipelinepublic_spark.functions.features import target_encode_loo

    # category "a": targets 10, 20; global also includes "b": 40
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 40.0)], "id int, c string, t double"
    )
    out = {r["id"]: r["te"] for r in target_encode_loo(df, "c", "t", smoothing=2).collect()}
    S, N, m, scale = 7000, 3, 2, 100
    # row 1 (cat a, y=1000): (S_cat - y)*N + m*S over (n_cat-1+m)*N*scale
    assert out[1] == round(((3000 - 1000) * N + m * S) / ((2 - 1 + m) * N * scale), 6)
    # singleton category b: numerator has no own-category evidence left
    assert out[3] == round(((4000 - 4000) * N + m * S) / ((1 - 1 + m) * N * scale), 6)
    # the singleton's encoding IS the smoothed prior (global mean)
    assert out[3] == round(S / (N * scale), 6)


# -------------------------------------------------------- weighted quantiles


def test_weighted_quantiles_exact_lower_convention(spark):
    from awi_datapipelinepublic_spark.operators.quality import weighted_quantiles

    # values 1..4 with weights 1,1,1,7 → W=10: q=.25→cum 2.5 first v
    # with cumw>=2.5 is 3 (cum 1,2,3,10)... cum(1)=1, cum(2)=2,
    # cum(3)=3, cum(4)=10: q=.25 needs cumw>=2.5 → v=3; q=.5 needs
    # >=5 → v=4; q=.75 needs >=7.5 → v=4.
    df = spark.createDataFrame(
        [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 7)], "v double, w int"
    )
    out = {r["q"]: r["v"] for r in weighted_quantiles(df, "v", "w").collect()}
    assert out == {0.25: 3.0, 0.5: 4.0, 0.75: 4.0}


def test_weighted_quantiles_unit_weights_match_lower_percentile(spark):
    from awi_datapipelinepublic_spark.operators.quality import weighted_quantiles

    vals = [float(v) for v in [9, 1, 5, 3, 7, 2, 8, 4, 6, 10]]
    df = spark.createDataFrame([(v, 1) for v in vals], "v double, w int")
    out = {r["q"]: r["v"] for r in weighted_quantiles(df, "v", "w").collect()}
    s = sorted(vals)
    import math

    for q in (0.25, 0.5, 0.75):
        # lower convention: smallest v with rank >= ceil(q*n)
        assert out[q] == s[math.ceil(q * len(s)) - 1]


# ------------------------------------------------- semantic decontamination


def test_semantic_decontaminate_drops_near_test_vectors(spark):
    from awi_datapipelinepublic_spark.operators.dedup import semantic_decontaminate

    # corpus: id 1 is (almost) the test vector, id 2 is orthogonal
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.01]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    test = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0])], "vec_id int, embedding array<double>"
    )
    # one cluster forces the pair comparison (no IVF miss in this test)
    out = [
        r["vec_id"]
        for r in semantic_decontaminate(
            corpus, test, threshold=0.9, n_clusters=1
        ).collect()
    ]
    assert out == [1]


def test_semantic_decontaminate_empty_test_keeps_everything(spark):
    from awi_datapipelinepublic_spark.operators.dedup import semantic_decontaminate

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id int, embedding array<double>"
    )
    test = spark.createDataFrame([], "vec_id int, embedding array<double>")
    got = sorted(
        r["vec_id"]
        for r in semantic_decontaminate(corpus, test, n_clusters=1).collect()
    )
    assert got == [0, 1]


# -------------------------------------------------------------- session paths


def test_session_paths_order_gap_and_cap(spark):
    from awi_datapipelinepublic_spark.operators.events import session_paths

    rows = [
        # user A: one session view>click (same ts ties broken by id),
        # then a 1h gap → new session purchase
        ("A", "2024-01-01 10:00:00", 1, "view"),
        ("A", "2024-01-01 10:00:00", 2, "click"),
        ("A", "2024-01-01 11:30:00", 3, "purchase"),
        # user B: same view>click shape
        ("B", "2024-01-02 09:00:00", 4, "view"),
        ("B", "2024-01-02 09:10:00", 5, "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id string, ts string, event_id int, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["path"]: r["n_sessions"] for r in session_paths(df, k=10).collect()}
    assert out == {"view>click": 2, "purchase": 1}

    # cap: a 3-event session vanishes when max_path_events=2
    capped = {
        r["path"]: r["n_sessions"]
        for r in session_paths(df, k=10, gap_minutes=120, max_path_events=2).collect()
    }
    # with a 2h gap user A is ONE 3-event session → dropped by the cap
    assert capped == {"view>click": 1}


# --------------------------------------------------------- bipartite project


def test_bipartite_project_weights_and_cap(spark):
    from awi_datapipelinepublic_spark.operators.graph import bipartite_project

    rows = [("g1", "a"), ("g1", "b"), ("g2", "a"), ("g2", "b"), ("g2", "c"),
            ("g3", "x")]  # singleton group: no pairs
    df = spark.createDataFrame(rows, "g string, it string")
    out = {(r["item_a"], r["item_b"]): r["weight"]
           for r in bipartite_project(df, "g", "it").collect()}
    assert out == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
    # min_weight prunes; max_group drops g2 entirely
    assert {(r["item_a"], r["item_b"])
            for r in bipartite_project(df, "g", "it", min_weight=2).collect()} == {("a", "b")}
    capped = {(r["item_a"], r["item_b"]): r["weight"]
              for r in bipartite_project(df, "g", "it", max_group=2).collect()}
    assert capped == {("a", "b"): 1}


# ------------------------------------------------------------ rendezvous hash


def test_reshard_movement_minimal_disruption(spark):
    from awi_datapipelinepublic_spark.operators.sampling import (
        rendezvous_shard,
        reshard_movement,
    )

    df = spark.createDataFrame([(i,) for i in range(2000)], "id bigint")
    moves = reshard_movement(df, "id", 8, 9).collect()
    moved = sum(r["n_rows"] for r in moves if r["shard_from"] != r["shard_to"])
    stayed = sum(r["n_rows"] for r in moves if r["shard_from"] == r["shard_to"])
    assert moved + stayed == 2000
    # rendezvous guarantee: ALL movement lands on the NEW shard
    assert all(r["shard_to"] == 8 for r in moves if r["shard_from"] != r["shard_to"])
    # expected movement ≈ 1/9 ≈ 222; allow generous hash noise
    assert 130 <= moved <= 330
    # assignment is deterministic
    a = {r["id"]: r["shard"] for r in rendezvous_shard(df, "id", 8).collect()}
    b = {r["id"]: r["shard"] for r in rendezvous_shard(df, "id", 8).collect()}
    assert a == b and set(a.values()) == set(range(8))


def test_weighted_quantiles_nulls_excluded_and_fractional_weights_round_half_up(spark):
    """The round-9 determinism hardening: NULL values are excluded by
    rule (not by engine sort-order accident), and fractional weights
    follow the explicit half-up rule floor(w + 0.5) — 2.5 counts as 3,
    2.4 as 2 — instead of Spark's truncating decimal→bigint cast (which
    would read 2.5 as 2 while DuckDB's rounding cast reads 3)."""
    from awi_datapipelinepublic_spark.operators.quality import weighted_quantiles

    df = spark.createDataFrame(
        [(None, 100.0), (1.0, 1.4), (2.0, 2.5), (3.0, 0.6)],
        "v double, w double",
    )
    # half-up weights: 1, 3, 1 → W=5, cum: 1(v=1), 4(v=2), 5(v=3)
    # q=.25 needs cum>=1.25 → 2; q=.5 needs >=2.5 → 2; q=.75 >=3.75 → 2
    out = {r["q"]: r["v"] for r in weighted_quantiles(df, "v", "w").collect()}
    assert out == {0.25: 2.0, 0.5: 2.0, 0.75: 2.0}
    # truncation semantics would give weights 1,2,0 → W=3: q=.75 needs
    # cum>=2.25 → v=2 as well, so pin q=.25 where they differ:
    # truncated cum would be 1(v=1) → q=.25 needs >=0.75 → v=1. The
    # half-up answer above (2.0) proves rounding, not truncation.


def test_spearman_ignores_null_rows_in_ranks(spark):
    """NULLs must not shift non-null ranks (the Spark-NULLS-FIRST vs
    DuckDB-NULLS-LAST divergence): rho over a table with NULL noise
    rows equals rho over the clean subset."""
    from awi_datapipelinepublic_spark.operators.quality import spearman_corr

    clean = [(1.0, 2.0), (2.0, 1.0), (3.0, 4.0), (4.0, 3.0), (5.0, 5.0)]
    noisy = clean + [(None, 9.0), (9.0, None), (None, None)]
    a = spearman_corr(
        spark.createDataFrame(clean, "x double, y double"), "x", "y"
    ).first()
    b = spearman_corr(
        spark.createDataFrame(noisy, "x double, y double"), "x", "y"
    ).first()
    assert a["rho"] == b["rho"] and a["n_rows"] == b["n_rows"] == 5
