"""Unit tests for the session-6 quality/structure operators:
topic segmentation (textops.topic_segments), the GD logistic-regression
quality filter (curation.logreg_quality), and matrix-free PCA power
iteration (similarity.pca_power_project)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from json_ld_spark.operators import curation as cu
from json_ld_spark.operators import similarity as sim
from json_ld_spark.operators import textops as tx


def _turns(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string"
    )


def test_topic_segments_boundaries(spark):
    # c1: turns 0-1 share words (jaccard 1.0), turn 2 disjoint -> new segment
    out = tx.topic_segments(
        _turns(
            spark,
            [
                ("c1", 0, "alpha beta gamma"),
                ("c1", 1, "alpha beta gamma"),
                ("c1", 2, "delta epsilon zeta"),
                ("c2", 0, "solo conversation"),
            ],
        ),
        min_jaccard=0.2,
    ).collect()
    by = {(r.conv_id, r.turn_idx): r for r in out}
    assert by[("c1", 0)].jaccard_prev is None
    assert by[("c1", 0)].is_boundary == 1 and by[("c1", 0)].segment_id == 0
    assert by[("c1", 1)].jaccard_prev == 1.0
    assert by[("c1", 1)].is_boundary == 0 and by[("c1", 1)].segment_id == 0
    assert by[("c1", 2)].jaccard_prev == 0.0
    assert by[("c1", 2)].is_boundary == 1 and by[("c1", 2)].segment_id == 1
    # first turn of every conversation opens segment 0
    assert by[("c2", 0)].segment_id == 0


def test_topic_segments_word_sets_not_bags(spark):
    # repeated words must not inflate similarity: sets, not bags
    out = tx.topic_segments(
        _turns(
            spark,
            [("c", 0, "x x x y"), ("c", 1, "x y y y")],
        ),
        min_jaccard=0.2,
    ).collect()
    r1 = [r for r in out if r.turn_idx == 1][0]
    assert r1.jaccard_prev == 1.0  # both sets are {x, y}


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )


def test_logreg_quality_learns_separable_label(spark):
    # long docs are 'en', short docs are 'fr': x1 separates the label,
    # so 3 GD rounds must already rank every en doc above every fr doc
    rows = []
    for i in range(20):
        en = i % 2 == 0
        text = ("word " * (300 if en else 3)).strip()
        rows.append((i, text, "en" if en else "fr", len(text)))
    out = cu.logreg_quality(_docs(spark, rows), n_rounds=3, lr=1.0).collect()
    pos = [r.score_r for r in out if r.y == 1]
    neg = [r.score_r for r in out if r.y == 0]
    assert min(pos) > max(neg)
    for r in out:
        assert 0.0 <= r.score_r <= 1.0
        assert r.pred in (0, 1)


def test_logreg_quality_empty_input(spark):
    out = cu.logreg_quality(_docs(spark, []), n_rounds=2).collect()
    assert out == []


def test_logreg_quality_deterministic(spark):
    rows = [(i, "some text 123", "en" if i % 3 else "de", 13) for i in range(30)]
    a = {r.doc_id: r.score_r for r in cu.logreg_quality(_docs(spark, rows)).collect()}
    b = {
        r.doc_id: r.score_r
        for r in cu.logreg_quality(_docs(spark, rows).repartition(7)).collect()
    }
    assert a == b


def _emb(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_pca_power_finds_dominant_axis(spark):
    # variance lives on dim 1 (values ±10), noise on dim 0 (±0.1):
    # PC1 scores must order by the dim-1 coordinate and be ~±10 apart
    vecs = [
        (0.1, 10.0), (-0.1, 10.0), (0.05, -10.0), (-0.05, -10.0),
        (0.1, 10.0), (-0.1, -10.0),
    ]
    out = {r.vec_id: r.pc1_score_r for r in
           sim.pca_power_project(_emb(spark, vecs), dim=2, rounds=2).collect()}
    plus = [out[i] for i, v in enumerate(vecs) if v[1] > 0]
    minus = [out[i] for i, v in enumerate(vecs) if v[1] < 0]
    assert all(abs(s) > 5 for s in plus + minus)
    # same-side scores agree in sign, opposite sides differ
    assert len({math.copysign(1, s) for s in plus}) == 1
    assert len({math.copysign(1, s) for s in minus}) == 1
    assert math.copysign(1, plus[0]) != math.copysign(1, minus[0])


def test_pca_power_partition_invariant(spark):
    vecs = [tuple((i * 7 + j * 3) % 11 - 5.0 for j in range(4)) for i in range(40)]
    df = _emb(spark, vecs)
    a = {r.vec_id: r.pc1_score_r for r in
         sim.pca_power_project(df, dim=4, rounds=2).collect()}
    b = {r.vec_id: r.pc1_score_r for r in
         sim.pca_power_project(df.repartition(13), dim=4, rounds=2).collect()}
    assert a == b


from json_ld_spark.operators import linking as lk


def test_disambiguate_picks_overlapping_sense(spark):
    docs = spark.createDataFrame(
        [
            # sense 0 context (even doc_ids): bank with river/water
            (0, "bank river water flow"),
            (2, "bank river water stream"),
            # sense 1 context (odd doc_ids): bank with money/loan
            (1, "bank money loan credit"),
            (3, "bank money loan interest"),
        ],
        "doc_id long, text string",
    )
    sigs = lk.sense_signatures(docs, max_surfaces=1, senses=2, sig_k=5)
    srows = {(r.surface, r.sense): r.signature for r in sigs.collect()}
    assert ("bank", 0) in srows and ("bank", 1) in srows
    assert "river" in srows[("bank", 0)] and "money" in srows[("bank", 1)]
    out = {r.doc_id: r for r in
           lk.disambiguate_entities(docs, sigs).collect()}
    assert out[0].sense == 0 and out[2].sense == 0
    assert out[1].sense == 1 and out[3].sense == 1
    assert out[0].entity_id.endswith("bank#0")


def test_pronoun_links_most_recent_antecedent(spark):
    turns = spark.createDataFrame(
        [
            ("c", 0, "the spark engine started"),
            ("c", 1, "then the window opened"),
            ("c", 2, "and it worked"),          # pronoun -> window (turn 1)
            ("c", 3, "nothing here"),
            ("c", 4, "they agreed"),            # pronoun -> window (still)
            ("d", 0, "it has no antecedent"),   # no prior mention -> dropped
        ],
        "conv_id string, turn_idx int, text string",
    )
    ents = spark.createDataFrame([("spark",), ("window",)], "surface string")
    out = {(r.conv_id, r.turn_idx): r.entity_id
           for r in lk.pronoun_links(turns, ents).collect()}
    assert out[("c", 2)].endswith("/window")
    assert out[("c", 4)].endswith("/window")
    assert ("d", 0) not in out
    assert ("c", 0) not in out


from json_ld_spark.operators import dedup as dd
from json_ld_spark.operators import graphops as gops


def test_square_count_exact_on_known_graph(spark):
    # K4 minus nothing: the 4-clique has 3 distinct 4-cycles -> each
    # counted once per diagonal pair = 6 incidences; wedges per pair = 2
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long",
    )
    row = gops.square_count(edges, max_degree=64).collect()[0]
    assert row.n_square_incidences == 6  # 3 squares x 2 diagonals
    assert row.n_diagonal_pairs == 6     # all C(4,2) pairs share 2 middles
    assert row.n_wedges == 12
    # a path graph has no squares
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )
    row = gops.square_count(path, max_degree=64).collect()[0]
    assert row.n_square_incidences == 0


def test_square_count_degree_cap_drops_hub_middles(spark):
    # star K1,5: hub degree 5; with cap 3 the hub can't be a middle,
    # leaves have degree 1 and produce no wedge pairs -> all zero
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    row = gops.square_count(star, max_degree=3).collect()[0]
    assert row.n_wedges == 0 and row.n_square_incidences == 0


def test_lsh_pr_eval_counts_candidates_and_truth(spark):
    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon zeta eta theta"),
            (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
            (2, "completely different words entirely unrelated text here now"),
        ],
        "doc_id long, text string",
    )
    row = dd.lsh_pr_eval(docs, num_hashes=16, bands=8, threshold=0.7).collect()[0]
    assert row.n_truth == 1          # only (0, 1)
    assert row.n_hits == 1           # exact dup always shares every band
    assert row.recall_r == 1.0
    assert 0.0 < row.precision_r <= 1.0


def test_minhash_md5_candidates_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i} common words shared across documents {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    a = set(map(tuple, dd.minhash_md5_candidates(docs).collect()))
    b = set(map(tuple, dd.minhash_md5_candidates(docs.repartition(7)).collect()))
    assert a == b


def test_degree_distribution_bins_and_alpha(spark):
    # star K1,7: hub degree 7 (bin 3: 4-7), leaves degree 1 (bin 1)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src long, dst long"
    )
    rows = {r.bin_id: r for r in
            gops.degree_distribution(star, tail_min_degree=4).collect()}
    assert rows[1].n_nodes == 7 and rows[1].d_min == 1 and rows[1].d_max == 1
    assert rows[3].n_nodes == 1 and rows[3].d_min == 7
    # only the hub is in the tail; alpha = 1 + 1/ln(7/4)
    import math
    expect = round(1.0 + 1.0 / (round(math.log(7 / 4) * 1e6) / 1e6), 6)
    assert abs(rows[1].hill_alpha_r - expect) < 1e-9


def test_ttr_zipf_flat_and_skewed(spark):
    # lang a: all distinct words -> TTR 1.0, flat freqs -> slope ~ 0
    # lang b: heavy zipf-ish head
    docs = spark.createDataFrame(
        [
            (0, "a", "one two three four five six"),
            (1, "b", "x x x x x x x x y y y y z z w"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.lang: r for r in tx.ttr_zipf(docs, top_k=100).collect()}
    assert out["a"].ttr_r == 1.0
    assert abs(out["a"].zipf_slope_r) < 1e-6  # all frequencies equal
    assert out["b"].n_tokens == 15 and out["b"].n_types == 4
    assert out["b"].zipf_slope_r < -0.5  # steep head


def test_streaming_logreg_matches_sequential_steps(spark, tmp_path):
    import glob
    import os
    import time

    from json_ld_spark.operators.curation import logreg_features, logreg_step
    from json_ld_spark.streaming.stream import run_stream_logreg

    rows = [(i, f"text {i} 12", "en" if i % 2 else "fr", 9) for i in range(40)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )
    docs.filter("doc_id % 2 = 0").coalesce(1).write.mode("append").parquet(
        f"{tmp_path}/in"
    )
    first = set(glob.glob(f"{tmp_path}/in/part-*"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.mode("append").parquet(
        f"{tmp_path}/in"
    )
    now = time.time()
    for f in glob.glob(f"{tmp_path}/in/part-*"):
        os.utime(f, (now - 120, now - 120) if f in first else (now, now))
    w_stream = run_stream_logreg(
        spark, f"{tmp_path}/in", f"{tmp_path}/state", f"{tmp_path}/ckpt",
        schema=docs.schema,
    )
    # sequential batch replay: step on evens, then step on odds
    w = [0.0, 0.0, 0.0]
    w = logreg_step(logreg_features(docs.filter("doc_id % 2 = 0")), w)
    w = logreg_step(logreg_features(docs.filter("doc_id % 2 = 1")), w)
    assert w_stream == w
    # restart with existing state + checkpoint: no reprocessing, same weights
    w_again = run_stream_logreg(
        spark, f"{tmp_path}/in", f"{tmp_path}/state", f"{tmp_path}/ckpt",
        schema=docs.schema,
    )
    assert w_again == w


def test_entity_profiles_rollup_and_comention(spark):
    from datetime import datetime

    turns = spark.createDataFrame(
        [
            ("c1", 0, "spark and window together", datetime(2026, 1, 1, 0, 0, 0)),
            ("c1", 1, "spark alone here", datetime(2026, 1, 1, 0, 0, 7)),
            ("c2", 0, "window with hash", datetime(2026, 1, 1, 2, 46, 40)),
        ],
        "conv_id string, turn_idx int, text string, ts timestamp",
    )
    ents = spark.createDataFrame(
        [("spark",), ("window",), ("hash",)], "surface string"
    )
    out = {r.surface: r for r in lk.entity_profiles(turns, ents).collect()}
    assert out["spark"].n_mentions == 2
    assert out["spark"].n_turns == 2 and out["spark"].n_convs == 1
    assert out["spark"].first_ts == "2026-01-01T00:00:00Z"
    assert out["spark"].last_ts == "2026-01-01T00:00:07Z"
    assert out["spark"].co_surface == "window"  # only co-mention
    assert out["window"].n_convs == 2
    # window co-mentions spark once and hash once -> tie broken to 'hash'
    assert out["window"].co_surface == "hash" and out["window"].co_count == 1
    assert out["spark"].entity_id.endswith("/spark")


def test_cuped_perfect_covariate_collapses_variance(spark):
    from datetime import datetime

    from json_ld_spark.operators.temporal import cuped_adjusted

    pre_t, post_t = datetime(2024, 1, 10), datetime(2024, 1, 20)
    rows = []
    # post = pre exactly (theta -> 1): adjusted value is the pre-mean
    # for every user, so both arm means collapse to the same number
    for u, v in [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]:
        rows.append((u, pre_t, v))
        rows.append((u, post_t, v))
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {r.arm: r for r in
           cuped_adjusted(ev, cutoff="2024-01-16 00:00:00").collect()}
    assert abs(out[0].theta_r - 1.0) < 1e-6
    assert abs(out[0].mean_adj_r - out[1].mean_adj_r) < 1e-6
    # raw post means differ across arms (20,40 vs 10,30)
    assert abs(out[0].mean_post_r - out[1].mean_post_r) > 5


def test_ivf_incremental_assign_census(spark):
    base = _emb(
        spark, [(float(i % 4 + 1), float((i * 3) % 5 + 1)) for i in range(24)]
    )
    cents = sim.ivf_centroids(base, n_cells=4, lloyd_rounds=1)
    new = base.filter("vec_id % 2 = 0").selectExpr(
        "vec_id + 1000000 AS vec_id", "embedding"
    )
    out = sim.ivf_incremental_assign(base, new, cents, n_assign=1).collect()
    assert sum(r.n_base for r in out) == 24      # every base vector posted once
    assert sum(r.n_new for r in out) == 12       # delta only
    for r in out:
        assert r.n_total == r.n_base + r.n_new


def test_mmr_select_turns_greedy_diversity(spark):
    from json_ld_spark.operators.curation import mmr_select_turns

    turns = spark.createDataFrame(
        [
            # turns 0,1 near-identical (high relevance, redundant);
            # turn 2 overlaps partially; turn 3 disjoint
            ("c", 0, "alpha beta gamma delta"),
            ("c", 1, "alpha beta gamma delta"),
            ("c", 2, "alpha beta zeta eta"),
            ("c", 3, "omega psi chi phi"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    out = {r.pick_rank: r for r in
           mmr_select_turns(turns, k=3).filter("conv_id = 'c'").collect()}
    # round 1: turn 0 (ties with 1, earlier wins) — max overlap w/ rest
    assert out[1].turn_idx == 0 and out[1].score == 4
    # round 2: turn 1 would score 4-4=0; turn 2 scores 2-2=0; tie -> 1
    assert out[2].turn_idx == 1
    # round 3: turn 2 scores 2-2=0, turn 3 scores 0-0=0; tie -> turn 2
    assert out[3].turn_idx == 2
    assert set(out) == {1, 2, 3}


def test_mmr_short_conversation_yields_fewer_picks(spark):
    from json_ld_spark.operators.curation import mmr_select_turns

    turns = spark.createDataFrame(
        [("s", 0, "only turn here")], "conv_id string, turn_idx int, text string"
    )
    out = mmr_select_turns(turns, k=3).collect()
    assert len(out) == 1 and out[0].pick_rank == 1 and out[0].score == 0


def test_bootstrap_ci_brackets_mean_and_is_partition_invariant(spark):
    from json_ld_spark.operators.profile import bootstrap_ci

    rows = [(i, "g", 100 + (i * 37) % 50) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = bootstrap_ci(df, "n_chars", group_col="lang", n_reps=32).collect()[0]
    assert out.ci_lo_r <= out.mean_r <= out.ci_hi_r
    assert out.ci_hi_r - out.ci_lo_r < 20  # CI width sane for n=200
    again = bootstrap_ci(
        df.repartition(13), "n_chars", group_col="lang", n_reps=32
    ).collect()[0]
    assert (out.ci_lo_r, out.ci_hi_r) == (again.ci_lo_r, again.ci_hi_r)


def test_distmult_rank_valid_and_model_differs_from_transe(spark):
    from json_ld_spark.operators.kge import distmult_rank, transe_rank

    edges = spark.createDataFrame(
        [(f"e{i}", "r", f"e{(i * 3) % 11}") for i in range(11)],
        "subj string, pred string, obj string",
    )
    dm = distmult_rank(edges, dim=8, test_mod=2)
    tr = transe_rank(edges, dim=8, test_mod=2)
    n_ents = 11
    drows = {(r.subj, r.obj): r.rank for r in dm.collect()}
    trows = {(r.subj, r.obj): r.rank for r in tr.collect()}
    assert drows, "hash test split selected no triples"
    assert set(drows) == set(trows)  # same deterministic test split
    for rank in drows.values():
        assert 1 <= rank <= n_ents
    # different kernels -> (almost surely) different rankings somewhere
    assert drows != trows


def test_rate_anomalies_flags_spike(spark):
    from datetime import datetime

    from json_ld_spark.operators.temporal import rate_anomalies

    rows = []
    # steady 10 events/day for 9 days, then a 100-event spike
    for d in range(1, 10):
        for i in range(10):
            rows.append((datetime(2024, 1, d, 12, 0, i), "click"))
    for i in range(100):
        rows.append((datetime(2024, 1, 10, 12, 0, i % 60, i), "click"))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r.day: r for r in rate_anomalies(ev, window_days=7).collect()}
    # flat baseline -> z undefined, but the deviation still flags
    assert out["2024-01-10"].is_anomaly == 1 and out["2024-01-10"].z_r is None
    # steady days after warm-up: zero variance baseline -> NULL z, no flag
    assert out["2024-01-05"].z_r is None and out["2024-01-05"].is_anomaly == 0
    # first day has no baseline at all
    assert out["2024-01-01"].z_r is None


def test_holt_forecast_linear_trend(spark):
    from datetime import datetime

    from json_ld_spark.operators.temporal import holt_forecast

    rows = []
    # perfectly linear daily rates 10, 20, ..., 100: level tracks the
    # last value and the forecast extrapolates upward
    for d in range(1, 11):
        for i in range(d * 10):
            rows.append((datetime(2024, 1, d, 8, 0, i % 60, i), "grow"))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = holt_forecast(ev, alpha=0.5, beta=0.3).collect()[0]
    assert out.n_days == 10
    assert out.trend_r > 5             # upward trend detected
    assert out.forecast_r > out.level_r
    assert 80 < out.level_r < 110      # level near the last rate


def test_holt_forecast_fails_past_row_bound(spark, monkeypatch):
    from datetime import datetime

    from json_ld_spark.operators import temporal

    rows = [(datetime(2024, 1, d, 8), "grow") for d in range(1, 5)]
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    monkeypatch.setattr(temporal, "_MAX_HOLT_ROWS", 3)
    with pytest.raises(ValueError, match="more than 3 "):
        temporal.holt_forecast(ev)
    monkeypatch.setattr(temporal, "_MAX_HOLT_ROWS", 4)
    assert temporal.holt_forecast(ev).collect()[0].n_days == 4


# $20M-$65M per user: the cent products pre·post and pre² pass BIGINT
_BIG_DOLLARS = {1: (4e7, 5e7), 2: (3e7, 3.5e7), 3: (5e7, 6.5e7), 4: (2e7, 2e7)}


def _cuped_rows(dollars):
    from datetime import datetime

    pre_t, post_t = datetime(2024, 1, 10), datetime(2024, 1, 20)
    return [(u, t, v) for u, (a, b) in dollars.items() for t, v in ((pre_t, a), (post_t, b))]


def _assert_cuped_exact(dollars, out):
    """`out` maps arm → row of (theta_r, mean_post_r, mean_adj_r); they
    must equal the exact integer OLS over the per-user cent sums."""
    pre = {u: round(a * 100) for u, (a, _) in dollars.items()}
    post = {u: round(b * 100) for u, (_, b) in dollars.items()}
    assert pre[1] * post[1] > 2**63  # the products really leave BIGINT
    n, sx, sy = len(pre), sum(pre.values()), sum(post.values())
    sxy = sum(pre[u] * post[u] for u in pre)
    sxx = sum(x * x for x in pre.values())
    theta = round(float(n * sxy - sx * sy) / float(n * sxx - sx * sx), 6)
    mean_pre = round(sx / n, 6)
    assert out[0]["theta_r"] == pytest.approx(theta, abs=1e-9)
    for arm in (0, 1):
        users = [u for u in pre if u % 2 == arm]
        adj = sum(round((post[u] - theta * (pre[u] - mean_pre)) * 1e4) for u in users)
        assert out[arm]["mean_adj_r"] == pytest.approx(adj / 1e4 / 100 / len(users), abs=1e-6)
        assert out[arm]["mean_post_r"] == pytest.approx(
            sum(post[u] for u in users) / 100 / len(users), abs=1e-6
        )


def test_cuped_exact_past_bigint_cent_products(spark):
    """Cent sums of $20M-$65M per user make pre·post and pre² products
    past BIGINT's 9.2e18: theta and the arm means must still equal the
    exact integer OLS, not overflow (ANSI) or wrap."""
    from json_ld_spark.operators.temporal import cuped_adjusted

    ev = spark.createDataFrame(
        _cuped_rows(_BIG_DOLLARS), "user_id long, ts timestamp, value double"
    )
    out = {r.arm: r.asDict() for r in cuped_adjusted(ev, cutoff="2024-01-16 00:00:00").collect()}
    _assert_cuped_exact(_BIG_DOLLARS, out)


def test_cuped_oracle_exact_past_bigint_cent_products():
    """The DuckDB oracle of rel_cuped on the same $20M-$65M users sums
    the cent products as HUGEINT, so it agrees with the exact OLS too."""
    duckdb = pytest.importorskip("duckdb")
    from json_ld_spark.queries.rel import _CUPED_SQL

    con = duckdb.connect()
    con.execute("CREATE TABLE events (user_id BIGINT, ts TIMESTAMP, value DOUBLE)")
    con.executemany("INSERT INTO events VALUES (?, ?, ?)", _cuped_rows(_BIG_DOLLARS))
    cur = con.execute(_CUPED_SQL)
    cols = [d[0] for d in cur.description]
    out = {r[0]: dict(zip(cols, r)) for r in cur.fetchall()}
    _assert_cuped_exact(_BIG_DOLLARS, out)