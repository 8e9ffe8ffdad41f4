"""Plan-shape assertions for the round-4 session-3 operators: the
physical plans the scale arguments in PLANS.md §29 rely on — no
cartesian products anywhere, TakeOrdered for top-k, equi-joins (not
range joins) for window co-occurrence, broadcast for the DSIR model."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_textrank_plan_topk_and_equijoins(spark):
    from json_ld_spark.operators.retrieval import textrank_keywords

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta delta epsilon")],
        "doc_id long, text string",
    )
    plan = _plan(textrank_keywords(docs, window=2, iters=2, k=5))
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dhash_neardup_plan_no_cartesian(spark):
    from json_ld_spark.operators import multimodal as mm

    media = mm.synthesize_png_media_textured(spark, n=4)
    plan = _plan(mm.dhash_near_duplicates(mm.dhash_images(media), max_hamming=6))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dsir_plan_broadcasts_model(spark):
    from json_ld_spark.operators.curation import dsir_weights

    docs = spark.createDataFrame(
        [(1, "a b c d", "en"), (2, "c d e f", "fr")],
        "doc_id long, text string, lang string",
    )
    plan = _plan(dsir_weights(docs, docs.filter(F.col("lang") == "en"), buckets=64))
    # the per-bucket ratio table joins as a broadcast build side
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan


def test_incremental_minhash_plan_no_cartesian(spark):
    from json_ld_spark.operators.dedup import incremental_minhash_dedup

    old = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    new = spark.createDataFrame([(9, "a b c d e f")], "doc_id long, text string")
    plan = _plan(incremental_minhash_dedup(old, new, num_hashes=8, bands=4))
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_weighted_paths_and_ktruss_plans(spark):
    from json_ld_spark.operators.graphops import k_truss, shortest_paths

    e = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2)], ["src", "dst", "w"]
    )
    seeds = spark.createDataFrame([("a",)], ["node"])
    assert "Cartesian" not in _plan(shortest_paths(e, seeds, max_hops=2))
    et = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], ["src", "dst"])
    assert "Cartesian" not in _plan(k_truss(et, k=3, rounds=1))


def test_session3_operators_handle_empty_inputs(spark):
    """Degenerate inputs must return empty/identity results, not
    crash — the production guard for empty partitions and filters
    that match nothing."""
    from pyspark.sql import functions as F

    from json_ld_spark.operators.curation import dsir_weights, preference_pairs
    from json_ld_spark.operators.graphops import (
        betweenness_sampled, graph_metrics, hits, k_truss, shortest_paths,
    )
    from json_ld_spark.operators.temporal import funnel

    empty_e = spark.createDataFrame([], "src string, dst string")
    empty_w = spark.createDataFrame([], "src string, dst string, w long")
    seeds = spark.createDataFrame([("a",)], ["node"])
    no_seeds = spark.createDataFrame([], "node string")

    assert hits(empty_e, iters=2).count() == 0
    assert k_truss(empty_e, k=3, rounds=2).count() == 0
    assert shortest_paths(empty_w, seeds, 2).count() == 1  # seed at dist 0
    assert shortest_paths(empty_w, no_seeds, 2).count() == 0
    assert betweenness_sampled(empty_e, seeds, 2).count() == 0
    gm = graph_metrics(empty_e).first()
    assert gm["n_nodes"] == 0 and gm["n_edges"] == 0

    from json_ld_spark.operators.graphops import (
        harmonic_closeness_sampled, weighted_pagerank,
    )

    assert weighted_pagerank(empty_w, iters=2).count() == 0
    assert harmonic_closeness_sampled(empty_e, seeds, 2).count() == 0
    assert harmonic_closeness_sampled(empty_e, no_seeds, 2).count() == 0

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    some = spark.createDataFrame([(1, "a b c", "en")],
                                 "doc_id long, text string, lang string")
    assert dsir_weights(docs, docs).count() == 0
    # empty TARGET still scores the raw corpus (ratio falls back to
    # the smoothing prior)
    assert dsir_weights(some, docs).count() == 1

    t = spark.createDataFrame([], "conv_id string, turn_idx int, role string, text string")
    assert preference_pairs(t).count() == 0

    ev = spark.createDataFrame([], "user_id long, ts timestamp, event_type string")
    assert funnel(ev, ["view", "click"]).count() == 0


# ---------------------------------------------------------------------------
# plan-audit detector regression tests (round-5): the audit must catch
# the two shapes that slipped past the round-4 marker counts — a
# partition-less Window and a SinglePartition Exchange outside a
# scalar-aggregate root — and must NOT flag the legitimate cases.
# ---------------------------------------------------------------------------

def _audit():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_audit", "/root/repo/scripts/plan_audit.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_plan_audit_flags_partitionless_window(spark):
    """A deliberately-injected regression: row_number() over an
    unpartitioned window is the exact shape the round-4 audit missed."""
    from pyspark.sql import Window

    pa = _audit()
    df = spark.range(100).withColumn("k", F.col("id") % 3)
    bad = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    plan = _plan(bad)
    assert len(pa.partitionless_windows(plan)) == 1
    # the same shape also produces an unjustified SinglePartition shuffle
    assert len(pa.single_partition_exchanges(plan)) == 1

    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert pa.partitionless_windows(_plan(good)) == []
    assert pa.single_partition_exchanges(_plan(good)) == []

    # a partitioned-UNORDERED window prints only two bracket groups
    # ([exprs], [partition]) — it must NOT be mistaken for partition-less
    # (the bm25/lm_score/exact-dedup single-pass shape)
    unordered = df.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("k"))
    )
    assert pa.partitionless_windows(_plan(unordered)) == []

    # Exchange SinglePartition under a GlobalLimit is bounded by the
    # limit itself — allowed
    limited = df.orderBy("k").limit(5).join(
        spark.range(10).withColumnRenamed("id", "k2"),
        F.col("k") == F.col("k2"),
    ).limit(3)
    assert pa.single_partition_exchanges(_plan(limited)) == []


def test_plan_audit_allows_scalar_agg_single_partition(spark):
    pa = _audit()
    plan = _plan(spark.range(100).agg(F.sum("id").alias("s")))
    assert "Exchange SinglePartition" in plan  # the legit case exists...
    assert pa.single_partition_exchanges(plan) == []  # ...and is not flagged
    # broadcast exchanges must not inflate the shuffle count
    b = spark.range(100).withColumn("k", F.col("id") % 3).join(
        F.broadcast(spark.range(3).withColumnRenamed("id", "k")), "k"
    )
    bplan = _plan(b)
    assert pa.broadcast_exchange_count(bplan) == 1
    assert pa.shuffle_exchange_count(bplan) == 0


def test_epoch_order_two_phase_rank_plan(spark):
    """epoch_order must rank via range-repartition + local windows +
    broadcast offsets — never a partition-less global window (the
    round-4 scale defect) — while still producing a dense permutation."""
    from json_ld_spark.operators.sampling import epoch_order

    pa = _audit()
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(97)], "doc_id long, text string"
    )
    out = epoch_order(df, epoch=1, seed="s")
    plan = _plan(out)
    assert pa.partitionless_windows(plan) == []
    assert pa.single_partition_exchanges(plan) == []
    ranks = sorted(r["epoch_rank"] for r in out.collect())
    assert ranks == list(range(97))
    # deterministic across reruns and independent across epochs
    again = sorted(
        (r["doc_id"], r["epoch_rank"]) for r in epoch_order(df, 1, seed="s").collect()
    )
    assert again == sorted((r["doc_id"], r["epoch_rank"]) for r in out.collect())
    e2 = {r["doc_id"]: r["epoch_rank"] for r in epoch_order(df, 2, seed="s").collect()}
    assert any(e2[r[0]] != r[1] for r in again)


def test_temperature_mix_guard_probes_before_collect(spark):
    """A corpus-shaped group column must raise BEFORE materializing the
    group dictionary: the collect is LIMIT-bounded at max_groups+1."""
    import pytest

    from json_ld_spark.operators.sampling import temperature_mix

    corpus = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.col("id").cast("string").alias("source"),  # one group per row
    )
    with pytest.raises(ValueError, match="corpus-shaped"):
        temperature_mix(corpus, "source", max_groups=8)


def _shuffle_keys(plan) -> list[list[str]]:
    """Keys of every hash-partitioning shuffle in an executed plan, with
    expression ids stripped. Descends into AQE query stages; stops at
    cached-relation scans, whose subplans ran when they were cached."""
    import re

    name = plan.nodeName()
    if name.startswith("InMemoryTableScan"):
        return []
    if name == "AdaptiveSparkPlan":
        return _shuffle_keys(plan.executedPlan())
    if "QueryStage" in name:
        return _shuffle_keys(plan.plan())
    keys = []
    if name == "Exchange":
        part = plan.outputPartitioning()
        if part.getClass().getSimpleName() == "HashPartitioning":
            exprs = part.expressions()
            keys.append(
                [re.sub(r"#\d+$", "", exprs.apply(i).toString()) for i in range(exprs.size())]
            )
    children = plan.children()
    for i in range(children.size()):
        keys += _shuffle_keys(children.apply(i))
    return keys


def test_build_kg_nodes_shuffle_only_on_subj(spark):
    """build_kg repartitions the extraction by subj once; text-row dedup,
    link aggregates, mention dedup and node merge all cluster on subj, so
    every hash shuffle in the executed node-table plan is keyed on subj."""
    from json_ld_spark.plans.kg import build_kg
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    transcripts = synthesize_transcripts(spark, n_convs=20, avg_turns=5).cache()
    dictionary = spark.createDataFrame(
        [("https://e/entity/test", "test", 0.4), ("https://e/entity/data", "data", 0.3)],
        "entity_id string, surface string, prior double",
    ).cache()
    nodes = build_kg(transcripts, dictionary, engine="native")["nodes"]
    assert nodes.collect()  # runs the plan, so AQE settles its final shape
    keys = _shuffle_keys(nodes._jdf.queryExecution().executedPlan())
    transcripts.unpersist()
    dictionary.unpersist()
    assert keys and all(k == ["subj"] for k in keys), keys


def _kg_inputs(spark):
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    transcripts = synthesize_transcripts(spark, n_convs=20, avg_turns=5).cache()
    dictionary = spark.createDataFrame(
        [("https://e/entity/test", "test", 0.4), ("https://e/entity/data", "data", 0.3)],
        "entity_id string, surface string, prior double",
    ).cache()
    return transcripts, dictionary


def _coalesced_shuffle_keys(plan) -> list[list[str]]:
    """Keys of every hash shuffle that a final AQE plan reads through a
    partition-coalescing AQEShuffleRead."""
    name = plan.nodeName()
    if name.startswith("InMemoryTableScan"):
        return []
    if name == "AdaptiveSparkPlan":
        return _coalesced_shuffle_keys(plan.executedPlan())
    if name == "AQEShuffleRead" and plan.hasCoalescedPartition():
        return _shuffle_keys(plan.child())
    if "QueryStage" in name:
        return _coalesced_shuffle_keys(plan.plan())
    keys = []
    children = plan.children()
    for i in range(children.size()):
        keys += _coalesced_shuffle_keys(children.apply(i))
    return keys


def test_build_kg_subj_exchanges_not_coalesced(spark):
    """The subj repartition has a fixed partition count, so AQE keeps
    every subj partition: the tiny text Exchange is not merged into one
    task that would then link every turn's mentions alone."""
    from json_ld_spark.plans.kg import build_kg

    transcripts, dictionary = _kg_inputs(spark)
    triples = build_kg(transcripts, dictionary, engine="native")["triples"]
    assert triples.collect()  # runs the plan, so AQE settles its final shape
    plan = triples._jdf.queryExecution().executedPlan()
    all_keys = _shuffle_keys(plan)
    coalesced = _coalesced_shuffle_keys(plan)
    transcripts.unpersist()
    dictionary.unpersist()
    assert all_keys.count(["subj"]) == 2, all_keys
    assert ["subj"] not in coalesced, coalesced


def test_build_kg_native_plans_run_no_python(spark):
    """The native path runs no Python: mention_triples drops the link
    score, so Catalyst prunes the link_score pandas UDF from both plans."""
    from json_ld_spark.plans.kg import build_kg

    transcripts, dictionary = _kg_inputs(spark)
    parts = build_kg(transcripts, dictionary, engine="native")
    plans = {k: _plan(parts[k]) for k in ("triples", "nodes")}
    transcripts.unpersist()
    dictionary.unpersist()
    for k, plan in plans.items():
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in plan, (k, node)
    # the same check sees the UDF where the score is kept
    assert "ArrowEvalPython" in _plan(parts["links"])
