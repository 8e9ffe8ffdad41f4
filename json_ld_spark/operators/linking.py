"""Entity linking: mention detection + linking against a canonical-entity
dictionary (north_star stage; no reference analogue — SURVEY.md §2-I
"Hash join (broadcast)" row).

Pipeline: triples/turns → mention extraction (JVM split/explode — zero
Python) → candidate join vs dictionary → vectorized link scoring
(Arrow-batched pandas UDF) → top-1 per (subject, surface) via window.

Skew: the dictionary is usually small → `broadcast()` (no shuffle, skew
irrelevant). For dictionaries too large to broadcast, `strategy=
"salted"` spreads hot surfaces across `n_salts` shuffle keys: mentions
get a deterministic salt from xxhash64(subject), the dictionary side is
exploded ×n_salts, and the equi-join runs on (surface, salt) — bounded
per-task fan-in even when one surface covers half the corpus. AQE skew
join stays on as backstop (session.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.window import Window

ENTITY_BASE = "https://example.org/entity/"

MENTION_RE = r"[^a-z0-9]+"


def synthesize_entity_dictionary(
    spark: SparkSession, sf_dir: str, max_entities: int = 2000
) -> DataFrame:
    """Deterministic canonical-entity dictionary built from the corpus's
    own vocabulary (FIXTURES.md §6): every distinct lowercased token of
    documents.text becomes an entity; prior = corpus frequency share, so
    frequent surfaces are 'hot' (skew exercise is intrinsic)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tokens = docs.select(
        F.explode(F.split(F.lower(F.col("text")), MENTION_RE)).alias("surface")
    ).filter(F.length("surface") >= 3)
    freq = tokens.groupBy("surface").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n")).collect()[0][0] or 1
    return (
        freq.orderBy(F.desc("n"), "surface")
        .limit(max_entities)
        .select(
            F.concat(F.lit(ENTITY_BASE), F.col("surface")).alias("entity_id"),
            "surface",
            (F.col("n") / F.lit(float(total))).alias("prior"),
        )
    )


def extract_mentions(
    df: DataFrame, text_col: str = "text", subject_col: str = "subj"
) -> DataFrame:
    """JVM-side mention candidates: (subj, surface, pos). Codegen'd
    split+posexplode; no Python in this hot path."""
    return (
        df.select(
            F.col(subject_col).alias("subj"),
            F.posexplode(F.split(F.lower(F.col(text_col)), MENTION_RE)).alias(
                "pos", "surface"
            ),
        )
        .filter(F.length("surface") >= 3)
    )


@F.pandas_udf(T.DoubleType())
def link_score(prior: pd.Series, tf: pd.Series, pos: pd.Series) -> pd.Series:
    """Vectorized link scoring (Arrow batch; the north_star's 'batched
    entity-link scoring per partition'). Monotone in prior and term
    frequency, slight early-position boost — deterministic."""
    import numpy as np

    return prior.astype(float) * np.log1p(tf.astype(float)) / np.log1p(
        pos.astype(float) + 1.0
    )


def link_entities(
    mentions: DataFrame,
    dictionary: DataFrame,
    strategy: str = "broadcast",
    n_salts: int = 8,
    top_k: int = 1,
) -> DataFrame:
    """Join mention candidates to the entity dictionary and keep the
    top-k scored entity per (subj, surface).

    strategy='broadcast': F.broadcast(dictionary) — no shuffle.
    strategy='salted':    deterministic salt on the probe side +
                          dictionary replicated ×n_salts (hot-key spread
                          for dictionaries beyond broadcast size).

    ``score`` comes from the ``link_score`` pandas UDF. A caller that
    drops it runs no Python: ``mention_triples`` keeps only subj and
    entity_id, so Catalyst prunes the UDF, and the native ``build_kg``
    triples and nodes plans hold no Python node
    (tests/test_plan_shapes.py::test_build_kg_native_plans_run_no_python).
    """
    # tf/first_pos are aggregated on MENTIONS, before the dictionary
    # join, on BOTH paths: joining first would multiply the count by the
    # surface's candidate-entity fan-out and inflate score (harmless for
    # 1:1 dictionaries, wrong for ambiguous surfaces — round-1 advice).
    # On the broadcast path, a broadcast LEFT-SEMI prefilter drops
    # non-dictionary surfaces BEFORE the (subj, surface) shuffle — tf is
    # per-surface, so filtering other surfaces cannot change it, and the
    # pre-agg shuffle shrinks to dictionary hits only (without this the
    # refactor shuffled the full mention stream: 2.7x regression in
    # kg_linked_pipeline at sf0.1/amplify=40).
    if strategy == "broadcast":
        # no distinct: a left-semi probe never duplicates rows, so
        # duplicate dictionary surfaces are harmless and the distinct
        # was one extra (dictionary-sized) Exchange
        mentions = mentions.join(
            F.broadcast(dictionary.select("surface")), "surface", "left_semi"
        )
    tf = mentions.groupBy("subj", "surface").agg(
        F.count(F.lit(1)).alias("tf"), F.min("pos").alias("first_pos")
    )
    if strategy == "broadcast":
        joined = tf.join(F.broadcast(dictionary), "surface", "inner")
    elif strategy == "salted":
        salted = tf.withColumn(
            "salt", F.pmod(F.xxhash64("subj"), F.lit(n_salts)).cast("int")
        )
        replicated = dictionary.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        joined = salted.join(replicated, ["surface", "salt"], "inner").drop("salt")
    else:
        raise ValueError(f"unknown strategy {strategy!r}")

    if top_k == 1:
        # Algebraic fast path: within one (subj, surface) group, tf and
        # first_pos are constants, so link_score is monotone in prior —
        # the top-1 entity is argmax(prior) (tie: min entity_id). The
        # link collapses into join-then-ONE-aggregation: no window sort
        # over the linked rows (measured 60s → ~25s at 10M mentions).
        # The pre-agg shuffle hash-partitions by (subj, surface) and the
        # broadcast join preserves that partitioning, so this groupBy
        # needs no further Exchange. Requires score(prior, tf, pos)
        # monotone in prior, which the scoring model guarantees.
        best = F.min_by(
            F.struct("entity_id", "prior"),
            F.struct((-F.col("prior")).alias("np"), F.col("entity_id")),
        )
        agg = joined.groupBy("subj", "surface").agg(
            best.alias("best"),
            # constants within the group post-pre-agg; min() for a
            # deterministic pick
            F.min("tf").alias("tf"),
            F.min("first_pos").alias("first_pos"),
        )
        return agg.select(
            "subj", "surface",
            F.col("best.entity_id").alias("entity_id"),
            F.col("best.prior").alias("prior"),
            "tf", "first_pos",
        ).withColumn(
            "score", link_score(F.col("prior"), F.col("tf"), F.col("first_pos"))
        )

    scored = joined.withColumn(
        "score", link_score(F.col("prior"), F.col("tf"), F.col("first_pos"))
    )
    w = Window.partitionBy("subj", "surface").orderBy(
        F.desc("score"), F.asc("entity_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .drop("rank")
    )


def mention_triples(links: DataFrame) -> DataFrame:
    """Linked entities → mention triples for the corpus graph."""
    from ..sources.transcripts import TRANSCRIPT_VOCAB

    return links.select(
        F.lit(None).cast("string").alias("graph"),
        F.col("subj"),
        F.lit(TRANSCRIPT_VOCAB + "mentions").alias("pred"),
        F.lit("iri").alias("obj_kind"),
        F.col("entity_id").alias("obj"),
        F.lit(None).cast("string").alias("datatype"),
        F.lit(None).cast("string").alias("lang"),
    )


def fuzzy_link_entities(
    mentions: DataFrame,
    dictionary: DataFrame,
    max_dist: int = 1,
    block_len: int = 2,
) -> DataFrame:
    """Typo-tolerant entity linking: blocked Levenshtein match of
    mention surfaces against the dictionary, exact distances, top-1
    entity per (subj, surface).

    Blocking (pigeonhole): candidates are the UNION of two equi-joins —
    same ``block_len``-char PREFIX or same SUFFIX. For ``max_dist=1``
    and surfaces of length >= 2*block_len this has recall exactly 1.0:
    one edit cannot alter two disjoint blocks (a deletion/insertion
    inside the prefix shifts positions but leaves the last block_len
    CHARACTERS intact). Shorter surfaces can hide a middle edit in both
    blocks (len-3 with block_len=2) — the standard blocking trade,
    asserted and documented in tests; widen blocks or raise max_dist
    handling accordingly.

    Scale shape: the fuzzy work runs at VOCABULARY level — distinct
    mention surfaces join the (broadcast) dictionary per block, fan-in
    = dictionary block size; Levenshtein verifies candidates only. The
    corpus-sized mention stream only ever does an equi-join back on the
    matched surface. Distances are exact integers (same unit-cost DP in
    Spark and DuckDB), the pick is (dist asc, prior desc, entity_id
    asc) — fully deterministic.

    Output: (subj, surface, entity_id, dist, tf, first_pos).
    """
    surf = mentions.select("surface").dropDuplicates()
    d = dictionary.select(
        "entity_id", F.col("surface").alias("dsurf"), "prior"
    )

    def blocked(side_expr: str, dict_expr: str) -> DataFrame:
        return (
            surf.withColumn("__b", F.expr(side_expr))
            .join(F.broadcast(d.withColumn("__b", F.expr(dict_expr))), "__b")
            .drop("__b")
        )

    pre = blocked(
        f"substring(surface, 1, {block_len})",
        f"substring(dsurf, 1, {block_len})",
    )
    suf = blocked(
        f"substring(surface, -{block_len}, {block_len})",
        f"substring(dsurf, -{block_len}, {block_len})",
    )
    cand = pre.unionByName(suf).dropDuplicates(["surface", "entity_id"])
    matched = cand.withColumn(
        "dist", F.levenshtein("surface", "dsurf")
    ).filter(F.col("dist") <= max_dist)
    w = Window.partitionBy("surface").orderBy(
        F.col("dist").asc(), F.col("prior").desc(), F.col("entity_id").asc()
    )
    best = (
        matched.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("surface", "entity_id", "dist")
    )
    tf = mentions.groupBy("subj", "surface").agg(
        F.count(F.lit(1)).alias("tf"), F.min("pos").alias("first_pos")
    )
    return tf.join(best, "surface").select(
        "subj", "surface", "entity_id",
        F.col("dist").cast("int").alias("dist"),
        "tf", F.col("first_pos").cast("long").alias("first_pos"),
    )


def _doc_words(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (doc_id, word) pairs — the set representation every
    context-similarity stage shares. Codegen'd split/explode + one
    map-side-combinable distinct."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), MENTION_RE)).alias("word"),
        )
        .filter(F.length("word") >= 3)
        .distinct()
    )


def sense_signatures(
    docs: DataFrame,
    max_surfaces: int = 50,
    senses: int = 2,
    sig_k: int = 5,
) -> DataFrame:
    """Per-sense context signatures for ambiguous surfaces — the
    dictionary side of context-scored entity disambiguation (the
    word-sense-induction shape of Schütze 1998, relationalized): the
    corpus's `max_surfaces` hottest surfaces each get `senses` candidate
    entities, and sense s's signature is the `sig_k` words most often
    co-occurring with the surface in the deterministic document split
    ``doc_id % senses == s``. Everything is count/rank arithmetic —
    integer-exact across engines.

    Scale shape: co-occurrence is a (doc,word) × (doc,surface) equi-join
    on doc_id (surfaces first semi-joined against a LIMITed hot list,
    so the fan-out per doc is |surfaces ∩ doc| × |words(doc)|, bounded
    by the dictionary cap, never corpus²); ranking is a
    (surface, sense)-partitioned window — partitioned, audited-safe.
    """
    words = _doc_words(docs)
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    hot = (
        freq.orderBy(F.desc("n"), "word")
        .limit(max_surfaces)
        .select(F.col("word").alias("surface"))
    )
    present = words.join(
        F.broadcast(hot), words["word"] == hot["surface"], "inner"
    ).select("doc_id", "surface")
    cooc = (
        present.join(words, "doc_id")
        .where(F.col("word") != F.col("surface"))
        .withColumn("sense", (F.col("doc_id") % senses).cast("int"))
        .groupBy("surface", "sense", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("surface", "sense").orderBy(
        F.desc("c"), F.asc("word")
    )
    return (
        cooc.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= sig_k)
        .groupBy("surface", "sense")
        .agg(F.sort_array(F.collect_list("word")).alias("signature"))
    )


def disambiguate_entities(
    docs: DataFrame,
    signatures: DataFrame,
) -> DataFrame:
    """Context-scored sense disambiguation: each (document, surface)
    mention is assigned the candidate sense whose signature overlaps
    the document's word set most (score = |doc_words ∩ signature|,
    ties to the lower sense id) — the entity-link SCORING stage of the
    north-star pipeline with the candidate fan-out made explicit.

    Scale shape: mentions equi-join the (surface, sense) signature table
    (dictionary-sized → broadcast); the overlap is a JVM array_intersect
    against the per-doc word set carried as one array column; the argmax
    is a (doc, surface)-partitioned window. Integer scores — no float
    parity risk.
    """
    words = _doc_words(docs)
    docsets = words.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("word")).alias("doc_words")
    )
    mentions = words.join(
        F.broadcast(signatures.select("surface").distinct()),
        words["word"] == F.col("surface"),
        "inner",
    ).select("doc_id", "surface")
    cand = (
        mentions.join(F.broadcast(signatures), "surface")
        .join(docsets, "doc_id")
        .withColumn(
            "score",
            F.size(F.array_intersect(F.col("doc_words"), F.col("signature"))).cast(
                "int"
            ),
        )
    )
    w = Window.partitionBy("doc_id", "surface").orderBy(
        F.desc("score"), F.asc("sense")
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            "surface",
            F.col("sense").cast("int").alias("sense"),
            "score",
            F.concat(
                F.lit(ENTITY_BASE),
                F.col("surface"),
                F.lit("#"),
                F.col("sense").cast("string"),
            ).alias("entity_id"),
        )
    )


def pronoun_links(
    turns: DataFrame,
    entity_surfaces: DataFrame,
    pronoun_re: str = r"\b(it|they|this)\b",
) -> DataFrame:
    """Coreference-lite antecedent linking over conversation windows:
    a turn whose text contains a pronoun is linked to the entity FIRST
    mentioned in the most recent PRIOR turn of the same conversation
    that mentions any dictionary entity — the recency heuristic that
    anchors pronoun triples (turn —refersTo→ entity) in the transcript
    KG.

    Scale shape: per-turn first-mention extraction is a broadcast
    dictionary join + one (conv, turn)-partitioned window; antecedent
    propagation is ONE conv-partitioned ordered window
    (last_value IGNORE NULLS over the preceding frame). No Python,
    no global window, integer/string outputs only.
    """
    ment = (
        turns.select(
            "conv_id",
            "turn_idx",
            F.posexplode(F.split(F.lower(F.col("text")), MENTION_RE)).alias(
                "pos", "word"
            ),
        )
        .filter(F.length("word") >= 3)
        .join(
            F.broadcast(entity_surfaces.select(F.col("surface").alias("word"))),
            "word",
        )
    )
    wfirst = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.asc("pos"), F.asc("word")
    )
    first = (
        ment.withColumn("rk", F.row_number().over(wfirst))
        .where(F.col("rk") == 1)
        .select("conv_id", "turn_idx", F.col("word").alias("turn_entity"))
    )
    keyed = turns.join(first, ["conv_id", "turn_idx"], "left").withColumn(
        "has_pronoun",
        (F.regexp_count(F.lower(F.col("text")), F.lit(pronoun_re)) > 0).cast("int"),
    )
    wprev = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        keyed.withColumn(
            "antecedent", F.last("turn_entity", ignorenulls=True).over(wprev)
        )
        .where((F.col("has_pronoun") == 1) & F.col("antecedent").isNotNull())
        .select(
            "conv_id",
            "turn_idx",
            F.concat(F.lit(ENTITY_BASE), F.col("antecedent")).alias("entity_id"),
        )
    )


def entity_profiles(
    turns: DataFrame,
    surfaces: DataFrame,
) -> DataFrame:
    """Per-entity knowledge-base rollup — the materialized entity table
    a linking pipeline publishes next to the triple table: for every
    dictionary entity, total mention occurrences, distinct mentioning
    turns and conversations, first/last mention timestamps, and the
    most co-mentioned other entity (count desc, surface asc tiebreak).

    Scale shape: mentions are a broadcast dictionary join over the
    exploded turn tokens; the profile is ONE map-side-combinable
    aggregation keyed by surface; co-mention pairing joins the DISTINCT
    per-turn entity sets with themselves — fan-out bounded by
    (entities-per-turn)², never corpus² — and the argmax is a
    surface-partitioned window over the dictionary-sized pair table.
    Timestamps are emitted as UTC lexical strings (the N-Quads
    convention used across the KG).
    """
    ment = (
        turns.select(
            "conv_id",
            "turn_idx",
            "ts",
            F.explode(F.split(F.lower(F.col("text")), MENTION_RE)).alias("word"),
        )
        .filter(F.length("word") >= 3)
        .join(
            F.broadcast(surfaces.select(F.col("surface").alias("word"))), "word"
        )
        .select(
            F.col("word").alias("surface"),
            "conv_id",
            "turn_idx",
            "ts",
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias(
                "turn_key"
            ),
        )
    )
    prof = ment.groupBy("surface").agg(
        F.count(F.lit(1)).cast("long").alias("n_mentions"),
        F.countDistinct("turn_key").cast("long").alias("n_turns"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.date_format(F.min("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("first_ts"),
        F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("last_ts"),
    )
    tset = ment.select("turn_key", "surface").distinct()
    co = (
        tset.alias("a")
        .join(tset.alias("b"), "turn_key")
        .where(F.col("a.surface") != F.col("b.surface"))
        .groupBy(
            F.col("a.surface").alias("surface"),
            F.col("b.surface").alias("co_surface"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("surface").orderBy(F.desc("c"), F.asc("co_surface"))
    top_co = (
        co.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("surface", "co_surface", F.col("c").cast("long").alias("co_count"))
    )
    return (
        prof.join(top_co, "surface", "left")
        .select(
            F.concat(F.lit(ENTITY_BASE), F.col("surface")).alias("entity_id"),
            "surface",
            "n_mentions",
            "n_turns",
            "n_convs",
            "first_ts",
            "last_ts",
            "co_surface",
            F.coalesce(F.col("co_count"), F.lit(0)).cast("long").alias("co_count"),
        )
    )
