"""``data_*`` queries: training-data curation (sessionizing, splits,
sampling, packing, BPE, curricula, quality models and dataset cards), each
registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from json_ld_spark.operators import dedup as dd
from json_ld_spark.operators import textops as tx
from json_ld_spark.operators.bpe import PRETOKEN_RE as _BPE_RE
from json_ld_spark.queries import query
from json_ld_spark.queries._common import (
    _utc, _read, _dup_doc_pairs, _BASE_CTE, _CC_CORE_SQL,
)
from json_ld_spark.sources.transcripts import transcripts_from_documents


# data_temperature_mix: counts → floor(sqrt(n)*1e6) integer weights →
# one exact double division per group → the upsample_epochs draw
# (md5-bridge u < frac) → generate_series replication. sqrt is
# IEEE-exactly-rounded, integer products stay under 2^53, so the rate
# doubles are bit-identical to the Spark side's driver-computed rates.
_TEMPERATURE_MIX_SQL = """
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
), p AS (
  SELECT source, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS pg FROM c
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(SUM(pg) AS BIGINT) AS s FROM p
), r AS (
  SELECT source, (pg * tot) / (s * n) AS e FROM p CROSS JOIN t
), d AS (
  SELECT doc_id, dd.source, r.e,
         CAST(floor(r.e) AS BIGINT) AS whole, r.e - floor(r.e) AS frac,
         (('0x' || substr(md5('tm|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
           / 4294967296.0 AS u
  FROM documents dd JOIN r USING (source)
)
SELECT doc_id, source, CAST(g.epoch AS INT) AS epoch
FROM d CROSS JOIN UNNEST(range(
  0, whole + CASE WHEN u < frac THEN 1 ELSE 0 END)) AS g(epoch)
"""


@query(oracle=_TEMPERATURE_MIX_SQL)
def q_data_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) mixture re-weighting of the documents
    corpus by source (sampling.temperature_mix, the multilingual-LM
    exponentiated-sampling recipe): head sources Bernoulli-downsample,
    tail sources fractionally repeat, total stays ~corpus-sized.
    Rates derive from exact integer counts with one correctly-rounded
    double division (sqrt is IEEE-exact), so every per-row draw is
    bit-identical cross-engine. Oracle: full SQL replay (counts →
    integer-scaled sqrt weights → epochs → md5-bridge draws →
    generate_series replication)."""
    _utc(spark)
    from json_ld_spark.operators.sampling import temperature_mix

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mix(
        docs, group_col="source", alpha=0.5, seed="tm"
    ).select("doc_id", "source", "epoch")


# data_cluster_split: same components, then the md5-bucket split replay
# keyed on the GROUP representative (hash_split's bucket recipe).
# data_sessionize / data_session_stats: LAG + cumulative SUM windows
# over integer microseconds — boundary decisions are exact in both
# engines; ordering tiebreaks on event_id.
_EV_SESSIONIZE_CTE = """
WITH e AS (
  SELECT event_id, user_id, epoch_us(ts) AS us
  FROM events WHERE ts IS NOT NULL
), b AS (
  SELECT event_id, user_id, us,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us - LAG(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT event_id, user_id, us,
         CAST(SUM(boundary) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM b
)
"""

_EV_SESSIONIZE_SQL = _EV_SESSIONIZE_CTE + """
SELECT event_id, user_id, session_idx,
       CAST(user_id AS VARCHAR) || '#' || CAST(session_idx AS VARCHAR)
         AS session_id
FROM s
"""


@query(oracle=_EV_SESSIONIZE_SQL)
def q_data_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inactivity-gap sessionization of the events stream
    (temporal.sessionize, 30-min gap): one shuffle on user_id feeds
    the lag + running-sum window pair; boundary decisions compare
    integer microseconds, so every assignment is engine-exact.
    Oracle: the same LAG + cumulative SUM windows in SQL."""
    _utc(spark)
    from json_ld_spark.operators.temporal import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(
        ev, key="user_id", ts_col="ts", gap_seconds=1800,
        order_cols=["event_id"],
    ).select("event_id", "user_id", "session_idx", "session_id")


_EV_SESSION_STATS_SQL = _EV_SESSIONIZE_CTE + """
SELECT user_id,
       CAST(user_id AS VARCHAR) || '#' || CAST(session_idx AS VARCHAR)
         AS session_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) AS BIGINT) AS end_us,
       CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
FROM s GROUP BY 1, 2
"""


@query(oracle=_EV_SESSION_STATS_SQL)
def q_data_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup (temporal.session_stats) over the
    sessionized events: count + integer-microsecond start/end/duration
    — one map-side-combinable aggregation keyed on the session.
    Oracle: grouped replay of the sessionize windows."""
    _utc(spark)
    from json_ld_spark.operators.temporal import session_stats, sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return session_stats(
        sessionize(ev, key="user_id", ts_col="ts", gap_seconds=1800,
                   order_cols=["event_id"]),
        key="user_id", ts_col="ts",
    )


_CLUSTER_SPLIT_SQL = _CC_CORE_SQL + """
SELECT doc_id, dup_group,
       CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, dup_group,
         ('0x' || substr(md5('split|' || CAST(dup_group AS VARCHAR)), 1, 8))::BIGINT
           % 10000 AS bucket
  FROM groups
)
"""


@query(oracle=_CLUSTER_SPLIT_SQL)
def q_data_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (sampling.leakage_safe_split):
    near-dup pairs -> connected components -> hash_split keyed on the
    component representative, so a duplicate cluster never straddles
    splits. Oracle: recursive-CTE components + md5-bucket replay on
    the group id."""
    from json_ld_spark.operators.sampling import leakage_safe_split

    _utc(spark)
    docs, sim_pairs = _dup_doc_pairs(spark, sf_dir)
    out = leakage_safe_split(docs.select("doc_id"), sim_pairs)
    return out.select("doc_id", F.col("dup_group").cast("long").alias("dup_group"), "split")


# data_sft_pairs: the same conv-keyed ROWS frame replayed with
# DuckDB's list() window aggregate; both engines sort the collected
# frame by turn_idx (struct field order) before rendering.
_SFT_PAIRS_SQL = _BASE_CTE + """
, ctxed AS (
  SELECT conv_id, turn_idx, role, text,
         list({'i': turn_idx, 'r': role, 'x': text}) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING) AS ctx
  FROM base
)
SELECT conv_id, turn_idx,
       array_to_string(list_transform(list_sort(ctx),
                                      s -> s.r || ': ' || s.x), chr(10))
         AS prompt,
       text AS completion,
       CAST(len(ctx) AS BIGINT) AS n_context_turns
FROM ctxed
WHERE role = 'assistant' AND len(ctx) >= 1
"""


@query(oracle=_SFT_PAIRS_SQL)
def q_data_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts → SFT training pairs (curation.sft_pairs): for each
    assistant turn, prompt = the previous <=4 turns rendered
    'role: text' (turn order pinned by array_sort, not collect_list
    accumulation order), completion = the turn text. One conv-keyed
    ordered window. Oracle: the same frame replayed with DuckDB's
    list() window aggregate + list_sort."""
    _utc(spark)
    from json_ld_spark.operators.curation import sft_pairs

    return sft_pairs(
        transcripts_from_documents(spark, sf_dir), n_context=4
    )


# preference_pairs: lag prompt window + cyclic partner rotation within
# each turn position, replayed with the identical window orderings.
_PREF_PAIRS_SQL = _BASE_CTE + """
, resp AS (
  SELECT conv_id, turn_idx, role, text,
         lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         lag(text) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_text
  FROM base
), r2 AS (
  SELECT conv_id, turn_idx, prev_text AS prompt, text,
         ('0x' || substr(md5(conv_id), 1, 8))::BIGINT AS h
  FROM resp WHERE role = 'assistant' AND prev_role = 'user'
), rot AS (
  SELECT conv_id, turn_idx, prompt, text AS chosen,
         COALESCE(lead(text) OVER w, first_value(text) OVER w2) AS rejected,
         COALESCE(lead(conv_id) OVER w, first_value(conv_id) OVER w2)
           AS rejected_conv
  FROM r2
  WINDOW w AS (PARTITION BY turn_idx ORDER BY h, conv_id),
         w2 AS (PARTITION BY turn_idx ORDER BY h, conv_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
)
SELECT conv_id, turn_idx, prompt, chosen, rejected
FROM rot WHERE rejected_conv <> conv_id
"""


@query(oracle=_PREF_PAIRS_SQL)
def q_data_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair assembly (curation.preference_pairs): for
    every assistant turn directly after a user turn, chosen = the real
    response, rejected = the response the next conversation (cyclic
    md5-bridge rotation within the turn position) gave at the same
    position — the standard mismatched-response negative. Two window
    shuffles, zero joins. Oracle: both windows replayed verbatim
    (lag + lead/first_value over identical orderings)."""
    _utc(spark)
    from json_ld_spark.operators.curation import preference_pairs

    return preference_pairs(transcripts_from_documents(spark, sf_dir))


# data_weighted_topk: ES reservoir keys replayed expression-for-
# expression; selection is by the ROUNDED key + id tiebreak on both
# sides, so the chosen set is engine-stable.
_WEIGHTED_TOPK_SQL = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       round(ln((('0x' || substr(md5('wtk|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)
                / 4294967296.0) / n_chars, 6) AS es_key_r
FROM documents
WHERE n_chars > 0
ORDER BY es_key_r DESC, doc_id
LIMIT 200
"""


@query(oracle=_WEIGHTED_TOPK_SQL)
def q_data_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size weighted sample without replacement (sampling.
    weighted_topk_sample, Efraimidis-Spirakis reservoir keys): 200
    documents drawn proportional to length — zero shuffle, a pure
    projection + TakeOrderedAndProject heap. Oracle: the identical
    bridge-uniform + ln(u)/w expression in DuckDB (6-dp key round
    absorbs libm ulp differences; id tiebreak pins the set)."""
    _utc(spark)
    from json_ld_spark.operators.sampling import weighted_topk_sample

    docs = _read(spark, sf_dir, "documents")
    out = weighted_topk_sample(docs, k=200, weight_col="n_chars", seed="wtk")
    return out.select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars"), "es_key_r"
    )


_EPOCH_ORDER_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY ('0x' || substr(md5('train|2|' || CAST(doc_id AS VARCHAR)),
                                  1, 15))::BIGINT ASC,
                  doc_id ASC) - 1 AS BIGINT) AS epoch_rank
FROM documents
"""


@query(oracle=_EPOCH_ORDER_SQL)
def q_data_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle (sampling.epoch_order,
    epoch=2): every document's position under the (seed, epoch)
    md5-bridge permutation — the reshuffle-each-epoch loader contract
    as a pure projection + one uniform-key rank window; resume =
    WHERE epoch_rank >= k. Oracle: ROW_NUMBER over the identical
    bridge key in DuckDB."""
    _utc(spark)
    from json_ld_spark.operators.sampling import epoch_order

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return epoch_order(docs, epoch=2, seed="train")


# curation.chunk_documents replay: stride windows via generate_series +
# 1-based inclusive list slicing (Spark slice(pos, len) == t[a:b]).
_CHUNK_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents
), ch AS (
  SELECT doc_id, t,
         greatest(CAST(ceil((len(t) - 8) / 32.0) AS INT), 1) AS n_chunks
  FROM toks WHERE len(t) > 0
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(len(t[i*32 + 1 : i*32 + 40]) AS BIGINT) AS n_chunk_tokens,
       array_to_string(t[i*32 + 1 : i*32 + 40], ' ') AS chunk_text,
       CAST(i * 32 AS BIGINT) AS tok_start
FROM ch, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
"""


@query(oracle=_CHUNK_SQL)
def q_data_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking (curation.chunk_documents):
    40-token windows, 8-token overlap — pure JVM transform+slice per
    doc, one explode, no shuffle."""
    from json_ld_spark.operators.curation import chunk_documents

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=40, overlap=8)


# curriculum tier from the ROUNDED gopher signals (the hash-verified
# quantities), within-tier md5 permutation via partitioned ROW_NUMBER
_CURRICULUM_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
), sig AS (
  SELECT doc_id,
    len(words) AS n_words,
    round(list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words), 6)
      AS mwl,
    round((length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
     + len(list_filter(words, x -> ends_with(x, '...'))))::DOUBLE
      / len(words), 6) AS sr,
    round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
      / len(lines), 6) AS bf,
    round(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))::DOUBLE
      / len(words), 6) AS af,
    len(list_intersect(list_distinct(words),
        ['the','be','to','of','and','that','have','with'])) AS ns
  FROM w
), tiered AS (
  SELECT doc_id,
    CAST((CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END)
       + (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1 ELSE 0 END)
       + (CASE WHEN sr <= 0.1 THEN 1 ELSE 0 END)
       + (CASE WHEN bf <= 0.9 THEN 1 ELSE 0 END)
       + (CASE WHEN af >= 0.7 THEN 1 ELSE 0 END)
       + (CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS tier,
    ('0x' || substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
  FROM sig
)
SELECT doc_id, tier,
       CAST(ROW_NUMBER() OVER (PARTITION BY tier ORDER BY k ASC, doc_id ASC) - 1
            AS BIGINT) AS tier_rank
FROM tiered
"""


@query(oracle=_CURRICULUM_SQL)
def q_data_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum training order: tier = INTEGER count of
    Gopher rules passed (0-6, computed from the 6-dp-ROUNDED signals —
    the hash-verified cross-engine quantities, so tier membership can
    never straddle an ulp), within-tier order a seeded md5 permutation
    via ONE tier-partitioned window. Readers ORDER BY (tier DESC,
    tier_rank): cleanest documents first, shuffled within tier — the
    standard curriculum/annealing schedule, zero global windows.
    Oracle: the gopher replay CTE + the same indicator sum + a
    partitioned ROW_NUMBER."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    q = tx.gopher_quality(F.col("text"))
    sig = docs.select(
        "doc_id",
        q["n_words"].alias("nw"),
        q["mean_word_len"].alias("mwl"),
        q["symbol_ratio"].alias("sr"),
        q["bullet_frac"].alias("bf"),
        q["alpha_frac"].alias("af"),
        q["n_stopwords"].alias("ns"),
    )
    tier = (
        ((F.col("nw") >= 50) & (F.col("nw") <= 100000)).cast("int")
        + ((F.col("mwl") >= 3.0) & (F.col("mwl") <= 10.0)).cast("int")
        + (F.col("sr") <= 0.1).cast("int")
        + (F.col("bf") <= 0.9).cast("int")
        + (F.col("af") >= 0.7).cast("int")
        + (F.col("ns") >= 2).cast("int")
    ).cast("long")
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))),
            1, 15,
        ),
        16, 10,
    ).cast("long")
    from pyspark.sql import Window as W

    tiered = sig.select("doc_id", tier.alias("tier"), key.alias("__k"))
    w = W.partitionBy("tier").orderBy(F.col("__k").asc(), F.col("doc_id").asc())
    return tiered.withColumn(
        "tier_rank", (F.row_number().over(w) - 1).cast("long")
    ).select("doc_id", "tier", "tier_rank")


# sampling/split oracles: the md5-bridge bucket replayed exactly
# (same recipe as the sketch oracles), so split membership is
# bit-identical across engines
_SPLIT_SQL = r"""
WITH b AS (
  SELECT doc_id, n_chars,
         ('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, SUM(n_chars)::BIGINT AS chars
FROM b GROUP BY 1
"""


@query(oracle=_SPLIT_SQL)
def q_data_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (operators/sampling.py):
    per-document md5-bridge bucket → 80/10/10 split with NO shuffle and
    no RNG state — the assignment is a pure projection, invariant to
    partitioning and cluster size (randomSplit is neither). Returns the
    per-split doc counts and char volume; the oracle replays the exact
    bucket math."""
    from json_ld_spark.operators import sampling as sp

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = (
        sp.hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
    )
    return out.select("split", "n_docs", "chars")


_STRAT_SAMPLE_SQL = r"""
WITH b AS (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 10000 AS bucket
  FROM documents
)
SELECT doc_id, lang, source FROM b
WHERE (lang = 'en' AND bucket < 2000)
   OR (lang = 'de' AND bucket < 8000)
   OR (lang = 'zh' AND bucket < 5000)
"""


@query(oracle=_STRAT_SAMPLE_SQL)
def q_data_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling by language: down-sample the
    majority language (en 20%) while keeping more of the tails (de 80%,
    zh 50%); unlisted strata drop. Hash-threshold selection — the
    sample is a filter, not an RNG draw, so it is reproducible and
    monotone in the fraction."""
    from json_ld_spark.operators import sampling as sp

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = sp.stratified_sample(
        docs, "doc_id", "lang", {"en": 0.2, "de": 0.8, "zh": 0.5}
    )
    return out.select("doc_id", "lang", "source")


_SAMPLE_PER_KEY_SQL = r"""
WITH rk AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('perkey|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      % 10000,
                    doc_id) AS rk
  FROM documents
)
SELECT doc_id, lang FROM rk WHERE rk <= 10
"""


@query(oracle=_SAMPLE_PER_KEY_SQL)
def q_data_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size deterministic sample per group: 10 docs per language,
    ranked inside each language by (hash bucket, doc_id) so the pick is
    input-order-invariant. One shuffle on the group key; rank<=n caps
    every group. Oracle: the same ROW_NUMBER in DuckDB."""
    from json_ld_spark.operators import sampling as sp

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = sp.sample_per_key(docs, ["lang"], "doc_id", 10)
    return out.select("doc_id", "lang")


_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id, lang,
         len(list_filter(
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
           x -> x <> '')) AS n_tok
  FROM documents
)
SELECT doc_id, lang, n_tok::BIGINT AS n_tok,
       CAST(FLOOR(
         (SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tok) / 2000) AS BIGINT) AS pack_id
FROM t
"""


@query(oracle=_PACK_SQL)
def q_data_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/sampling.pack_documents): assign
    docs to ~2000-token training packs per language shard via one
    windowed cumulative sum — contiguous fill, deterministic, packs
    never split a document. Oracle: the identical SUM OVER window in
    SQL."""
    from json_ld_spark.operators import sampling as sp
    from json_ld_spark.operators.retrieval import doc_lengths

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang").join(
        doc_lengths(docs).withColumnRenamed("dl", "n_tok"), "doc_id"
    )
    out = sp.pack_documents(
        toks, "n_tok", budget=2000, order_col="doc_id", shard_col="lang"
    )
    return out.select(
        "doc_id", "lang", F.col("n_tok").cast("long").alias("n_tok"),
        "pack_id",
    )


# BPE oracle: DuckDB replays the ENTIRE tokenizer — training and
# application. Training: the capped word-frequency table (top-1500 by
# count DESC, token ASC — deterministic total order), then 30 unrolled
# merge rounds, each one MATERIALIZED CTE pair (argmax pair by count
# DESC then pair ASC = the Python trainer's tie-break; binary UTF-8
# collation == Python code-point order). Application: per pre-token,
# fold replace() over the learned merge list on the chr(31)-interleaved
# representation — replace() is non-overlapping left-to-right in BOTH
# engines, which IS Sennrich apply order. AS MATERIALIZED is required:
# DuckDB inlines multiply-referenced CTEs exponentially (repo rule
# from the HITS oracle).

def _bpe_prefix_sql(n_merges: int = 30, max_words: int = 1500) -> str:
    from json_ld_spark.operators.bpe import PRETOKEN_RE

    parts = [f"""WITH v0 AS MATERIALIZED (
  SELECT regexp_replace(tok, '(.)', chr(31)||'\\1', 'g') AS w,
         CAST(cnt AS BIGINT) AS cnt
  FROM (
    SELECT t.tok AS tok, COUNT(*) AS cnt
    FROM documents, UNNEST(regexp_extract_all(text, '{PRETOKEN_RE}')) AS t(tok)
    GROUP BY t.tok ORDER BY cnt DESC, tok ASC LIMIT {max_words}
  )
)"""]
    for k in range(n_merges):
        parts.append(f"""b{k} AS MATERIALIZED (
  SELECT a, b FROM (
    SELECT syms[i] AS a, syms[i+1] AS b, cnt
    FROM (SELECT string_split(w, chr(31))[2:] AS syms, cnt FROM v{k}) s,
         UNNEST(range(1, len(s.syms))) AS r(i)
  ) GROUP BY a, b ORDER BY SUM(cnt) DESC, a ASC, b ASC LIMIT 1
)""")
        parts.append(f"""v{k + 1} AS MATERIALIZED (
  SELECT replace(w, chr(31)||a||chr(31)||b, chr(31)||a||b) AS w, cnt
  FROM v{k}, b{k}
)""")
    mrg = "\n  UNION ALL ".join(
        f"SELECT {k} AS r, chr(31)||a||chr(31)||b||chr(30)||chr(31)||a||b AS m FROM b{k}"
        for k in range(n_merges)
    )
    parts.append(f"mrg AS ({mrg})")
    parts.append("ml AS (SELECT list(m ORDER BY r) AS ms FROM mrg)")
    parts.append(f"""app AS (
  SELECT doc_id, lang,
    list_transform(
      regexp_extract_all(text, '{PRETOKEN_RE}'),
      tok -> list_reduce(
        list_prepend(regexp_replace(tok, '(.)', chr(31)||'\\1', 'g'), ms),
        (acc, m) -> replace(acc, split_part(m, chr(30), 1), split_part(m, chr(30), 2))
      )
    ) AS folded
  FROM documents, ml
)""")
    parts.append("""cnts AS (
  SELECT doc_id, lang,
         CAST(COALESCE(list_sum(list_transform(folded,
              s -> length(s) - length(replace(s, chr(31), '')))), 0) AS BIGINT)
           AS n_bpe_tokens,
         md5(array_to_string(folded, '')) AS stream_md5
  FROM app
)""")
    return ",\n".join(parts)


_BPE_TOKENS_SQL = (
    _bpe_prefix_sql()
    + "\nSELECT doc_id, n_bpe_tokens, stream_md5 FROM cnts"
)


@query(oracle=_BPE_TOKENS_SQL)
def q_data_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenization (operators/bpe.py): 30 merges learned
    from the corpus (distributed pre-token counting -> capped
    word-frequency table -> deterministic driver merge loop, the
    FAISS-codebook bounded-state pattern), applied as a pure JVM
    projection — fold of replace() over ONE literal merge array per
    pre-token (Sennrich apply-in-learned-order semantics). Output per
    doc: EXACT token count + md5 of the canonical encoded token
    stream. Oracle: DuckDB replays BOTH the training (30 unrolled
    merge-round CTEs over the same capped word table) and the
    application (list_reduce of replace over the same merge list) —
    value-exact, no approximation anywhere."""
    from json_ld_spark.operators import bpe

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    merges = bpe.train_bpe(docs, n_merges=30, max_words=1500)
    if len(merges) != 30:  # loud contract: short tables break budgets
        raise ValueError(f"expected 30 merges, learned {len(merges)}")
    t = F.col("text")
    return docs.select(
        "doc_id",
        bpe.bpe_token_count(t, merges).alias("n_bpe_tokens"),
        bpe.bpe_stream_md5(t, merges).alias("stream_md5"),
    )


_PACK_BPE_SQL = (
    _bpe_prefix_sql()
    + """
SELECT doc_id, lang, n_bpe_tokens,
       CAST(FLOOR(
         (SUM(n_bpe_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_bpe_tokens) / 2000) AS BIGINT) AS pack_id
FROM cnts
"""
)


@query(oracle=_PACK_BPE_SQL)
def q_data_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing driven by EXACT BPE token counts (the trainer
    contract is tokens, not words): bpe.bpe_token_count feeds
    sampling.pack_documents per language shard at a 2000-token budget.
    Oracle: the BPE training+application replay CTEs + the identical
    SUM OVER window."""
    from json_ld_spark.operators import bpe
    from json_ld_spark.operators import sampling as sp

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    merges = bpe.train_bpe(docs, n_merges=30, max_words=1500)
    toks = docs.select(
        "doc_id", "lang",
        bpe.bpe_token_count(F.col("text"), merges).alias("n_bpe_tokens"),
    )
    out = sp.pack_documents(
        toks, "n_bpe_tokens", budget=2000, order_col="doc_id",
        shard_col="lang",
    )
    return out.select("doc_id", "lang", "n_bpe_tokens", "pack_id")


_INTERLEAVE_SQL = r"""
WITH gi AS (
  SELECT lang, DENSE_RANK() OVER (ORDER BY lang) - 1 AS g,
         (SELECT COUNT(DISTINCT lang) FROM documents) AS n
  FROM (SELECT DISTINCT lang FROM documents)
), r AS (
  SELECT doc_id, lang,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('ilv|r5|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id) - 1 AS BIGINT) AS grp_rank
  FROM documents
)
SELECT r.doc_id, r.lang, r.grp_rank,
       CAST(r.grp_rank * gi.n + gi.g AS BIGINT) AS interleave_pos
FROM r JOIN gi USING (lang)
"""


@query(oracle=_INTERLEAVE_SQL)
def q_data_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin mixture schedule (sampling.interleave_groups):
    reading in interleave_pos order rotates through the languages one
    doc per cycle, each language internally md5-permuted — pure
    arithmetic (rank * n_groups + group_slot), no global window.
    Oracle: the same partitioned ROW_NUMBER + DENSE_RANK arithmetic."""
    from json_ld_spark.operators import sampling as sp

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = sp.interleave_groups(docs, "lang", "doc_id", seed="r5")
    return out.select("doc_id", "lang", "grp_rank", "interleave_pos")


_BPE_STATS_SQL = (
    _bpe_prefix_sql()
    + f"""
, chars AS (
  SELECT doc_id,
         CAST(length(array_to_string(regexp_extract_all(text,
              '{_BPE_RE}'), '')) AS BIGINT) AS n_chars
  FROM documents
)"""
    + """
SELECT c.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(c.n_bpe_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(ch.n_chars) AS BIGINT) AS sum_chars,
       round(SUM(ch.n_chars)::DOUBLE / SUM(c.n_bpe_tokens), 6) AS chars_per_token_r,
       round(SUM(c.n_bpe_tokens)::DOUBLE / COUNT(*), 6) AS tokens_per_doc_r
FROM cnts c JOIN chars ch USING (doc_id)
GROUP BY c.lang
"""
)


@query(oracle=_BPE_STATS_SQL)
def q_data_bpe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility profile over the EXACT BPE
    counts (operators/bpe.py): chars per token and tokens per document
    by language — the standard multilingual-tokenizer equity metric
    (a language with high chars/token is under-served by the learned
    merges). One groupBy(lang) over the zero-shuffle token projection.
    Oracle: the BPE training+application replay + the same integer
    aggregates (6-dp rounded ratios)."""
    from json_ld_spark.operators import bpe

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    merges = bpe.train_bpe(docs, n_merges=30, max_words=1500)
    t = F.col("text")
    per = docs.select(
        "lang",
        bpe.bpe_token_count(t, merges).alias("n_tok"),
        F.length(F.concat_ws("", F.regexp_extract_all(t, F.lit(bpe.PRETOKEN_RE), 0))).cast("long").alias("n_chars"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .select(
            "lang", "n_docs", "sum_tokens", "sum_chars",
            F.round(F.col("sum_chars") / F.col("sum_tokens"), 6).alias("chars_per_token_r"),
            F.round(F.col("sum_tokens") / F.col("n_docs"), 6).alias("tokens_per_doc_r"),
        )
    )


_UPSAMPLE_EPOCHS_SQL = """
WITH d AS (
  SELECT doc_id, source,
         CAST(CASE CAST(substr(source, 4) AS INT) % 4
              WHEN 0 THEN 2.5 WHEN 1 THEN 1.25 WHEN 2 THEN 0.5
              ELSE 1.0 END AS DOUBLE) AS e,
         ('0x' || substr(md5('recipe1|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
), n AS (
  SELECT doc_id, source,
         CAST(floor(e) AS INT)
           + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS n_copies
  FROM d
)
SELECT doc_id, source, CAST(g.i AS BIGINT) AS epoch
FROM n CROSS JOIN generate_series(0, 9) AS g(i)
WHERE n_copies > 0 AND g.i < n_copies
"""


@query(oracle=_UPSAMPLE_EPOCHS_SQL)
def q_data_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch repetition (sampling.upsample_epochs): the
    data-recipe primitive — per-source epoch factors (2.5 / 1.25 /
    0.5 / 1.0 by source suffix % 4); every row appears floor(e) times
    plus one md5-bridge Bernoulli(frac) pass, with a 0-based epoch
    index for interleaving. Zero shuffle (one explode projection).
    Oracle: the identical draw + generate_series replay."""
    from json_ld_spark.operators.sampling import upsample_epochs

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select("doc_id", "source")
    srcnum = F.substring("source", 4, 10).cast("int")
    e = (
        F.when(srcnum % 4 == 0, F.lit(2.5))
        .when(srcnum % 4 == 1, F.lit(1.25))
        .when(srcnum % 4 == 2, F.lit(0.5))
        .otherwise(F.lit(1.0))
    )
    out = upsample_epochs(d.withColumn("e", e), "e", seed="recipe1")
    return out.select(
        "doc_id", "source", F.col("epoch").cast("long").alias("epoch")
    )


_WEIGHTED_SAMPLE_SQL = """
SELECT doc_id,
       round(CAST(CASE doc_id % 4 WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
                  WHEN 2 THEN 0.25 ELSE 0.05 END AS DOUBLE), 6) AS rate_r
FROM documents
WHERE ('0x' || substr(md5('mix3|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
      / 4294967296.0
      < CAST(CASE doc_id % 4 WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
             WHEN 2 THEN 0.25 ELSE 0.05 END AS DOUBLE)
"""


@query(oracle=_WEIGHTED_SAMPLE_SQL)
def q_data_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixing (sampling.weighted_sample): deterministic per-row
    Bernoulli keep with per-domain rates (1 / 0.5 / 0.25 / 0.05 by
    doc_id % 4) — u(id) = md5-bridge / 2^32 compared against the rate,
    zero shuffle, monotone in the rate so mixes retune without
    churning kept rows. Oracle: the same draw and comparison in SQL."""
    from json_ld_spark.operators.sampling import weighted_sample

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    rate = (
        F.when(doc % 4 == 0, F.lit(1.0))
        .when(doc % 4 == 1, F.lit(0.5))
        .when(doc % 4 == 2, F.lit(0.25))
        .otherwise(F.lit(0.05))
    )
    out = weighted_sample(d.withColumn("rate", rate), "rate", seed="mix3")
    return out.select("doc_id", F.round("rate", 6).alias("rate_r"))


_PROFILE_HITTERS_SQL = """
WITH m AS (
  SELECT 'o_orderstatus' AS "column", CAST(o_orderstatus AS VARCHAR) AS value FROM orders
  UNION ALL SELECT 'o_orderpriority', CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
), c AS (
  SELECT "column", value, CAST(COUNT(*) AS BIGINT) AS n
  FROM m GROUP BY 1, 2
)
SELECT "column", value, n,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY "column" ORDER BY n DESC, value ASC NULLS FIRST
       ) AS INT) AS rank
FROM c QUALIFY rank <= 3
"""


@query(oracle=_PROFILE_HITTERS_SQL)
def q_data_profile_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnostics (profile.heavy_hitters): exact per-column
    top-3 values over orders — one melt projection + one
    (column, value) count agg (map-side combine absorbs the hot keys
    being hunted) + a per-column top-k window over distinct-value
    counts only. Deterministic tie-break by value. Oracle: the same
    melt/count/row_number in SQL."""
    from json_ld_spark.operators.profile import heavy_hitters

    _utc(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return heavy_hitters(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey"], k=3
    )


_COLUMN_STATS_SQL = """
SELECT 'o_orderstatus' AS "column", CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct
FROM orders
UNION ALL
SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
FROM orders
"""


@query(oracle=_COLUMN_STATS_SQL)
def q_data_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (profile.column_stats, exact mode): per-column
    row/null/distinct counts over orders in ONE aggregation pass
    (approx HLL is the default at corpus scale; exact here so DuckDB
    COUNT(DISTINCT) can replay it)."""
    from json_ld_spark.operators.profile import column_stats

    _utc(spark)
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return column_stats(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey"], exact=True
    )


def _word_count_col() -> Column:
    """Whitespace word count matching curation._tokens (lower/trim,
    empties dropped) — the shared Spark/DuckDB tokenization contract."""
    return F.size(
        F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda w: w != "")
    ).cast("long")


# sampling.token_budget_select replay: the scale-safe global-order
# two-phase cumsum reduces to a plain per-lang ordered SUM at oracle
# scale; selection = exclusive prefix < budget (straddler kept).
_TOKEN_BUDGET_SQL = r"""
WITH w AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS BIGINT) AS nw,
         ('0x' || substr(md5('tb|' || lang || '|' || CAST(doc_id AS VARCHAR)),
                         1, 15))::BIGINT AS k
  FROM documents
), c AS (
  SELECT doc_id, lang, nw,
         SUM(nw) OVER (PARTITION BY lang ORDER BY k ASC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM w
)
SELECT doc_id, lang, nw AS tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum - nw < 2000
"""


@query(oracle=_TOKEN_BUDGET_SQL)
def q_data_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget selection (sampling.token_budget_select):
    keep a seeded-random prefix of each language until 2000 tokens are
    reached (straddler kept). NO per-group window — the rows take one
    GLOBAL (lang, md5-key) total order through ordered_cumsum's
    range-partitioned two-phase rank, then each lang's start offset is
    subtracted back (bounded agg, broadcast) — a hot language spreads
    over many range partitions instead of one task."""
    from json_ld_spark.operators.sampling import token_budget_select

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    keyed = docs.withColumn("nw", _word_count_col())
    sel = token_budget_select(keyed, "lang", "nw", budget=2000)
    return sel.select(
        "doc_id", "lang", F.col("nw").alias("tokens"), "cum_tokens"
    ).orderBy("doc_id")


# curation.bt_strengths replay: comparisons + matrix + 8 unrolled MM
# rounds on the SAME integer fixed-point lattice (// floor division,
# integer sums — order-free, so no rounding is ever needed). Each
# round's strengths are referenced twice (pi, pj) -> AS MATERIALIZED,
# or DuckDB inlines the CTE chain exponentially (the HITS lesson).
_BT_ARENA_SQL = r"""
WITH w AS (
  SELECT doc_id,
         ('0x' || substr(md5('bt|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 12 AS p,
         CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                              x -> x <> '')) AS BIGINT) AS s
  FROM documents
), comp AS (
  SELECT CASE WHEN a.s >= b.s THEN a.p ELSE b.p END AS winner,
         CASE WHEN a.s >= b.s THEN b.p ELSE a.p END AS loser
  FROM w a JOIN w b ON b.doc_id = a.doc_id + 1
  WHERE a.p <> b.p
), mat AS (
  SELECT LEAST(winner, loser) AS a, GREATEST(winner, loser) AS b,
         COUNT(*) AS n,
         SUM(CASE WHEN winner < loser THEN 1 ELSE 0 END) AS wa
  FROM comp GROUP BY 1, 2
), dir AS (
  SELECT a AS i, b AS j, n, wa AS w FROM mat
  UNION ALL
  SELECT b AS i, a AS j, n, n - wa AS w FROM mat
), stat AS MATERIALIZED (
  SELECT i, CAST(SUM(w) AS BIGINT) AS wins, CAST(SUM(n) AS BIGINT) AS n_comp
  FROM dir GROUP BY i
), p0 AS MATERIALIZED (
  SELECT i, CAST(1000000 AS BIGINT) AS p FROM stat
),
__BT_ROUNDS__
SELECT s.i AS player, s.wins, s.n_comp, f.p AS strength,
       CAST(ROW_NUMBER() OVER (ORDER BY f.p DESC, s.i ASC) AS BIGINT) AS rank
FROM stat s JOIN p8 f ON f.i = s.i
"""
_BT_ARENA_SQL = _BT_ARENA_SQL.replace("__BT_ROUNDS__", """p1 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p0 pi ON pi.i = d.i
    JOIN p0 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p2 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p1 pi ON pi.i = d.i
    JOIN p1 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p3 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p2 pi ON pi.i = d.i
    JOIN p2 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p4 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p3 pi ON pi.i = d.i
    JOIN p3 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p5 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p4 pi ON pi.i = d.i
    JOIN p4 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p6 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p5 pi ON pi.i = d.i
    JOIN p5 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p7 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p6 pi ON pi.i = d.i
    JOIN p6 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
),
p8 AS MATERIALIZED (
  SELECT s.i,
         GREATEST(CAST((s.wins + 1) * 1000000000000 // d.den AS BIGINT), 1) AS p
  FROM stat s JOIN (
    SELECT d.i,
           CAST(SUM(d.n * 1000000000000 // (pi.p + pj.p)) AS BIGINT) AS den
    FROM dir d
    JOIN p7 pi ON pi.i = d.i
    JOIN p7 pj ON pj.i = d.j
    GROUP BY d.i
  ) d ON d.i = s.i
)""")


@query(oracle=_BT_ARENA_SQL)
def q_data_bt_arena(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry arena ranking (curation.bt_strengths): adjacent
    documents (doc_id, doc_id+1) play one comparison each between
    their md5-bucket players (12 buckets); the longer document's
    player wins (ties to the lower doc_id). The corpus-sized
    comparison stream collapses through ONE groupBy into a
    players^2-bounded matrix; 8 MM rounds (Hunter 2004) then run on
    exact integer fixed-point so the iterative fit replays
    bit-identically as unrolled DuckDB CTE rounds."""
    from json_ld_spark.operators.curation import bt_strengths

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    player = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bt|"), F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long") % 12
    )
    d = docs.select(
        F.col("doc_id").alias("d"), player.alias("p"), _word_count_col().alias("s")
    )
    d2 = d.select(
        F.col("d").alias("d2"), F.col("p").alias("p2"), F.col("s").alias("s2")
    )
    comp = (
        d.join(d2, F.col("d2") == F.col("d") + 1)
        .where(F.col("p") != F.col("p2"))
        .select(
            F.when(F.col("s") >= F.col("s2"), F.col("p"))
            .otherwise(F.col("p2"))
            .alias("winner"),
            F.when(F.col("s") >= F.col("s2"), F.col("p2"))
            .otherwise(F.col("p"))
            .alias("loser"),
        )
    )
    return bt_strengths(comp, rounds=8).orderBy("rank", "player")


def _logreg_sql(n_rounds: int = 3, lr: float = 1.0) -> str:
    """Unrolled GD rounds mirroring curation.logreg_quality: per-row
    gradient contributions quantized to BIGINT micros (order-free exact
    sums), weight updates 6-dp-rounded in-engine, identical expression
    order throughout."""
    xs = ["1e6", "x1 * 1e6", "x2 * 1e6"]  # err * x_j * 1e6 with x0 = 1.0
    sql = """
WITH feats AS (
  SELECT doc_id,
         CAST(LEAST(n_chars, 2000) AS DOUBLE) / 1000.0 AS x1,
         CAST(len(regexp_extract_all(text, '\\d')) AS DOUBLE)
           / CAST(GREATEST(n_chars, 1) AS DOUBLE) AS x2,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM documents
), r0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)
"""
    for k in range(1, n_rounds + 1):
        z = "(w.w0 + w.w1 * x1 + w.w2 * x2)"
        p = f"(1.0 / (1.0 + exp(-{z})))"
        err = f"({p} - CAST(y AS DOUBLE))"
        grads = ", ".join(
            f"round(w.w{j} - {lr!r} * (CAST(SUM(CAST(round({err} * {xs[j]}, 0) "
            f"AS BIGINT)) AS DOUBLE) / 1e6) / CAST(COUNT(*) AS DOUBLE), 6) AS w{j}"
            for j in range(3)
        )
        sql += (
            f", r{k} AS (\n  SELECT {grads}\n"
            f"  FROM feats CROSS JOIN r{k - 1} w GROUP BY w.w0, w.w1, w.w2\n)\n"
        )
    z = "(w.w0 + w.w1 * x1 + w.w2 * x2)"
    p = f"(1.0 / (1.0 + exp(-{z})))"
    sql += f"""
SELECT doc_id, y, round({p}, 6) AS score_r,
       CASE WHEN round({p}, 6) >= 0.5 THEN 1 ELSE 0 END AS pred
FROM feats CROSS JOIN r{n_rounds} w
"""
    return sql


_LOGREG_SQL = _logreg_sql()


@query(oracle=_LOGREG_SQL)
def q_data_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (curation.logreg_quality): full-batch
    gradient-descent logistic regression — 3 rounds, each ONE map-side-
    combinable aggregation (3 micro-quantized gradient sums + a count);
    weights are bounded driver state; scoring is a shuffle-free
    projection. The oracle unrolls the identical rounds as CTEs (exact
    BIGINT gradient sums, in-engine 6-dp weight rounding)."""
    from json_ld_spark.operators import curation as cu

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return cu.logreg_quality(docs, n_rounds=3, lr=1.0)


# pack bin-utilization: wrap the pack replay, integer decile rollup
_PACK_STATS_SQL = """
WITH packed AS (
""" + _PACK_SQL.replace("WITH t AS", "  WITH t AS") + """
), per AS (
  SELECT lang AS shard, pack_id, SUM(n_tok) AS fill, COUNT(*) AS n_docs
  FROM packed GROUP BY lang, pack_id
)
SELECT shard, CAST(LEAST(fill * 10 // 2000, 10) AS INT) AS util_decile,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(MIN(fill) AS BIGINT) AS min_fill,
       CAST(MAX(fill) AS BIGINT) AS max_fill
FROM per GROUP BY 1, 2
"""


@query(oracle=_PACK_STATS_SQL)
def q_data_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-utilization report over the sequence packer
    (sampling.pack_stats on pack_documents output): per (lang,
    utilization-decile) pack counts, doc counts, min/max fill — the
    padding-FLOPs metric of every pretraining batch pipeline. Two
    integer aggregations. Oracle wraps the pack replay and the same
    integer decile math."""
    from json_ld_spark.operators import sampling as sp
    from json_ld_spark.operators.retrieval import doc_lengths

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "lang").join(
        doc_lengths(docs).withColumnRenamed("dl", "n_tok"), "doc_id"
    )
    packed = sp.pack_documents(
        toks, "n_tok", budget=2000, order_col="doc_id", shard_col="lang"
    )
    return sp.pack_stats(packed, "n_tok", budget=2000, shard_col="lang")


# per-source dataset cards: dup injection + rollups + top-lang argmax
_SOURCE_CARDS_SQL = """
WITH corpus AS (
  SELECT doc_id, source, lang, text, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, source, lang, text, n_chars
  FROM documents WHERE doc_id % 10 = 0
), hashed AS (
  SELECT source,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
  FROM corpus
), dup AS (
  SELECT source, CAST(SUM(g) AS BIGINT) AS n_dup_docs FROM (
    SELECT source, content_hash, COUNT(*) AS g
    FROM hashed GROUP BY 1, 2)
  WHERE g > 1 GROUP BY source
), lang_counts AS (
  SELECT source, lang, COUNT(*) AS c FROM corpus GROUP BY 1, 2
), top_lang AS (
  SELECT source, lang AS top_lang FROM (
    SELECT source, lang,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY c DESC, lang ASC) AS rk
    FROM lang_counts)
  WHERE rk = 1
), base AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
  FROM corpus GROUP BY source
)
SELECT b.source, b.n_docs, b.n_chars,
       CAST(COALESCE(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       round(CAST(COALESCE(d.n_dup_docs, 0) AS DOUBLE)
             / CAST(b.n_docs AS DOUBLE), 6) AS dup_frac_r,
       b.n_langs, t.top_lang
FROM base b LEFT JOIN dup d ON b.source = d.source
JOIN top_lang t ON b.source = t.source
"""


@query(oracle=_SOURCE_CARDS_SQL)
def q_data_source_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset cards — the per-provenance summary a data
    release publishes: doc/char volumes, exact-dup count and fraction
    (on the dup-injected corpus so the metric is non-trivial),
    language cardinality and the dominant language. Two hash
    aggregations + one source-partitioned argmax window; integer-exact
    except the single rounded fraction. Oracle replays the injection
    and every rollup."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    corpus = docs.select("doc_id", "source", "lang", "text", "n_chars").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "source", "lang", "text", "n_chars",
        )
    )
    hashed = corpus.withColumn(
        "content_hash", F.md5(dd.normalize_text(F.col("text")))
    )
    dup = (
        hashed.groupBy("source", "content_hash")
        .agg(F.count(F.lit(1)).alias("g"))
        .where(F.col("g") > 1)
        .groupBy("source")
        .agg(F.sum("g").alias("n_dup_docs"))
    )
    lang_counts = corpus.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    wtop = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
    top_lang = (
        lang_counts.withColumn("rk", F.row_number().over(wtop))
        .where(F.col("rk") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    base = corpus.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    return (
        base.join(dup, "source", "left")
        .join(top_lang, "source")
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("long").alias(
                "n_dup_docs"
            ),
            F.round(
                F.coalesce(F.col("n_dup_docs"), F.lit(0)).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_frac_r"),
            "n_langs",
            "top_lang",
        )
    )


def _bootstrap_ci_sql(n_reps: int = 32, seed: str = "boot") -> str:
    """Poisson-bootstrap replay: the CASE chain uses the SAME float
    literals as profile.POISSON1_CDF (imported, repr-rendered) so the
    weights are bit-identical."""
    from json_ld_spark.operators.profile import POISSON1_CDF

    case = "CASE " + " ".join(
        f"WHEN u < {POISSON1_CDF[i]!r} THEN {i}" for i in range(len(POISSON1_CDF))
    ) + f" ELSE {len(POISSON1_CDF)} END"
    return f"""
WITH rows0 AS (
  SELECT lang AS grp, CAST(n_chars AS BIGINT) AS x,
         CAST(doc_id AS VARCHAR) AS rid, b
  FROM documents CROSS JOIN UNNEST(range(0, {n_reps})) AS t(b)
), weighted AS (
  SELECT grp, x, b,
         {case} AS k
  FROM (
    SELECT grp, x, b,
           (CAST(('0x' || substr(md5('{seed}|' || CAST(b AS VARCHAR) || '|' || rid), 1, 8))::BIGINT AS DOUBLE) + 0.5)
             / 4294967296.0 AS u
    FROM rows0)
), reps AS (
  SELECT grp,
         round(CAST(SUM(k * x) AS DOUBLE) / CAST(SUM(k) AS DOUBLE), 6) AS mean_b
  FROM weighted GROUP BY grp, b
  HAVING SUM(k) > 0
), stats AS (
  SELECT grp, MIN(mean_b) AS ci_lo_r, MAX(mean_b) AS ci_hi_r FROM (
    SELECT grp, mean_b,
           ROW_NUMBER() OVER (PARTITION BY grp ORDER BY mean_b ASC) AS rk,
           COUNT(*) OVER (PARTITION BY grp) AS nb
    FROM reps)
  WHERE rk = 2 OR rk = nb - 1
  GROUP BY grp
), point AS (
  SELECT lang AS grp, CAST(COUNT(*) AS BIGINT) AS n,
         round(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_r
  FROM documents GROUP BY lang
)
SELECT p.grp AS lang, p.n, p.mean_r, s.ci_lo_r, s.ci_hi_r
FROM point p JOIN stats s ON p.grp = s.grp
"""


_BOOTSTRAP_CI_SQL = _bootstrap_ci_sql()


@query(oracle=_BOOTSTRAP_CI_SQL)
def q_data_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap CI (profile.bootstrap_ci,
    Chamandy et al. 2012) for the per-language mean document length:
    32 replicates with md5-bridge Poisson(1) weights (coordination-
    free — the distributed-bootstrap standard), CI from replicate-mean
    order statistics. One 32× explode + one (lang, rep) integer agg +
    one lang-partitioned rank window. Oracle replays the uniform →
    inverse-CDF weights and every aggregate."""
    from json_ld_spark.operators.profile import bootstrap_ci

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return bootstrap_ci(docs, "n_chars", group_col="lang", n_reps=32)


# data_label_votes: five md5-keyed noisy annotators, round-1 majority via
# windowed argmin (count desc, label asc), exact-integer agreement
# weights, round-2 weighted revote — the deterministic Dawid-Skene round
_LABEL_VOTES_SQL = r"""
WITH ann AS (
  SELECT d.doc_id AS item, 'a' || CAST(j AS VARCHAR) AS annotator,
         CASE WHEN ('0x' || substr(md5('ann' || CAST(j AS VARCHAR) || '|'
                        || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % (j + 3) = 0
              THEN 'z' || CAST(
                   ('0x' || substr(md5('ann' || CAST(j AS VARCHAR) || '|'
                        || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 3
                   AS VARCHAR)
              ELSE COALESCE(d.lang, 'und') END AS label
  FROM documents d CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS j)
), votes AS (
  SELECT DISTINCT item, annotator, label FROM ann
), counts AS (
  SELECT item, label, CAST(COUNT(*) AS BIGINT) AS c
  FROM votes GROUP BY item, label
), mv AS (
  SELECT item, label AS label_mv FROM counts
  QUALIFY row_number() OVER (PARTITION BY item ORDER BY c DESC, label ASC) = 1
), agree AS (
  SELECT v.annotator,
         CAST(SUM(CASE WHEN v.label = m.label_mv THEN 1 ELSE 0 END)
              AS BIGINT) AS w
  FROM votes v JOIN mv m USING (item) GROUP BY v.annotator
), wc AS (
  SELECT v.item, v.label, CAST(SUM(a.w) AS BIGINT) AS wcnt
  FROM votes v JOIN agree a USING (annotator) GROUP BY v.item, v.label
), ww AS (
  SELECT item, label AS label_weighted, wcnt FROM wc
  QUALIFY row_number() OVER (PARTITION BY item ORDER BY wcnt DESC, label ASC) = 1
), nv AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_votes FROM votes GROUP BY item
)
SELECT nv.item, nv.n_votes, mv.label_mv, ww.label_weighted,
       ww.wcnt AS top_weight
FROM nv JOIN mv USING (item) JOIN ww USING (item)
"""


@query(oracle=_LABEL_VOTES_SQL)
def q_data_label_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-annotator label aggregation with one reliability round
    (curation.label_votes; Dawid & Skene 1979): five synthetic
    annotators label every document's language, each wrong on a
    deterministic md5-keyed slice (annotator j errs when
    h % (j+3) == 0, so later annotators are more reliable); round 1
    majority-votes, round 2 reweights annotators by exact-integer
    majority-agreement counts and revotes. The LLM-judge-ensemble
    aggregation shape. Scale: three map-side-combinable aggs + one
    broadcast (workforce-sized) weight join; ties break
    lexicographically so the result is a pure function of the vote
    set. Oracle: the same two rounds via windowed argmin in SQL."""
    from json_ld_spark.operators.curation import label_votes

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang")
    ann = docs.select(
        "doc_id", "lang", F.explode(F.sequence(F.lit(0), F.lit(4))).alias("j")
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("ann"), F.col("j").cast("string"), F.lit("|"),
                    F.col("doc_id").cast("string"),
                )
            ),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    ann = ann.select(
        F.col("doc_id").alias("item"),
        F.concat(F.lit("a"), F.col("j").cast("string")).alias("annotator"),
        F.when(
            h % (F.col("j") + 3) == 0,
            F.concat(F.lit("z"), (h % 3).cast("string")),
        )
        .otherwise(F.coalesce(F.col("lang"), F.lit("und")))
        .alias("label"),
    )
    return label_votes(ann)


# data_embed_quantize: parallel unnest zips (value, position); the code
# and reconstruction-error expressions mirror quantize_int8's IEEE
# expression shapes exactly; per-vector max/sum-of-int are order-free
_QUANTIZE_SQL = r"""
WITH ex AS (
  SELECT vec_id AS id,
         CAST(unnest(embedding) AS DOUBLE) AS x,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
), stats AS (
  SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY pos
), q AS (
  SELECT ex.id, s.mn, s.mx, ex.x,
         CASE WHEN s.mx > s.mn
              THEN least(255, greatest(0,
                   CAST(floor((ex.x - s.mn) * 255.0 / (s.mx - s.mn)) AS INT)))
              ELSE 0 END AS code
  FROM ex JOIN stats s USING (pos)
)
SELECT id AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
       CAST(SUM(code) AS BIGINT) AS code_sum,
       round(MAX(abs(x - (mn + code * (mx - mn) / 255.0))), 6) AS max_abs_err_r
FROM q GROUP BY id
"""


@query(oracle=_QUANTIZE_SQL)
def q_data_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embeddings table
    (similarity.quantize_int8; FAISS SQ8 shape): per-dimension global
    [min,max] calibration, floor-quantize to 256 levels, report the
    exact-integer code-vector fingerprint and max reconstruction
    error per vector — the 4x index-compression step before ANN.
    Scale: posexplode fan-out (xD, map-side), one dim-keyed agg
    (d-row calibration table, broadcast back), one vector-keyed agg;
    max/sum-of-int are order-independent so the hash is partition-
    stable. Oracle: parallel-unnest replay of the identical IEEE
    expression in DuckDB."""
    from json_ld_spark.operators.similarity import quantize_int8

    _utc(spark)
    embs = _read(spark, sf_dir, "embeddings")
    return quantize_int8(embs).withColumnRenamed("id", "vec_id")


# data_calibration_bins: integer-scaled confidences and a second md5
# channel for outcomes; bin ids and mean confidence are exact integers
_CALIB_SQL = r"""
WITH sc AS (
  SELECT ('0x' || substr(md5('conf|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           % 1001 AS s,
         CASE WHEN ('0x' || substr(md5('out|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1000
                 < ('0x' || substr(md5('conf|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 1001
              THEN 1 ELSE 0 END AS y
  FROM documents
)
SELECT LEAST(9, GREATEST(0, CAST(FLOOR((s * 10) / 1000.0) AS BIGINT))) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(y) AS BIGINT) AS n_pos,
       round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS acc_r,
       round(SUM(s) / CAST(COUNT(*) * 1000 AS DOUBLE), 6) AS conf_r,
       round(abs(SUM(y) / CAST(COUNT(*) AS DOUBLE)
                 - SUM(s) / CAST(COUNT(*) * 1000 AS DOUBLE)), 6) AS gap_r
FROM sc GROUP BY 1
"""


@query(oracle=_CALIB_SQL)
def q_data_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins / ECE inputs (curation.calibration_bins;
    Guo et al. 2017) over a synthesized scored table: confidence =
    md5-bridge(doc_id) % 1001 (integer-scaled 0..1000 by the operator
    contract — the ccnet_buckets trick, so bin ids and mean confidence
    are exact integer arithmetic) and outcome drawn from a second
    independent md5 channel with P(y=1) = confidence/1000, making the
    table well-calibrated in expectation. One map-side agg over <= 10
    groups. Oracle: identical integer algebra in SQL."""
    from json_ld_spark.operators.curation import calibration_bins

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id")
    h1 = F.conv(
        F.substring(F.md5(F.concat(F.lit("conf|"), F.col("doc_id").cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    h2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("out|"), F.col("doc_id").cast("string"))), 1, 8),
        16, 10,
    ).cast("long")
    scored = docs.select(
        (h1 % 1001).alias("conf_scaled"),
        F.when(h2 % 1000 < h1 % 1001, F.lit(1)).otherwise(F.lit(0)).alias("y"),
    )
    return calibration_bins(scored, "conf_scaled", "y", scale=1000, bins=10)


# data_rank_normalize: with the unique doc_id tiebreak there are no rank
# peers, so PERCENT_RANK == (row_number-1)/(n-1) == the two-phase rank
_RANK_NORM_SQL = r"""
SELECT doc_id, lang, n_chars,
       round(PERCENT_RANK() OVER (
         PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC), 6) AS pct_r
FROM documents
"""


@query(oracle=_RANK_NORM_SQL)
def q_data_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile normalization of document length
    (sampling.rank_normalize) — the cross-lingual quality-calibration
    move: thresholds on a raw score don't transfer across languages;
    thresholds on its within-group percentile do. NO per-group window
    (hot groups are the partition-less-window hazard in group
    clothing): global two-phase rank over (lang, n_chars, doc_id) +
    one broadcast group-offset join, LIMIT-probed group cap. Oracle:
    PERCENT_RANK() with the unique-id tiebreak, which row_number
    semantics make exactly equal."""
    from json_ld_spark.operators.sampling import rank_normalize

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return rank_normalize(docs, "lang", "n_chars", "doc_id")


# data_doremi_weights: per-domain count + two integer-exact sums, a
# 1-row totals CTE, then the mirror-descent algebra with the identical
# 6-dp rounds around the single exp
_DOREMI_SQL = r"""
WITH per AS (
  SELECT source AS domain,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(CAST(len(list_filter(
               regexp_split_to_array(lower(trim(text)), '\s+'),
               w -> w <> '')) AS BIGINT)) AS loss_sum,
         SUM(CAST(n_chars AS BIGINT)) AS size_sum
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(loss_sum) AS g_loss, SUM(n_docs) AS g_n,
         SUM(size_sum) AS g_size
  FROM per
), ex AS (
  SELECT domain, n_docs,
         round(size_sum / CAST(g_size AS DOUBLE), 6) AS base_share_r,
         round(loss_sum / CAST(n_docs AS DOUBLE)
               - g_loss / CAST(g_n AS DOUBLE), 6) AS excess_r
  FROM per CROSS JOIN tot
), scored AS (
  SELECT domain, n_docs, base_share_r, excess_r,
         round(base_share_r * round(exp(excess_r), 6), 12) AS unnorm
  FROM ex
), z AS (SELECT SUM(unnorm) AS z FROM scored)
SELECT domain, n_docs, base_share_r, excess_r,
       round(unnorm / z, 6) AS weight_r
FROM scored CROSS JOIN z
"""


@query(oracle=_DOREMI_SQL)
def q_data_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style one-step domain-mixture reweighting
    (curation.doremi_weights; Xie et al. NeurIPS'23) over the documents
    corpus grouped by `source`: per-domain excess of mean per-doc loss
    (whitespace token count as the deterministic proxy loss) over the
    global mean scales the token-share reference mixture by
    exp(eta*excess), renormalized — the next epoch's sampling recipe
    for temperature_mix/interleave. ONE corpus groupBy (count + two
    integer-exact sums) + domain-table algebra; the domain table is
    LIMIT-probed before any collect. Oracle: same aggregation algebra
    with the identical 6-dp rounds around the single exp."""
    from json_ld_spark.operators.curation import _tokens, doremi_weights

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars",
        F.size(_tokens(F.col("text"))).cast("long").alias("loss"),
    )
    return doremi_weights(docs, "source", "loss", "n_chars", eta=1.0)


# data_best_of_n: md5-bridge pseudo-reward per assistant turn, then the
# per-conversation argmax (score DESC, turn ASC) with the 0.2 floor
_BEST_OF_N_SQL = _BASE_CTE + r"""
, sc AS (
  SELECT conv_id, turn_idx,
         round(CAST(('0x' || substr(md5('rm|' || conv_id || '|'
                 || CAST(turn_idx AS VARCHAR)), 1, 8))::BIGINT % 1000
               AS DOUBLE) / 1000.0, 6) AS s
  FROM base WHERE role = 'assistant'
), pick AS (
  SELECT conv_id, turn_idx, s,
         ROW_NUMBER() OVER (
           PARTITION BY conv_id ORDER BY s DESC, turn_idx ASC) AS rn
  FROM sc
)
SELECT conv_id, CAST(turn_idx AS BIGINT) AS best_turn_idx,
       s AS best_score_r
FROM pick WHERE rn = 1 AND s >= 0.2
"""


@query(oracle=_BEST_OF_N_SQL)
def q_data_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection sampling (curation.best_of_n; WebGPT /
    Llama-2 RFT shape) over the transcripts table: per conversation,
    among its ASSISTANT turns keep exactly the max-reward candidate
    (md5-bridge pseudo-reward in [0,1) standing in for a reward-model
    score; deterministic lowest-turn tiebreak), dropping conversations
    whose best is under 0.2. ONE map-side-combinable struct-argmax per
    conversation — no window, no self-join. Oracle: the same packed
    MAX() in SQL."""
    from json_ld_spark.operators.curation import best_of_n

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir).where(
        F.col("role") == "assistant"
    )
    reward = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("rm"), F.col("conv_id"),
                        F.col("turn_idx").cast("string"),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long") % 1000
    ) / 1000.0
    return best_of_n(
        t, "conv_id", "turn_idx", score=reward, min_score=F.lit(0.2)
    )


# data_iqr_outliers: quantile_cont(0.25/0.75) interpolates at quarter
# fractions — bit-exact vs Spark's percentile() on integer inputs.
_IQR_SQL = r"""
WITH f AS (
  SELECT lang,
         ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo,
         ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi
  FROM (
    SELECT lang,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS q1,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS q3
    FROM documents GROUP BY lang
  )
)
SELECT d.doc_id, d.lang, d.n_chars, f.lo, f.hi,
       (CAST(d.n_chars AS DOUBLE) < f.lo
        OR CAST(d.n_chars AS DOUBLE) > f.hi) AS is_outlier,
       ROUND(LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), f.lo), f.hi), 6)
         AS winsorized
FROM documents d JOIN f USING (lang)
"""


@query(oracle=_IQR_SQL)
def q_data_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Tukey-fence outlier flags + winsorized lengths
    (profile.iqr_outliers) over documents — the robust clipping pass
    run before lengths feed sampling weights. Exact interpolated
    q1/q3 per group (identical definition to SQL quantile_cont; the
    interpolation fractions are quarters, so the doubles agree
    bit-exactly), fences rounded 6 dp, broadcast joined back. Oracle:
    quantile_cont + the same clamp."""
    from json_ld_spark.operators.profile import iqr_outliers

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return iqr_outliers(docs, "lang", "n_chars", k=1.5)
