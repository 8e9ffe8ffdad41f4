"""``streaming_*`` queries: Structured Streaming versions of batch
queries, fed as micro-batch files and drained to completion, each
registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from json_ld_spark.queries import query
from json_ld_spark.queries._common import (
    _utc, _read, _tt_changelog, _CB, _BASE_CTE, _TRIPLES_CTE, _TT_LOG_CTE,
)
from json_ld_spark.queries.kg import _CONV_QUALITY_SQL
from json_ld_spark.sources.transcripts import transcripts_from_documents


_STREAM_TRIPLES_SQL = _TRIPLES_CTE + """
SELECT subj, pred, obj_kind, obj FROM triples
"""


@query(oracle=_STREAM_TRIPLES_SQL)
def q_streaming_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest → triple extraction → memory sink,
    drained over file micro-batches; returns the collected batch result
    (stream/batch parity asserted in tests/test_streaming.py). The
    oracle rebuilds every (subj, pred, obj_kind, obj) triple from the
    transcripts in SQL, and the value hash compares them all."""
    import tempfile

    from json_ld_spark.streaming.stream import run_stream_to_memory

    _utc(spark)
    d = tempfile.mkdtemp(prefix="stream_q_")
    transcripts_from_documents(spark, sf_dir).repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    out = run_stream_to_memory(spark, d, query_name="q_streaming_triples_mem")
    return out.select("subj", "pred", "obj_kind", "obj")


# streaming_sessions: session_window semantics — strictly > gap splits
# (the exactly-gap event merges; pinned in tests), end = last event +
# gap; replayed over integer microseconds (no ordering tiebreak needed:
# equal-ts rows have gap 0 and can never split).
_STREAM_SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE ts IS NOT NULL
), b AS (
  SELECT user_id, us,
         CASE WHEN LAG(us) OVER w IS NULL
                OR us - LAG(us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
), s AS (
  SELECT user_id, us,
         SUM(boundary) OVER (PARTITION BY user_id ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM b
)
SELECT user_id,
       CAST(MIN(us) AS BIGINT) AS start_us,
       CAST(MAX(us) + 1800000000 AS BIGINT) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
"""


@query(oracle=_STREAM_SESSIONS_SQL)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inactivity-gap sessionization (session_window + state
    merge, streaming/stream.py streaming_sessions): events hash-split
    into two micro-batch files so most users' sessions are SEVERED
    across batches and must be re-merged by the merging-window state
    store. session_window splits at strictly > gap (the exactly-gap
    event merges — pinned in tests), end = last event + gap — the
    oracle replays exactly those semantics over integer microseconds."""
    import tempfile

    from json_ld_spark.streaming.stream import run_stream_sessions

    _utc(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    base = tempfile.mkdtemp(prefix="stream_sess_")
    ev.filter(F.xxhash64("event_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")
    ev.filter(F.xxhash64("event_id") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")
    schema = spark.read.parquet(f"{base}/in").schema
    return run_stream_sessions(
        spark, f"{base}/in", schema=schema, gap_seconds=1800,
        query_name="q_streaming_sessions_mem",
    )


# Streaming CC over turn chains: the analytic ground truth — every turn
# in a conversation's chain has component = that conversation's turn 0
# (lexicographic min of the chain's IRIs). Turns with no adjacency edge
# (single-turn conversations) never enter the edge stream, hence the
# n_turns > 1 guard.
_STREAM_CC_SQL = _BASE_CTE + f"""
, conv_sizes AS (
  SELECT conv_id, COUNT(*) AS n_turns FROM base GROUP BY conv_id
)
SELECT '{_CB}' || b.conv_id || '/turn/' || CAST(b.turn_idx AS VARCHAR) AS node,
       '{_CB}' || b.conv_id || '/turn/0' AS component
FROM base b JOIN conv_sizes cs ON cs.conv_id = b.conv_id
WHERE cs.n_turns > 1
"""


@query(oracle=_STREAM_CC_SQL)
def q_streaming_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental streaming connected components over the nextTurn
    adjacency chains, hash-split into two file micro-batches (so most
    conversations' chains are SEVERED across batches and must be
    re-merged by the star-edge state updater, streaming/stream.py).
    Every turn's component must come out as its conversation's turn/0
    ('0' sorts first in the turn-IRI lexicographic order), which the
    oracle states analytically — a semantic ground truth rather than an
    algorithm replay."""
    import tempfile

    from json_ld_spark.operators.native import transcript_adjacency_native
    from json_ld_spark.streaming.stream import run_stream_components

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    e = transcript_adjacency_native(t, with_doc_id=False).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    base = tempfile.mkdtemp(prefix="stream_cc_")
    e.filter(F.xxhash64("src", "dst") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")
    e.filter(F.xxhash64("src", "dst") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")
    out = run_stream_components(
        spark, f"{base}/in", f"{base}/state", f"{base}/ckpt",
        schema="src STRING, dst STRING",
    )
    return out.select("node", "component")


@query(oracle=_CONV_QUALITY_SQL)
def q_streaming_conv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of kg_conv_quality: the transcript turn stream is
    split into two ORDERED micro-batch files (early turns strictly
    older mtime — the FileStreamSource pickup order producers of turn
    logs get for free) and drained through the per-conv monoid-state
    updater (streaming/stream.py make_quality_batch_updater): counts
    and sums merge, the role-repeat count carries slice-boundary
    (turn_idx, role) state so repeats straddling a micro-batch are
    found. Shares kg_conv_quality's oracle — streaming == batch is the
    claim being hash-verified."""
    import glob
    import os
    import tempfile
    import time

    from json_ld_spark.streaming.stream import run_stream_quality

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="stream_q_")
    t.filter(F.col("turn_idx") < 8).coalesce(1).write.mode("append").parquet(
        f"{base}/in"
    )
    first = set(glob.glob(f"{base}/in/part-*"))
    t.filter(F.col("turn_idx") >= 8).coalesce(1).write.mode("append").parquet(
        f"{base}/in"
    )
    now = time.time()
    for f in glob.glob(f"{base}/in/part-*"):
        os.utime(f, (now - 120, now - 120) if f in first else (now, now))
    return run_stream_quality(
        spark, f"{base}/in", f"{base}/state", f"{base}/ckpt",
        schema=t.schema,
    ).orderBy("conv_id")


def _streaming_logreg_sql(lr: float = 1.0) -> str:
    """Two sequential per-batch SGD steps (doc_id parity split, early
    file first) unrolled as CTEs, then full-corpus scoring — mirrors
    q_streaming_logreg / make_logreg_batch_updater exactly."""
    xs = ["1e6", "x1 * 1e6", "x2 * 1e6"]
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
    for k, par in ((1, 0), (2, 1)):
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
            f"  FROM (SELECT * FROM feats WHERE doc_id % 2 = {par}) f\n"
            f"  CROSS JOIN r{k - 1} w GROUP BY w.w0, w.w1, w.w2\n)\n"
        )
    z = "(w.w0 + w.w1 * x1 + w.w2 * x2)"
    p = f"(1.0 / (1.0 + exp(-{z})))"
    sql += f"""
SELECT doc_id, y, round({p}, 6) AS score_r,
       CASE WHEN round({p}, 6) >= 0.5 THEN 1 ELSE 0 END AS pred
FROM feats CROSS JOIN r2 w
"""
    return sql


_STREAMING_LOGREG_SQL = _streaming_logreg_sql()


@query(oracle=_STREAMING_LOGREG_SQL)
def q_streaming_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online-SGD streaming twin of data_logreg_quality (streaming/
    stream.py make_logreg_batch_updater): the document corpus arrives
    as two ORDERED micro-batch files (doc_id parity; early file
    strictly older mtime — the FileStreamSource pickup-order contract
    all the streams here document), each batch applies ONE
    engine-rounded SGD step to the persisted weight state, and the
    final weights score the full corpus. History is never re-read —
    the arriving-slice maintenance shape at 100 TB. The oracle unrolls
    the two sequential batch steps as CTEs; hash equality proves the
    stream landed on bit-identical weights."""
    import glob
    import os
    import tempfile
    import time

    from json_ld_spark.operators.curation import logreg_features
    from json_ld_spark.streaming.stream import run_stream_logreg

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    base = tempfile.mkdtemp(prefix="stream_lr_")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")
    first = set(glob.glob(f"{base}/in/part-*"))
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(f"{base}/in")
    now = time.time()
    for f in glob.glob(f"{base}/in/part-*"):
        os.utime(f, (now - 120, now - 120) if f in first else (now, now))
    w = run_stream_logreg(
        spark,
        f"{base}/in",
        f"{base}/state",
        f"{base}/ckpt",
        schema=docs.schema,
        lr=1.0,
    )
    feats = logreg_features(docs)
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        F.col("y").cast("int").alias("y"),
        F.round(p, 6).alias("score_r"),
        (F.round(p, 6) >= F.lit(0.5)).cast("int").alias("pred"),
    )


# streaming_graph_state: the batch arg_max over the FULL changelog (no
# ts filter — current state); streaming == batch is the verified claim
_GRAPH_STATE_SQL = _TT_LOG_CTE + """
SELECT graph, subj, pred, obj_kind, obj, datatype, lang
FROM changelog
GROUP BY graph, subj, pred, obj_kind, obj, datatype, lang
HAVING arg_max(op, seq) = 'assert'
"""


@query(oracle=_GRAPH_STATE_SQL)
def q_streaming_graph_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of kg_time_travel's reduction: the _tt_changelog
    waves land as four separate micro-batch files and drain through the
    incremental graph-state updater
    (streaming/stream.py make_graph_state_batch_updater) — per quad key
    the latest (op, ts, seq) survives, a commutative idempotent monoid,
    so batch boundaries and pickup order cannot change the result. The
    returned table is the current (ts=infinity) asserted set; the
    hash-verified claim is streaming == batch arg_max over the full
    changelog."""
    import tempfile

    from json_ld_spark.streaming.stream import run_stream_graph_state

    _utc(spark)
    log = _tt_changelog(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="stream_g_")
    for wave in (1, 2, 3, 4):
        log.filter(F.col("seq") == wave).coalesce(1).write.mode("append").parquet(
            f"{base}/in"
        )
    return run_stream_graph_state(
        spark, f"{base}/in", f"{base}/state", f"{base}/ckpt", schema=log.schema
    )
