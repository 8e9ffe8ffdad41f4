"""Helpers, CTEs and IRI constants shared by more than one query family.

``_utc``/``_read`` set up every query; ``_BASE_CTE`` and ``_TRIPLES_CTE``
replay ``transcripts_from_documents`` and the native triple extraction in
DuckDB SQL for the KG oracles.

Sharing rule: this module holds only what two or more families use. A
helper that one family uses stays in that family's module, next to the
queries that call it (``kg.py`` keeps its co-purchase, KGE and linking
inputs). SQL fragments are shared only with other SQL, and are never
generated from the Spark code an oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from json_ld_spark.operators import dedup as dd
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.sources.transcripts import transcripts_from_documents


TRIPLE_COLS = ["graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang"]


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _canon_docs(t: DataFrame) -> DataFrame:
    """Doc builder for the canonical-label queries: same as
    turns_to_jsonld but @id dropped on turn_idx%3==0 (bnode-rooted)."""
    anon_struct = F.struct(
        F.lit("Turn").alias("@type"),
        F.col("role").alias("role"),
        F.col("text").alias("text"),
        F.col("conv_id").alias("conv"),
        F.col("turn_idx").alias("turn"),
    )
    named_struct = F.struct(
        F.concat(F.col("conv_id"), F.lit("/turn/"), F.col("turn_idx").cast("string")).alias("@id"),
        F.lit("Turn").alias("@type"),
        F.col("role").alias("role"),
        F.col("text").alias("text"),
        F.col("conv_id").alias("conv"),
        F.col("turn_idx").alias("turn"),
    )
    return t.select(
        F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string")).alias("doc_id"),
        F.when(F.col("turn_idx") % 3 == 0, F.to_json(anon_struct, {"ignoreNullFields": "true"}))
        .otherwise(F.to_json(named_struct, {"ignoreNullFields": "true"}))
        .alias("doc"),
    )


def _docs_with_dups(docs: DataFrame) -> DataFrame:
    """documents ∪ re-keyed copies of every 10th doc (deterministic
    duplicate injection so exact-dedup output is non-trivial)."""
    base = docs.select("doc_id", "text")
    dups = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return base.unionByName(dups)


def _dup_doc_pairs(spark: SparkSession, sf_dir: str):
    """Shared by dedup_components / data_cluster_split: the sampled
    duplicate-heavy corpus and its exact-3-gram-Jaccard near-dup pairs
    (all-pairs generation is the deterministic test-sized candidate
    source; production generators are the LSH families)."""
    docs = (
        _docs_with_dups(_read(spark, sf_dir, "documents"))
        .filter(F.col("doc_id") % 25 == 0)
    )
    ids = docs.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    sim_pairs = dd.jaccard_pairs(docs, pairs, threshold=0.2).select("doc_a", "doc_b")
    return docs, sim_pairs


def _emb_double(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id", F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("embedding")
    )


def _tt_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic assert/retract changelog over the native triples:
    assert-all at ts=100; retract the md5-bridge subj|pred % 5 == 0
    slice at ts=200; re-assert the % 10 == 0 sub-slice at ts=300; a
    ts=400 retract wave for the % 7 == 0 slice. Shared by
    kg_time_travel and kg_snapshot_diff."""
    t = transcript_triples_native(transcripts_from_documents(spark, sf_dir)).select(
        *TRIPLE_COLS
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.col("subj"), F.lit("|"), F.col("pred"))), 1, 8),
        16,
        10,
    ).cast("long")
    base = t.withColumn("__h", h)
    log = (
        base.select(
            *TRIPLE_COLS, F.lit("assert").alias("op"),
            F.lit(100).cast("long").alias("ts"), F.lit(1).cast("long").alias("seq"),
        )
        .unionByName(
            base.filter(F.col("__h") % 5 == 0).select(
                *TRIPLE_COLS, F.lit("retract").alias("op"),
                F.lit(200).cast("long").alias("ts"), F.lit(2).cast("long").alias("seq"),
            )
        )
        .unionByName(
            base.filter(F.col("__h") % 10 == 0).select(
                *TRIPLE_COLS, F.lit("assert").alias("op"),
                F.lit(300).cast("long").alias("ts"), F.lit(3).cast("long").alias("seq"),
            )
        )
        .unionByName(
            base.filter(F.col("__h") % 7 == 0).select(
                *TRIPLE_COLS, F.lit("retract").alias("op"),
                F.lit(400).cast("long").alias("ts"), F.lit(4).cast("long").alias("seq"),
            )
        )
    )
    return log


_V = "https://example.org/transcript#"

_CB = "https://example.org/conv/"

_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_XS = "http://www.w3.org/2001/XMLSchema#string"

_XI = "http://www.w3.org/2001/XMLSchema#integer"

_XD = "http://www.w3.org/2001/XMLSchema#dateTime"

# transcripts_from_documents reconstructed in SQL (shared by the triple,
# expand, flatten, fromRdf, and compact oracles)
_BASE_CTE = """
WITH base AS (
  SELECT doc_id,
         'conv-' || CAST(doc_id // 16 AS VARCHAR) AS conv_id,
         CAST(doc_id % 16 AS INT) AS turn_idx,
         (['user','assistant','system','tool'])[CAST(doc_id % 4 AS INT) + 1] AS role,
         text,
         CASE WHEN doc_id % 7 = 3 THEN 'search' END AS tool,
         strftime(TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id),
                  '%Y-%m-%dT%H:%M:%SZ') AS ts_lex
  FROM documents
)
"""

# + transcript_triples_native, in SQL
_TRIPLES_CTE = _BASE_CTE + f"""
, q AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
         '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
         '{_CB}' || conv_id AS conv_iri,
         turn_idx, role, text, tool, ts_lex
  FROM base
), triples AS (
  SELECT doc_id, CAST(NULL AS VARCHAR) AS graph, subj,
         e.pred AS pred, e.obj_kind AS obj_kind, e.obj AS obj,
         e.datatype AS datatype, CAST(NULL AS VARCHAR) AS lang
  FROM q CROSS JOIN UNNEST([
    {{'pred': '{_RDF_TYPE}', 'obj_kind': 'iri', 'obj': '{_V}Turn', 'datatype': CAST(NULL AS VARCHAR)}},
    {{'pred': '{_V}role', 'obj_kind': 'literal', 'obj': role, 'datatype': '{_XS}'}},
    {{'pred': '{_V}text', 'obj_kind': 'literal', 'obj': text, 'datatype': '{_XS}'}},
    {{'pred': '{_V}tool', 'obj_kind': 'literal', 'obj': tool, 'datatype': '{_XS}'}},
    {{'pred': '{_V}timestamp', 'obj_kind': 'literal', 'obj': ts_lex, 'datatype': '{_XD}'}},
    {{'pred': '{_V}turnIndex', 'obj_kind': 'literal', 'obj': CAST(turn_idx AS VARCHAR), 'datatype': '{_XI}'}},
    {{'pred': '{_V}conversation', 'obj_kind': 'iri', 'obj': conv_iri, 'datatype': CAST(NULL AS VARCHAR)}}
  ]) AS u(e)
  WHERE e.obj IS NOT NULL
)
"""

_CC_CORE_SQL = r"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
), sampled AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM corpus WHERE doc_id % 25 = 0
), sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM sampled
), pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2
), sym AS (
  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
), reach(a, b) AS (
  SELECT doc_id, doc_id FROM sampled
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON s.u = r.b
), groups AS (
  SELECT a AS doc_id, CAST(MIN(b) AS BIGINT) AS dup_group
  FROM reach GROUP BY a
)
"""


def _ivf_codebook_prefix(
    n_cells: int, lloyd_rounds: int, dim: int,
) -> tuple[str, str]:
    """Shared codebook-replay CTEs (ivf_centroids, similarity.py):
    seeds are the n_cells vectors with the smallest md5-bridge hash;
    each Lloyd round assigns by cosine argmax (tie → cell asc, matching
    _nearest_cells' array_sort on (neg_cos, cell)) and recomputes
    component-wise means rounded to 6 decimals (the engine quantizes
    identically, so the codebooks are bit-comparable). Returns
    (sql_prefix, final_cents_cte_name)."""
    seeds = f"""
, cents0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, v AS centroid
  FROM (SELECT vec_id, v,
               ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM e)
  ORDER BY h, vec_id
  LIMIT {n_cells}
)"""
    rounds = ""
    prev = "cents0"
    for r in range(1, lloyd_rounds + 1):
        rounds += f"""
, a{r} AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell ASC
           ) AS rk
    FROM e CROSS JOIN {prev} c)
  WHERE rk = 1
), cents{r} AS (
  SELECT cell, list(m ORDER BY idx) AS centroid FROM (
    SELECT cell, g.idx, round(AVG(v[g.idx]), 6) AS m
    FROM a{r} CROSS JOIN generate_series(1, {dim}) AS g(idx)
    GROUP BY cell, g.idx)
  GROUP BY cell
)"""
        prev = f"cents{r}"
    prefix = (
        "\nWITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        f"FROM embeddings){seeds}{rounds}"
    )
    return prefix, prev


# kg_time_travel / kg_snapshot_diff: the same synthesized changelog as
# UNION ALL waves over the native triples, reduced with arg_max(op, seq)
# per quad key — DuckDB's arg_max == Spark's max_by
_TT_LOG_CTE = _TRIPLES_CTE + """
, h AS (
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang,
         ('0x' || substr(md5(subj || '|' || pred), 1, 8))::BIGINT AS hh
  FROM triples
), changelog AS (
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang,
         'assert' AS op, 100 AS ts, 1 AS seq FROM h
  UNION ALL
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang,
         'retract', 200, 2 FROM h WHERE hh % 5 = 0
  UNION ALL
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang,
         'assert', 300, 3 FROM h WHERE hh % 10 = 0
  UNION ALL
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang,
         'retract', 400, 4 FROM h WHERE hh % 7 = 0
)
"""
