"""``kg_*`` queries: triple extraction, entailment, node tables, entity
linking, BGP/SPARQL, graph analytics, embeddings and time travel over the
transcript knowledge graph, each registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from json_ld_spark.operators import dedup as dd
from json_ld_spark.operators import graphops as gops
from json_ld_spark.operators import linking as lk
from json_ld_spark.operators import textops as tx
from json_ld_spark.operators.jsonld import (
    dedup_triples, node_table, triples_stage,
)
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.options import JsonLdOptions
from json_ld_spark.plans.kg import build_kg
from json_ld_spark.queries import query
from json_ld_spark.queries._common import (
    TRIPLE_COLS, _utc, _read, _canon_docs, _tt_changelog, _V, _CB, _RDF_TYPE,
    _XS, _XI, _XD, _BASE_CTE, _TRIPLES_CTE, _TT_LOG_CTE,
)
from json_ld_spark.sources.transcripts import (
    TRANSCRIPT_CONTEXT, transcripts_from_documents, turns_to_jsonld,
)


_TRIPLES_SQL = _TRIPLES_CTE + """
SELECT graph, subj, pred, obj_kind, obj, datatype, lang FROM triples
"""


@query(oracle=_TRIPLES_SQL)
def q_kg_triples_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-native triple extraction (operators/native.py) — the
    whole-stage-codegen 100 TB path."""
    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    return transcript_triples_native(t).select(*TRIPLE_COLS)


@query(oracle=_TRIPLES_SQL)
def q_kg_triples_generic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full JSON-LD engine (context processing + expansion + node map
    + toRdf) via Arrow-batched mapInPandas — same quads as the native
    path (asserted by tests/test_spark_pipeline.py), same oracle."""
    _utc(spark)
    docs = turns_to_jsonld(transcripts_from_documents(spark, sf_dir))
    trip = triples_stage(docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions())
    return trip.select(*TRIPLE_COLS)


@query(oracle=_TRIPLES_SQL)
def q_kg_nquads_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-Quads sink + source roundtrip (sources/nquads.py; the reference
    consumes N-Quads via nquads-syntax in tests/to_rdf.rs:16): native
    triples serialized to wire lines (pure-JVM escape), written as text,
    re-read through the one-regex distributed parser. Output = the same
    triple table, so the kg_triples_native oracle applies verbatim."""
    import shutil
    import tempfile

    from json_ld_spark.sources.nquads import read_nquads, write_nquads

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    quads = transcript_triples_native(t).select(*TRIPLE_COLS)
    out = tempfile.mkdtemp(prefix="nquads_rt_")
    shutil.rmtree(out, ignore_errors=True)
    write_nquads(quads, out)
    return read_nquads(spark, out).select(*TRIPLE_COLS)


@query(oracle=_TRIPLES_SQL)
def q_kg_triples_interned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IRI interning roundtrip (SURVEY.md §4 'Vocabulary' row): encode
    term columns to xxhash64 ids, verify dictionary injectivity, decode
    via broadcast join — output must equal the plain extraction
    (same DuckDB oracle as kg_triples_native)."""
    from json_ld_spark.operators import interning as it

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t).select(*TRIPLE_COLS)
    dictionary = it.build_iri_dictionary(triples)
    it.verify_dictionary(dictionary)
    encoded = it.encode_triples(triples)
    decoded = it.decode_triples(encoded, dictionary)
    return decoded.select(*TRIPLE_COLS)


# kg_rdfs_closure: the ontology is fixed and 3 levels deep, so the ρdf
# closure unrolls by hand — rdfs7 (role→attribute), rdfs2/3 (domain/
# range of conversation), rdfs9/11 (Turn ⊑ Utterance ⊑ Resource,
# Conversation ⊑ Resource) — and DISTINCT absorbs rederivations.
_SCO = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

_SPO = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"

_DOM = "http://www.w3.org/2000/01/rdf-schema#domain"

_RNG = "http://www.w3.org/2000/01/rdf-schema#range"

_RDFS_CLOSURE_SQL = _TRIPLES_CTE + f"""
, onto AS (
  SELECT * FROM (VALUES
    (CAST(NULL AS VARCHAR), '{_V}Turn', '{_SCO}', 'iri', '{_V}Utterance',
     CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
    (NULL, '{_V}Utterance', '{_SCO}', 'iri', '{_V}Resource', NULL, NULL),
    (NULL, '{_V}Conversation', '{_SCO}', 'iri', '{_V}Resource', NULL, NULL),
    (NULL, '{_V}role', '{_SPO}', 'iri', '{_V}attribute', NULL, NULL),
    (NULL, '{_V}conversation', '{_DOM}', 'iri', '{_V}Turn', NULL, NULL),
    (NULL, '{_V}conversation', '{_RNG}', 'iri', '{_V}Conversation', NULL, NULL),
    (NULL, '{_V}Turn', '{_SCO}', 'iri', '{_V}Resource', NULL, NULL)
  ) AS t(graph, subj, pred, obj_kind, obj, datatype, lang)
), turns AS (
  SELECT DISTINCT subj FROM triples
  WHERE pred = '{_RDF_TYPE}' AND obj = '{_V}Turn'
), convs AS (
  SELECT DISTINCT obj FROM triples WHERE pred = '{_V}conversation'
)
SELECT DISTINCT graph, subj, pred, obj_kind, obj, datatype, lang FROM (
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang FROM triples
  UNION ALL SELECT * FROM onto
  UNION ALL SELECT CAST(NULL AS VARCHAR), subj, '{_V}attribute', 'literal',
    obj, '{_XS}', CAST(NULL AS VARCHAR)
    FROM triples WHERE pred = '{_V}role'
  UNION ALL SELECT NULL, subj, '{_RDF_TYPE}', 'iri', '{_V}Utterance',
    NULL, NULL FROM turns
  UNION ALL SELECT NULL, subj, '{_RDF_TYPE}', 'iri', '{_V}Resource',
    NULL, NULL FROM turns
  UNION ALL SELECT NULL, obj, '{_RDF_TYPE}', 'iri', '{_V}Conversation',
    NULL, NULL FROM convs
  UNION ALL SELECT NULL, obj, '{_RDF_TYPE}', 'iri', '{_V}Resource',
    NULL, NULL FROM convs
)
"""


@query(oracle=_RDFS_CLOSURE_SQL)
def q_kg_rdfs_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS (ρdf) entailment materialization (operators/entailment.py;
    beyond-reference — the Rust workspace stops at toRdf): the
    transcript KG under a 3-level class hierarchy with subPropertyOf,
    domain and range. Schema closure is iterative on the tiny ontology;
    the corpus is only touched by broadcast joins."""
    from json_ld_spark.operators.entailment import (
        DOMAIN, RANGE, SUB_CLASS, SUB_PROP, rdfs_closure,
    )

    _utc(spark)
    v = "https://example.org/transcript#"
    onto = spark.createDataFrame(
        [
            (None, v + "Turn", SUB_CLASS, "iri", v + "Utterance", None, None),
            (None, v + "Utterance", SUB_CLASS, "iri", v + "Resource", None, None),
            (None, v + "Conversation", SUB_CLASS, "iri", v + "Resource", None, None),
            (None, v + "role", SUB_PROP, "iri", v + "attribute", None, None),
            (None, v + "conversation", DOMAIN, "iri", v + "Turn", None, None),
            (None, v + "conversation", RANGE, "iri", v + "Conversation", None, None),
        ],
        "graph string, subj string, pred string, obj_kind string, "
        "obj string, datatype string, lang string",
    )
    t = transcripts_from_documents(spark, sf_dir)
    quads = transcript_triples_native(t).select(*TRIPLE_COLS).unionByName(onto)
    return rdfs_closure(quads).select(*TRIPLE_COLS)


# kg_owl_closure: on per-conversation nextTurn CHAINS the transitive
# closure is analytic — every ordered turn pair (i < j) within a conv;
# prevTurn (= nextTurn⁻) is the same pair set reversed. Base adjacency
# rows are the j = i+1 slice of the closure (identical NULL-graph rows,
# absorbed by the engine's dedup), so no separate base UNION is needed.
_OWL_CLOSURE_SQL = _BASE_CTE + f"""
, turns AS (SELECT DISTINCT conv_id, turn_idx FROM base),
pairs AS (
  SELECT a.conv_id,
         '{_CB}' || a.conv_id || '/turn/' || CAST(a.turn_idx AS VARCHAR) AS lo,
         '{_CB}' || a.conv_id || '/turn/' || CAST(b.turn_idx AS VARCHAR) AS hi
  FROM turns a JOIN turns b
    ON a.conv_id = b.conv_id AND b.turn_idx > a.turn_idx
)
SELECT CAST(NULL AS VARCHAR) AS graph, lo AS subj,
       '{_V}nextTurn' AS pred, 'iri' AS obj_kind, hi AS obj,
       CAST(NULL AS VARCHAR) AS datatype, CAST(NULL AS VARCHAR) AS lang
FROM pairs
UNION ALL
SELECT CAST(NULL AS VARCHAR), hi, '{_V}prevTurn', 'iri', lo,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM pairs
"""


@query(oracle=_OWL_CLOSURE_SQL)
def q_kg_owl_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL property-axiom closure (entailment.owl_property_closure,
    the pD*/OWL-Horst property fragment; beyond-reference): declare
    tx:nextTurn owl:TransitiveProperty and tx:prevTurn =
    nextTurn⁻ (owl:inverseOf), then materialize over the per-conv
    turn-adjacency chains — nextTurn closes to every later turn,
    prevTurn materializes the full reverse reachability. Axiom tables
    broadcast; the transitive loop is path-doubled semi-naive over
    the predicate-filtered slice. Oracle: on a chain the closure is
    analytic — all ordered turn pairs within a conversation."""
    from json_ld_spark.operators.entailment import (
        INVERSE_OF, RDF_TYPE as _RT, TRANSITIVE_PROP, owl_property_closure,
    )
    from json_ld_spark.operators.native import transcript_adjacency_native

    _utc(spark)
    v = "https://example.org/transcript#"
    onto = spark.createDataFrame(
        [
            (None, v + "nextTurn", _RT, "iri", TRANSITIVE_PROP, None, None),
            (None, v + "nextTurn", INVERSE_OF, "iri", v + "prevTurn", None, None),
        ],
        "graph string, subj string, pred string, obj_kind string, "
        "obj string, datatype string, lang string",
    )
    t = transcripts_from_documents(spark, sf_dir)
    # materialize the adjacency slice once: the closure's final union
    # necessarily scans its input, and re-deriving it would re-run the
    # transcript parse per scan (the parse dominates the closure cost)
    adj = (
        transcript_adjacency_native(t, with_doc_id=False)
        .select(*TRIPLE_COLS)
        .localCheckpoint(eager=False)
    )
    return owl_property_closure(adj, schema=onto).select(*TRIPLE_COLS)


# kg_owl_functional: the injected 'auditor' role always differs from the
# synthesized role, so every doc_id % 7 = 0 focus has exactly 2 distinct
# values for the functional tx:role.
_OWL_FUNCTIONAL_SQL = _BASE_CTE + f"""
SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
       '{_V}role' AS pred,
       CAST(2 AS BIGINT) AS n_values
FROM base WHERE doc_id % 7 = 0
"""


@query(oracle=_OWL_FUNCTIONAL_SQL)
def q_kg_owl_functional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:FunctionalProperty conflict report
    (entailment.functional_conflicts): declare tx:role functional,
    inject a second conflicting role assertion for every 7th document
    (the multi-source disagreement case), and report (subj, pred,
    n_values) per violating focus — the pairs a fusion pipeline would
    route into merge_same_as or quarantine, deliberately NOT
    auto-smelted (pD* rdfp1 would entail sameAs here). One broadcast
    join + one subject-keyed agg."""
    from json_ld_spark.operators.entailment import (
        FUNCTIONAL_PROP, RDF_TYPE as _RT, functional_conflicts,
    )
    from json_ld_spark.operators.native import transcript_triples_native

    _utc(spark)
    v = "https://example.org/transcript#"
    xs = "http://www.w3.org/2001/XMLSchema#string"
    onto = spark.createDataFrame(
        [(None, v + "role", _RT, "iri", FUNCTIONAL_PROP, None, None)],
        "graph string, subj string, pred string, obj_kind string, "
        "obj string, datatype string, lang string",
    )
    t = transcripts_from_documents(spark, sf_dir)
    doc_id = (
        F.substring(F.col("conv_id"), 6, 100).cast("int") * 16
        + F.col("turn_idx")
    )
    extra = (
        t.filter(doc_id % 7 == 0)
        .select(
            F.lit(None).cast("string").alias("graph"),
            F.concat(
                F.lit("https://example.org/conv/"), F.col("conv_id"),
                F.lit("/turn/"), F.col("turn_idx").cast("string"),
            ).alias("subj"),
            F.lit(v + "role").alias("pred"),
            F.lit("literal").alias("obj_kind"),
            F.lit("auditor").alias("obj"),
            F.lit(xs).alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    quads = transcript_triples_native(t, with_doc_id=False).select(
        *TRIPLE_COLS
    ).unionByName(extra)
    return functional_conflicts(quads, schema=onto)


# kg_delta_merge: merged = (base − base-tool-facts) ∪ new-turn triples
# = all triples except tool quads of turns < 12; node table recomputed
# in full (the Spark side splices — equality IS the check).
_DELTA_NODES_SQL = _TRIPLES_CTE + f"""
, merged AS (
  SELECT * FROM triples
  WHERE NOT (pred = '{_V}tool'
             AND CAST(split_part(doc_id, '#', 2) AS INT) < 12)
)
SELECT subj AS node_id,
       array_to_string(list_sort(list_distinct(list(CASE WHEN pred = '{_RDF_TYPE}' THEN obj END))), ',') AS types_csv,
       array_to_string(list_sort(list_distinct(list(pred))), ',') AS preds_csv,
       COUNT(*) AS out_degree,
       COUNT(DISTINCT doc_id) AS n_docs
FROM merged
GROUP BY subj
"""


@query(oracle=_DELTA_NODES_SQL)
def q_kg_delta_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG lifecycle (operators/maintenance.py): absorb a transcript
    delta without rebuilding the world — base KG (turns < 12) gets its
    tool facts retracted and the new turns (>= 12) merged in; the node
    table is splice-refreshed (only delta-touched subjects recompute).
    Output = the refreshed node table; oracle = full recompute in SQL
    (the splice == full-recompute invariant, driver-checked)."""
    from json_ld_spark.operators.maintenance import (
        affected_subjects, merge_triples, refresh_node_table,
    )

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    base = transcript_triples_native(t.filter(F.col("turn_idx") < 12))
    adds = transcript_triples_native(t.filter(F.col("turn_idx") >= 12))
    deletes = base.filter(F.col("pred") == v + "tool")
    merged = merge_triples(base, adds=adds, deletes=deletes)
    old_nodes = node_table(dedup_triples(base))
    nodes = refresh_node_table(
        old_nodes, merged, affected_subjects(adds=adds, deletes=deletes)
    )
    return nodes.select(
        "node_id",
        F.array_join("types", ",").alias("types_csv"),
        F.array_join("preds", ",").alias("preds_csv"),
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


# kg_update_where: predicate rename is the whole effect (role objects
# move to speakerRole; nothing else matches the WHERE block).
_UPDATE_WHERE_SQL = _TRIPLES_CTE + f"""
SELECT DISTINCT subj,
       CASE WHEN pred = '{_V}role' THEN '{_V}speakerRole' ELSE pred END AS pred,
       obj
FROM triples
"""


@query(oracle=_UPDATE_WHERE_SQL)
def q_kg_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 UPDATE (maintenance.update_where): DELETE {?t role
    ?r} INSERT {?t speakerRole ?r} WHERE {?t role ?r} — the WHERE
    bindings evaluate once, both templates instantiate as projections,
    delete-before-insert semantics."""
    from json_ld_spark.operators.maintenance import update_where

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    tri3 = (
        transcript_triples_native(t)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    return update_where(
        tri3,
        where=[("?t", v + "role", "?r")],
        delete=[("?t", v + "role", "?r")],
        insert=[("?t", v + "speakerRole", "?r")],
    )


_SAMEAS_MERGE_SQL = _TRIPLES_CTE + f"""
, convs AS (SELECT DISTINCT conv_id FROM base)
SELECT graph, subj, pred, obj_kind, obj, datatype, lang FROM triples
UNION ALL SELECT CAST(NULL AS VARCHAR), '{_CB}' || conv_id,
  '{_V}ingestSource', 'literal', 'mirror-b', '{_XS}', CAST(NULL AS VARCHAR)
  FROM convs
UNION ALL SELECT NULL, '{_CB}' || conv_id, '{_V}ingestSource', 'literal',
  'mirror-c', '{_XS}', NULL FROM convs
UNION ALL SELECT NULL, '{_CB}' || conv_id, '{_V}mirrorOf', 'iri',
  '{_CB}' || conv_id, NULL, NULL FROM convs
UNION ALL SELECT NULL, '{_CB}' || conv_id, '{_RDF_TYPE}', 'iri',
  '{_V}Conversation', NULL, NULL FROM convs
"""


@query(oracle=_SAMEAS_MERGE_SQL)
def q_kg_sameas_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source KG fusion (maintenance.merge_same_as): two mirror
    ingestion sources re-emit every conversation under their own IRI
    base and assert an owl:sameAs alias chain A←B←C. Each mirror also
    contributes source-local facts: an ingestSource literal, mirror-B's
    mirrorOf link pointing at mirror-C's alias IRI (object-side rewrite
    → canonical self-loop), and BOTH mirrors assert rdf:type
    Conversation (the cross-source duplicate fact that must collapse to
    one row). merge_same_as runs connected components over the alias
    edges, rewrites subjects and IRI objects onto the lexicographic-min
    representative (= the canonical example.org IRI), drops the
    absorbed sameAs assertions, and dedups on the quad key. Oracle:
    analytic replay — base triples + the four fused rows per
    conversation, all under canonical IRIs."""
    from json_ld_spark.operators.maintenance import OWL_SAMEAS, merge_same_as

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    t1 = transcript_triples_native(t, with_doc_id=False).select(*TRIPLE_COLS)
    convs = t.select("conv_id").dropDuplicates()
    mb = "https://mirror-b.example.org/conv/"
    mc = "https://mirror-c.example.org/conv/"
    a_iri = F.concat(F.lit(_CB), F.col("conv_id"))
    b_iri = F.concat(F.lit(mb), F.col("conv_id"))
    c_iri = F.concat(F.lit(mc), F.col("conv_id"))

    def conv_quads(s, p, kind, o, dt=None):
        return convs.select(
            F.lit(None).cast("string").alias("graph"),
            s.alias("subj"),
            F.lit(p).alias("pred"),
            F.lit(kind).alias("obj_kind"),
            o.alias("obj"),
            F.lit(dt).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )

    src = t1
    for part in (
        conv_quads(a_iri, OWL_SAMEAS, "iri", b_iri),
        conv_quads(b_iri, OWL_SAMEAS, "iri", c_iri),
        conv_quads(b_iri, _V + "ingestSource", "literal", F.lit("mirror-b"), _XS),
        conv_quads(c_iri, _V + "ingestSource", "literal", F.lit("mirror-c"), _XS),
        conv_quads(b_iri, _V + "mirrorOf", "iri", c_iri),
        conv_quads(b_iri, _RDF_TYPE, "iri", F.lit(_V + "Conversation")),
        conv_quads(c_iri, _RDF_TYPE, "iri", F.lit(_V + "Conversation")),
    ):
        src = src.unionByName(part)
    return merge_same_as(src).select(*TRIPLE_COLS)


# kg_shacl_validate: corruption families are keyed on turn_idx mod
# constants, so the violation table replays analytically from base.
_SHACL_SQL = _BASE_CTE + f"""
, turns AS (
  SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS focus,
         conv_id, turn_idx, ts_lex, text,
         CAST(doc_id // 16 AS INT) AS conv_num
  FROM base
)
SELECT focus, 's_role' AS shape_id, 'minCount' AS constraint_kind,
       CAST(NULL AS VARCHAR) AS value, CAST(0 AS BIGINT) AS n
  FROM turns WHERE turn_idx % 7 = 3
UNION ALL SELECT focus, 's_conv', 'maxCount', NULL, 2
  FROM turns WHERE turn_idx % 11 = 5
UNION ALL SELECT focus, 's_conv', 'nodeKind', '{_CB}' || conv_id, NULL
  FROM turns WHERE turn_idx % 19 = 11
UNION ALL SELECT focus, 's_ts', 'datatype', ts_lex, NULL
  FROM turns WHERE turn_idx % 17 = 9
UNION ALL SELECT focus, 's_idx', 'pattern', 'x' || CAST(turn_idx AS VARCHAR), NULL
  FROM turns WHERE turn_idx % 13 = 7
UNION ALL SELECT focus, 's_idx', 'numeric', 'x' || CAST(turn_idx AS VARCHAR), NULL
  FROM turns WHERE turn_idx % 13 = 7
UNION ALL SELECT focus, 's_idx', 'pattern', '-1', NULL
  FROM turns WHERE turn_idx = 5
UNION ALL SELECT focus, 's_idx', 'minInclusive', '-1', NULL
  FROM turns WHERE turn_idx = 5
UNION ALL SELECT focus, 's_idx', 'maxInclusive', '99', NULL
  FROM turns WHERE turn_idx = 14
UNION ALL SELECT focus, 's_role', 'in', 'auditor', NULL
  FROM turns WHERE turn_idx = 6
UNION ALL SELECT focus, 's_text', 'minLength',
       CASE WHEN turn_idx = 13 THEN '' ELSE text END, 0
  FROM turns WHERE turn_idx = 13 OR length(text) = 0
UNION ALL SELECT focus, 's_pipe', 'hasValue', 'v2', NULL
  FROM turns WHERE turn_idx = 12
UNION ALL SELECT focus, 's_note', 'uniqueLang', 'en', 2
  FROM turns WHERE turn_idx = 1
UNION ALL SELECT focus, 's_conv', 'class', '{_CB}' || conv_id, NULL
  FROM turns WHERE turn_idx % 19 = 11 OR conv_num % 3 = 1
UNION ALL SELECT focus, 's_conv', 'class', '{_CB}' || conv_id || '/alt', NULL
  FROM turns WHERE turn_idx % 11 = 5
"""


@query(oracle=_SHACL_SQL)
def q_kg_shacl_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG quality gate (operators/validate.py): SHACL-core shape
    validation of the transcript KG, with deterministic corruption
    families injected so every constraint kind fires — role triples
    deleted (minCount), a second conversation link added (maxCount),
    the conversation object downgraded to a literal (nodeKind), the
    timestamp datatype flipped (datatype), non-numeric / out-of-range
    turnIndex values added (pattern + numeric + min/maxInclusive),
    a role replaced outside the allowed set (in), conversations typed
    only for conv%3≠1 (class), text blanked (minLength), a wrong
    pipeline tag (hasValue) and a duplicated language tag (uniqueLang).
    Shapes broadcast; the corpus side is one (focus, shape) count
    shuffle, one value join, and one value-keyed type join for
    sh:class. Oracle: analytic replay of exactly the injected
    violations."""
    from json_ld_spark.operators.validate import Shape, validate_shapes

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri = transcript_triples_native(t, with_doc_id=False)
    idx = F.regexp_extract("subj", "/turn/([0-9]+)$", 1).cast("int")
    tri = (
        tri.filter(~((F.col("pred") == _V + "role") & (idx % 7 == 3)))
        .withColumn(
            "datatype",
            F.when(
                (F.col("pred") == _V + "timestamp") & (idx % 17 == 9),
                F.lit(_XS),
            ).otherwise(F.col("datatype")),
        )
        .withColumn(
            "obj_kind",
            F.when(
                (F.col("pred") == _V + "conversation") & (idx % 19 == 11),
                F.lit("literal"),
            ).otherwise(F.col("obj_kind")),
        )
        .withColumn(
            "obj",
            F.when(
                (F.col("pred") == _V + "role") & (idx == 6), F.lit("auditor")
            )
            .when((F.col("pred") == _V + "text") & (idx == 13), F.lit(""))
            .otherwise(F.col("obj")),
        )
    )
    subj = F.concat(
        F.lit(_CB), "conv_id", F.lit("/turn/"), F.col("turn_idx").cast("string")
    )

    def turn_quads(filt, p, kind, o, dt=None, lang=None):
        return t.filter(filt).select(
            F.lit(None).cast("string").alias("graph"),
            subj.alias("subj"),
            F.lit(p).alias("pred"),
            F.lit(kind).alias("obj_kind"),
            o.cast("string").alias("obj"),
            F.lit(dt).cast("string").alias("datatype"),
            F.lit(lang).cast("string").alias("lang"),
        )

    always = F.lit(True)
    conv_num = F.substring("conv_id", 6, 100).cast("int")
    conv_types = (
        t.select("conv_id").distinct()
        .filter(conv_num % 3 != 1)
        .select(
            F.lit(None).cast("string").alias("graph"),
            F.concat(F.lit(_CB), "conv_id").alias("subj"),
            F.lit(_RDF_TYPE).alias("pred"),
            F.lit("iri").alias("obj_kind"),
            F.lit(_V + "Conversation").alias("obj"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    for extra in (
        turn_quads(
            F.col("turn_idx") % 11 == 5, _V + "conversation", "iri",
            F.concat(F.lit(_CB), "conv_id", F.lit("/alt")),
        ),
        turn_quads(
            F.col("turn_idx") % 13 == 7, _V + "turnIndex", "literal",
            F.concat(F.lit("x"), F.col("turn_idx").cast("string")), _XI,
        ),
        turn_quads(F.col("turn_idx") == 14, _V + "turnIndex", "literal",
                   F.lit("99"), _XI),
        turn_quads(F.col("turn_idx") == 5, _V + "turnIndex", "literal",
                   F.lit("-1"), _XI),
        turn_quads(
            always, _V + "pipeline", "literal",
            F.when(F.col("turn_idx") == 12, F.lit("v1")).otherwise(F.lit("v2")),
            _XS,
        ),
        turn_quads(
            always, _V + "note", "literal",
            F.concat(F.lit("note-"), F.col("turn_idx").cast("string")),
            lang="en",
        ),
        turn_quads(F.col("turn_idx") == 1, _V + "note", "literal",
                   F.lit("dup"), lang="en"),
        conv_types,
    ):
        tri = tri.unionByName(extra)
    shapes = [
        Shape("s_role", _V + "Turn", _V + "role", min_count=1, max_count=1,
              node_kind="literal", datatype=_XS,
              in_values=("user", "assistant", "system", "tool")),
        Shape("s_conv", _V + "Turn", _V + "conversation", min_count=1,
              max_count=1, node_kind="iri", cls=_V + "Conversation"),
        Shape("s_ts", _V + "Turn", _V + "timestamp", datatype=_XD),
        Shape("s_idx", _V + "Turn", _V + "turnIndex", pattern="^[0-9]+$",
              min_inclusive=0.0, max_inclusive=15.0),
        Shape("s_text", _V + "Turn", _V + "text", min_length=1),
        Shape("s_pipe", _V + "Turn", _V + "pipeline", has_value="v2"),
        Shape("s_note", _V + "Turn", _V + "note", unique_lang=True),
    ]
    return validate_shapes(tri, shapes).select(
        "focus", "shape_id", "constraint_kind", "value", "n"
    )


_NODES_SQL = _TRIPLES_CTE + f"""
SELECT subj AS node_id,
       array_to_string(list_sort(list_distinct(list(CASE WHEN pred = '{_RDF_TYPE}' THEN obj END))), ',') AS types_csv,
       array_to_string(list_sort(list_distinct(list(pred))), ',') AS preds_csv,
       COUNT(*) AS out_degree,
       COUNT(DISTINCT doc_id) AS n_docs
FROM triples
GROUP BY subj
"""


@query(oracle=_NODES_SQL)
def q_kg_node_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed node-map merge (merge_node, node_map.rs:211-262) as a
    hash aggregation over the deduped triple table."""
    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    nodes = node_table(dedup_triples(transcript_triples_native(t)))
    return nodes.select(
        "node_id",
        F.array_join("types", ",").alias("types_csv"),
        F.array_join("preds", ",").alias("preds_csv"),
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


@query(oracle=_NODES_SQL)
def q_kg_bucketed_node_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once story measured END-TO-END: materialize
    the KG under write-audit-publish AND as a subj-bucketed managed
    table (plans/kg.materialize_kg(bucketed_table=...)), then compute
    the node table FROM THE BUCKETED TABLE. The bucketed scan reports
    HashPartitioning(subj), so the (graph, subj) node merge plans with
    ZERO Exchange — the shuffle was paid once at publish time
    (PLANS.md §25; plan asserted in tests/test_layout.py). Output and
    oracle are identical to kg_node_table."""
    import re as _re

    from json_ld_spark.plans.kg import materialize_kg

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tag = _re.sub(r"[^A-Za-z0-9]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    out_dir = f"/tmp/json_ld_spark_bucketed/{tag}"
    table = f"kg_triples_bucketed_{tag}"
    materialize_kg(t, out_dir, n_buckets=16, bucketed_table=table)
    nodes = node_table(spark.table(table))
    return nodes.select(
        "node_id",
        F.array_join("types", ",").alias("types_csv"),
        F.array_join("preds", ",").alias("preds_csv"),
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("n_docs").cast("long").alias("n_docs"),
    )


# kg_fuzzy_links: vocabulary-level blocked Levenshtein replay — the
# mention/dict CTEs are _LINKS_SQL's; blocks via substring (DuckDB
# negative-start substring counts from the end, like Spark's).
_FUZZY_LINKS_SQL = """
WITH mention_rows AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS subj,
         e.pos AS pos, e.surface AS surface
  FROM documents
  CROSS JOIN UNNEST(list_transform(
      string_split_regex(lower(text), '[^a-z0-9]+'),
      (x, i) -> {'pos': i - 1, 'surface': x})) AS m(e)
  WHERE length(e.surface) >= 3
), tf AS (
  SELECT subj, surface, COUNT(*) AS tf, MIN(pos) AS first_pos
  FROM mention_rows GROUP BY subj, surface
), toks AS (
  SELECT t.e AS surface FROM documents
  CROSS JOIN UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(e)
  WHERE length(t.e) >= 3
), freq AS (
  SELECT surface, COUNT(*) AS n FROM toks GROUP BY surface
), dict AS (
  SELECT 'https://example.org/entity/' || surface AS entity_id, surface,
         n / (SELECT CAST(SUM(n) AS DOUBLE) FROM freq) AS prior
  FROM freq ORDER BY n DESC, surface ASC LIMIT 2000
), surf AS (
  SELECT DISTINCT surface FROM tf
), cand AS (
  SELECT DISTINCT s.surface, d.entity_id, d.surface AS dsurf, d.prior
  FROM surf s JOIN dict d
    ON substring(s.surface, 1, 2) = substring(d.surface, 1, 2)
  UNION
  SELECT DISTINCT s.surface, d.entity_id, d.surface AS dsurf, d.prior
  FROM surf s JOIN dict d
    ON substring(s.surface, -2, 2) = substring(d.surface, -2, 2)
), matched AS (
  SELECT surface, entity_id, prior,
         levenshtein(surface, dsurf) AS dist
  FROM cand WHERE levenshtein(surface, dsurf) <= 1
), best AS (
  SELECT surface, entity_id, dist FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY surface
      ORDER BY dist ASC, prior DESC, entity_id ASC) AS rk
    FROM matched)
  WHERE rk = 1
)
SELECT tf.subj, tf.surface, b.entity_id, CAST(b.dist AS INT) AS dist,
       tf.tf AS tf, CAST(tf.first_pos AS BIGINT) AS first_pos
FROM tf JOIN best b USING (surface)
"""


@query(oracle=_FUZZY_LINKS_SQL)
def q_kg_fuzzy_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity linking (linking.fuzzy_link_entities):
    blocked Levenshtein match — prefix-OR-suffix 2-char pigeonhole
    blocks (recall 1.0 at max_dist=1 for surfaces >= 4 chars), exact
    integer distances, (dist, prior desc, entity_id) top-1 per
    surface; fuzzy work runs at vocabulary level, the corpus stream
    only equi-joins back. Oracle: same blocks + levenshtein() +
    ROW_NUMBER replay."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    mention_src = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("subj"),
        "text",
    )
    mentions = lk.extract_mentions(mention_src)
    dictionary = lk.synthesize_entity_dictionary(spark, sf_dir, max_entities=2000)
    return lk.fuzzy_link_entities(mentions, dictionary, max_dist=1)


_LINKS_SQL = """
WITH mention_rows AS (
  SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS subj,
         e.pos AS pos, e.surface AS surface
  FROM documents
  CROSS JOIN UNNEST(list_transform(
      string_split_regex(lower(text), '[^a-z0-9]+'),
      (x, i) -> {'pos': i - 1, 'surface': x})) AS m(e)
  WHERE length(e.surface) >= 3
), tf AS (
  SELECT subj, surface, COUNT(*) AS tf, MIN(pos) AS first_pos
  FROM mention_rows GROUP BY subj, surface
), toks AS (
  SELECT t.e AS surface FROM documents
  CROSS JOIN UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(e)
  WHERE length(t.e) >= 3
), freq AS (
  SELECT surface, COUNT(*) AS n FROM toks GROUP BY surface
), dict AS (
  SELECT 'https://example.org/entity/' || surface AS entity_id, surface,
         n / (SELECT CAST(SUM(n) AS DOUBLE) FROM freq) AS prior
  FROM freq ORDER BY n DESC, surface ASC LIMIT 2000
)
SELECT tf.subj AS subj, tf.surface AS surface, dict.entity_id AS entity_id,
       tf.tf AS tf, CAST(tf.first_pos AS BIGINT) AS first_pos,
       round(dict.prior, 6) AS prior_r,
       round(dict.prior * ln(1.0 + tf.tf) / ln(tf.first_pos + 2.0), 6) AS score_r
FROM tf JOIN dict USING (surface)
"""


@query(oracle=_LINKS_SQL)
def q_kg_entity_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention extraction (JVM posexplode) + broadcast dictionary join +
    vectorized pandas-UDF link scoring (north_star entity-linking stage)."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    mention_src = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("subj"),
        "text",
    )
    mentions = lk.extract_mentions(mention_src)
    dictionary = lk.synthesize_entity_dictionary(spark, sf_dir, max_entities=2000)
    links = lk.link_entities(mentions, dictionary, strategy="broadcast")
    return links.select(
        "subj",
        "surface",
        "entity_id",
        F.col("tf").cast("long").alias("tf"),
        F.col("first_pos").cast("long").alias("first_pos"),
        F.round("prior", 6).alias("prior_r"),
        F.round("score", 6).alias("score_r"),
    )


@query(oracle=_LINKS_SQL)
def q_kg_entity_links_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same linking semantics through the SALTED shuffle-join strategy
    (hot-surface skew mitigation: probe side salted by xxhash64(subj),
    dictionary replicated x n_salts). Shares kg_entity_links' oracle —
    the strategy changes only the physical plan, so the value hash must
    be identical."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    mention_src = docs.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("subj"),
        "text",
    )
    mentions = lk.extract_mentions(mention_src)
    dictionary = lk.synthesize_entity_dictionary(spark, sf_dir, max_entities=2000)
    links = lk.link_entities(mentions, dictionary, strategy="salted", n_salts=8)
    return links.select(
        "subj",
        "surface",
        "entity_id",
        F.col("tf").cast("long").alias("tf"),
        F.col("first_pos").cast("long").alias("first_pos"),
        F.round("prior", 6).alias("prior_r"),
        F.round("score", 6).alias("score_r"),
    )


# Full-pipeline per-predicate counts: extraction counts fall out of the
# transcript synthesis; the mentions predicate replays dictionary build
# (top-500 by corpus frequency) + per-(subj,surface) argmax(prior)
# linking + (subj, entity) pair dedup.
_KG_PIPELINE_SQL = _BASE_CTE + f"""
, toks AS (
  SELECT t.e AS surface FROM documents
  CROSS JOIN UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(e)
  WHERE length(t.e) >= 3
), freq AS (
  SELECT surface, COUNT(*) AS n FROM toks GROUP BY surface
), dict AS (
  SELECT 'https://example.org/entity/' || surface AS entity_id, surface, n
  FROM freq ORDER BY n DESC, surface ASC LIMIT 500
), mention_rows AS (
  SELECT DISTINCT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
         m.e AS surface
  FROM base CROSS JOIN UNNEST(string_split_regex(lower(text), '[^a-z0-9]+')) AS m(e)
  WHERE length(m.e) >= 3
), linked AS (
  SELECT mr.subj, d.entity_id
  FROM mention_rows mr JOIN dict d USING (surface)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY mr.subj, mr.surface
                             ORDER BY d.n DESC, d.entity_id ASC) = 1
), mention_quads AS (
  SELECT DISTINCT subj, entity_id FROM linked
), counts AS (
  SELECT '{_RDF_TYPE}' AS pred, COUNT(*) AS n FROM base
  UNION ALL SELECT '{_V}role', COUNT(*) FROM base
  UNION ALL SELECT '{_V}text', COUNT(*) FROM base
  UNION ALL SELECT '{_V}tool', COUNT(*) FROM base WHERE tool IS NOT NULL
  UNION ALL SELECT '{_V}timestamp', COUNT(*) FROM base
  UNION ALL SELECT '{_V}turnIndex', COUNT(*) FROM base
  UNION ALL SELECT '{_V}conversation', COUNT(*) FROM base
  UNION ALL SELECT '{_V}mentions', COUNT(*) FROM mention_quads
)
SELECT pred, CAST(n AS BIGINT) AS n_triples FROM counts
"""


@query(oracle=_KG_PIPELINE_SQL)
def q_kg_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end build_kg (extraction + linking + dedup + node merge);
    per-predicate triple counts, reconstructed end-to-end in the DuckDB
    oracle (extraction counts from the transcript synthesis; the
    mentions count replays dictionary build + top-1 linking + pair
    dedup in SQL)."""
    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    dictionary = lk.synthesize_entity_dictionary(spark, sf_dir, max_entities=500)
    parts = build_kg(t, entity_dictionary=dictionary, engine="native")
    return (
        parts["triples"]
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .orderBy("pred")
    )


# diff counts: only_left = dropped turnIndex quads (value%5=0);
# only_right = injected extras (one per turn_idx==0 subject);
# common = all remaining quads
_KG_DIFF_SQL = _TRIPLES_CTE + f"""
SELECT CAST(SUM(CASE WHEN pred = '{_V}turnIndex' AND TRY_CAST(obj AS BIGINT) % 5 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_only_left,
       CAST(SUM(CASE WHEN pred = '{_V}turnIndex' AND obj = '0'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_only_right,
       CAST(SUM(CASE WHEN NOT (pred = '{_V}turnIndex' AND coalesce(TRY_CAST(obj AS BIGINT) % 5 = 0, false))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_common
FROM triples
"""


@query(oracle=_KG_DIFF_SQL)
def q_kg_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed dataset comparison (SURVEY.md §2 H rows at corpus
    scale): diff the extracted triples against a deterministically
    perturbed copy (every turnIndex quad with value % 5 == 0 dropped;
    one synthetic quad injected per turn_idx==0 subject) — the anti/semi
    join P/R machinery the golden scoring uses, as a first-class
    operator. Oracle reconstructs the same counts in SQL."""
    from json_ld_spark.operators.diff import diff_summary

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    base = transcript_triples_native(t).select(*TRIPLE_COLS)
    v = "https://example.org/transcript#"
    turn_pred = v + "turnIndex"
    # try_cast: ANSI mode would throw casting IRI objects, and SQL AND
    # does not short-circuit
    right = base.filter(
        ~(
            (F.col("pred") == turn_pred)
            & ((F.col("obj").try_cast("long") % 5) == 0)
        )
    )
    injected = (
        base.filter((F.col("pred") == turn_pred) & (F.col("obj") == "0"))
        .select(
            "graph", "subj",
            F.lit(v + "extra").alias("pred"),
            F.lit("literal").alias("obj_kind"),
            F.lit("x").alias("obj"),
            F.lit("http://www.w3.org/2001/XMLSchema#string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    right = right.unionByName(injected)
    # no bnodes in this corpus: canonicalization off keeps the oracle exact
    return diff_summary(base, right, canonicalize=False)


# kg_canonical_incremental: the splice result equals a full canonical
# rebuild of the post-delta corpus (per-document content-pure labels),
# so the oracle is _CANON_TRIPLES_SQL's sha-chain replay over the
# edited/deleted document set.
_CANON_INCR_SQL = _BASE_CTE + f"""
, base2 AS (
  SELECT conv_id, turn_idx, role,
         CASE WHEN turn_idx % 4 = 1 THEN text || ' [edited]' ELSE text END AS text
  FROM base
  WHERE turn_idx % 16 <> 15
), sigged AS (
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
  FROM base2
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


@query(oracle=_CANON_INCR_SQL)
def q_kg_canonical_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonicalization for a document delta
    (maintenance.incremental_canonicalize): the canonical triple table
    absorbs edited documents (turn_idx%4==1 get ' [edited]' appended —
    some are bnode-rooted, so their canonical labels MUST change) and
    deletions (turn_idx%16==15) by recomputing ONLY the delta docs and
    splicing — the kept rows are never reshuffled. Result is provably
    equal to a full canonical rebuild of the merged corpus (canonical
    labels are pure per-document content functions; asserted in
    tests/test_maintenance.py), so the oracle replays the full-rebuild
    sha chain over the post-delta document set."""
    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    base = triples_stage(
        _canon_docs(t), context=TRANSCRIPT_CONTEXT, options=JsonLdOptions(),
        canonical_bnodes=True,
    ).select("doc_id", "subj", "pred", "obj_kind", "obj")
    upserts = _canon_docs(
        t.filter(F.col("turn_idx") % 4 == 1)
        .withColumn("text", F.concat(F.col("text"), F.lit(" [edited]")))
    )
    deletes = t.filter(F.col("turn_idx") % 16 == 15).select(
        F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string")).alias("doc_id")
    )
    from json_ld_spark.operators.maintenance import incremental_canonicalize

    return incremental_canonicalize(
        base, upserts=upserts, deletes=deletes,
        context=TRANSCRIPT_CONTEXT, options=JsonLdOptions(),
    )


# compact roundtrip: @id/conv compact back to @base-relative IRIs, @type
# to the @vocab term, properties to their context terms
# corpus-framing oracle: assistant turns per conversation; first_id is
# the lexicographic-min RELATIVE turn IRI (frame context @base makes
# compacted @ids relative), matching the framed @graph's sorted order
_FRAME_CONV_SQL = _BASE_CTE + """
, convs AS (SELECT DISTINCT conv_id FROM base),
  assist AS (
  SELECT conv_id, COUNT(*) AS n,
         MIN(conv_id || '/turn/' || CAST(turn_idx AS VARCHAR)) AS first_id
  FROM base WHERE role = 'assistant' GROUP BY conv_id
)
SELECT c.conv_id, COALESCE(a.n, 0)::BIGINT AS n_assistant, a.first_id
FROM convs c LEFT JOIN assist a ON a.conv_id = c.conv_id
"""


@query(oracle=_FRAME_CONV_SQL)
def q_kg_frame_conversations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framing composed with the corpus pipeline: triples → one
    expanded JSON-LD document PER CONVERSATION (from_rdf_stage grouped
    on the conv prefix — group state is one conversation's quads) →
    frame_stage selecting assistant turns (@requireAll pins the match
    to type∧role). Demonstrates the KG→document reshape path end to
    end; the oracle recomputes the per-conversation assistant count
    and lexicographic-min turn IRI analytically."""
    from json_ld_spark.operators.jsonld import frame_stage, from_rdf_stage

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t).withColumn(
        "conv_id", F.substring_index(F.col("doc_id"), "#", 1)
    ).drop("doc_id")
    conv_docs = from_rdf_stage(triples, group_col="conv_id").select(
        F.col("conv_id").alias("doc_id"), F.col("expanded").alias("doc")
    )
    framed = frame_stage(
        conv_docs,
        frame_doc={
            "@context": TRANSCRIPT_CONTEXT,
            "@type": "Turn",
            "role": "assistant",
            "@requireAll": True,
        },
    )
    g = F.get_json_object("framed", "$.@graph")
    single = F.get_json_object("framed", "$.@id")
    return framed.select(
        F.col("doc_id").alias("conv_id"),
        F.when(g.isNotNull(), F.json_array_length(g))
        .when(single.isNotNull(), F.lit(1))
        .otherwise(F.lit(0)).cast("long").alias("n_assistant"),
        F.coalesce(
            F.get_json_object("framed", "$.@graph[0].@id"), single
        ).alias("first_id"),
    )


# conversation-level near-dedup: the transcript synthesis + the
# deterministic dup injection (every 7th conversation minus its last
# turn) + pinned-order conversation text, then the same brute-force
# exact-Jaccard form as the document-level oracle
_CONV_DEDUP_SQL = _BASE_CTE + r"""
, withdup AS (
  SELECT conv_id, turn_idx, text FROM base
  UNION ALL
  SELECT conv_id || '-dup' AS conv_id, turn_idx, text
  FROM base
  WHERE CAST(string_split(conv_id, '-')[2] AS BIGINT) % 7 = 0
    AND turn_idx < 15
), conv AS (
  SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
  FROM withdup GROUP BY conv_id
), sh AS (
  SELECT conv_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM (SELECT conv_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM conv)
)
SELECT a.conv_id AS conv_a, b.conv_id AS conv_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
         AS jaccard_r
FROM sh a JOIN sh b ON a.conv_id < b.conv_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
"""


@query(oracle=_CONV_DEDUP_SQL)
def q_kg_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSATION-level near-dedup on the transcripts table (the
    north-star input): every 7th conversation is re-injected minus its
    last turn (a deterministic near-duplicate), conversation text is
    assembled in pinned turn order (array_sort over collected
    (turn_idx, text) structs — never accumulation order), then the
    standard MinHash 32x2 band family + exact-Jaccard verify finds the
    injected pairs. The production shape for trillion-turn dedup: one
    conv-keyed agg + the banded candidate join — never all-pairs.
    Oracle: transcript synthesis + injection + string_agg(ORDER BY
    turn_idx) replayed in SQL, brute-force exact Jaccard >= 0.7 (band
    recall 1.0 at the injected pairs' ~0.9 Jaccard; same argument as
    dedup_minhash_lsh)."""
    from json_ld_spark.sources.transcripts import transcripts_from_documents

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    conv_num = F.split(F.col("conv_id"), "-").getItem(1).cast("long")
    dups = (
        t.filter((conv_num % 7 == 0) & (F.col("turn_idx") < 15))
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-dup")))
    )
    allt = t.unionByName(dups)
    corpus = (
        allt.groupBy("conv_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("turn_idx", "text"))
                    ),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
        .select(F.col("conv_id").alias("doc_id"), "text")
    )
    cands = dd.minhash_lsh_candidates(corpus, num_hashes=64, bands=32)
    out = dd.jaccard_pairs(corpus, cands, threshold=0.7)
    return out.select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        F.round("jaccard", 6).alias("jaccard_r"),
    )


# kg_random_walks / kg_skipgram_pairs: replay every hash-mod-degree
# choice through the md5 bridge ('0x'||substr(md5(x),1,8))::BIGINT ==
# Spark conv(substring(md5(x),1,8),16,10) — the walk is a bounded
# recursive CTE over the row_number-indexed adjacency, shared by both
# oracles.
_WALK_CTE_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS u,
                  's' || CAST(l_suppkey AS VARCHAR) AS v
  FROM lineitem
), edges AS (
  SELECT u, v FROM e UNION SELECT v AS u, u AS v FROM e
), adj AS (
  SELECT u, v, ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) - 1 AS nbr_idx
  FROM edges
), deg AS (
  SELECT u, COUNT(*) AS degree FROM edges GROUP BY u
), starts AS (
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS node
  FROM lineitem WHERE l_partkey % 50 = 0
), walk AS (
  SELECT node || '#' || CAST(wi AS VARCHAR) AS walk_id,
         0 AS step, node
  FROM starts CROSS JOIN (SELECT unnest([0, 1]) AS wi)
  UNION ALL
  SELECT w.walk_id, w.step + 1 AS step, a.v AS node
  FROM walk w
  JOIN deg d ON d.u = w.node
  JOIN adj a ON a.u = w.node
   AND a.nbr_idx = ('0x' || substr(md5(
         'r3:' || w.walk_id || ':' || CAST(w.step + 1 AS VARCHAR)
         || ':' || w.node), 1, 8))::BIGINT % d.degree
  WHERE w.step < 4
)
"""

_RANDOM_WALKS_SQL = _WALK_CTE_SQL + """
SELECT walk_id, CAST(step AS INT) AS step, node FROM walk
"""


@query(oracle=_RANDOM_WALKS_SQL)
def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus generation (graphops.random_walks)
    over the symmetrized part–supplier bipartite graph: 2 walks of
    length 4 from every 50th part, next hop = md5(seed,walk,step,node)
    mod out-degree into the dst-sorted neighbor list. Hash-indexed
    choices make the walk corpus reproducible across runs/cluster
    sizes AND SQL-replayable: the oracle is a bounded recursive CTE
    replaying every choice through the md5 bridge."""
    from json_ld_spark.operators.graphops import random_walks

    _utc(spark)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    ).dropDuplicates()
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    starts = (
        li.filter(F.col("l_partkey") % 50 == 0)
        .select(F.concat(F.lit("p"), F.col("l_partkey")).alias("node"))
        .dropDuplicates()
    )
    return random_walks(
        edges, starts=starts, walks_per_node=2, walk_len=4,
        seed="r3", hash_fn="md5",
    )


# BFS over the chain graph: bounded recursive CTE, min depth per node.
# kg_lpg_project: the LPG node summary is analytic on the synthesis —
# every turn node is labeled Turn with out_deg = 1 (conversation edge)
# + 1 when a next turn exists, n_props = role/text/timestamp/turnIndex
# + optional tool; conversation nodes are untyped targets.
_LPG_PROJECT_SQL = _BASE_CTE + f"""
, adjp AS (
  SELECT conv_id, turn_idx, tool,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
)
SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS id,
       '{_V}Turn' AS labels,
       CAST(1 + CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS out_deg,
       CAST(4 + CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_props
FROM adjp
UNION ALL
SELECT DISTINCT '{_CB}' || conv_id AS id, '' AS labels,
       CAST(0 AS BIGINT) AS out_deg, CAST(0 AS BIGINT) AS n_props
FROM base
"""


@query(oracle=_LPG_PROJECT_SQL)
def q_kg_lpg_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF → labeled-property-graph projection (operators/lpg.py):
    project the transcript KG (native triples + turn adjacency) into
    nodes/edges/props tables and summarize per node — sorted label
    set, out-degree over relationships, property count. Conversation
    IRIs appear as untyped, property-less nodes (relationship targets
    only). Oracle: per-turn arithmetic on the deterministic synthesis
    (out_deg = conversation edge + optional nextTurn; n_props = 4 +
    optional tool)."""
    from json_ld_spark.operators.lpg import to_property_graph
    from json_ld_spark.operators.native import (
        transcript_adjacency_native, transcript_triples_native,
    )

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    quads = (
        transcript_triples_native(t, with_doc_id=False)
        .select(*TRIPLE_COLS)
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False).select(*TRIPLE_COLS)
        )
    )
    nodes, edges, props = to_property_graph(quads)
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    np_ = props.groupBy("id").agg(F.count(F.lit(1)).alias("n_props"))
    return (
        nodes.join(deg, "id", "left")
        .join(np_, "id", "left")
        .select(
            "id",
            F.array_join("labels", ",").alias("labels"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("n_props", F.lit(0)).cast("long").alias("n_props"),
        )
    )


# kg_negative_samples: SQL replay of the filtered TransE corruption —
# md5-bridge side choice + md5-bridge index into the ROW_NUMBER-dense
# entity dictionary, true-triple corruptions removed by NOT EXISTS.
# kg_kcore: the k=5 peel unrolled as CTE rounds (3 rounds reach the
# fixpoint at every sf: turns peel, emptied conversation hubs peel,
# the co-purchase core is stable; one extra round unrolled as guard).
_KCORE_SQL = _BASE_CTE + f"""
, adjp AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
), raw AS (
  SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS u,
         '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR) AS v
  FROM adjp WHERE nxt IS NOT NULL
  UNION ALL
  SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR),
         '{_CB}' || conv_id FROM base
  UNION ALL
  SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR),
                  's' || CAST(l_suppkey AS VARCHAR) FROM lineitem
), e0 AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw WHERE u <> v
    UNION ALL SELECT v AS u, u AS v FROM raw WHERE u <> v)
), k1 AS (SELECT u FROM e0 GROUP BY u HAVING COUNT(*) >= 5),
e1 AS (SELECT e0.u, e0.v FROM e0
       JOIN k1 a ON a.u = e0.u JOIN k1 b ON b.u = e0.v),
k2 AS (SELECT u FROM e1 GROUP BY u HAVING COUNT(*) >= 5),
e2 AS (SELECT e1.u, e1.v FROM e1
       JOIN k2 a ON a.u = e1.u JOIN k2 b ON b.u = e1.v),
k3 AS (SELECT u FROM e2 GROUP BY u HAVING COUNT(*) >= 5),
e3 AS (SELECT e2.u, e2.v FROM e2
       JOIN k3 a ON a.u = e2.u JOIN k3 b ON b.u = e2.v)
SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree
FROM e3 GROUP BY u
"""


@query(oracle=_KCORE_SQL)
def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (graphops.k_core, k=5) over a heterogeneous
    union graph: 16-turn conversation chains + their conversation hubs
    (degree <= 3 / 16 — peels with a 3-round cascade: turns fall first,
    then the emptied hubs) unioned with the part–supplier co-purchase
    graph (min degree >= 8 at every sf — the surviving dense core).
    One degree agg + two semi-joins per round; the survivor count is
    the round's single job. Oracle: the peel unrolled as CTE rounds."""
    _utc(spark)
    from json_ld_spark.operators.graphops import k_core
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )

    t = transcripts_from_documents(spark, sf_dir)
    chain = transcript_adjacency_native(t, with_doc_id=False).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    conv = (
        transcript_triples_native(t)
        .filter(F.col("pred") == "https://example.org/transcript#conversation")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    )
    cop = (
        _read(spark, sf_dir, "lineitem")
        .select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .dropDuplicates()
    )
    return k_core(chain.unionByName(conv).unionByName(cop), k=5)


# kg_transe_rank: SQL replay of the filtered TransE ranking —
# integer-lattice md5-bridge embeddings (list_transform), exact
# integer L1 distances, the same better-all minus better-known
# counting aggregations as kge.transe_rank. Ranks are integers, so
# the oracle is value-exact with no float rounding.
_TRANSE_RANK_SQL = _BASE_CTE + f"""
, adjp AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
), pos AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
           '{_RDF_TYPE}' AS pred, '{_V}Turn' AS obj FROM base
    UNION ALL
    SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR),
           '{_V}conversation', '{_CB}' || conv_id FROM base
    UNION ALL
    SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR),
           '{_V}nextTurn',
           '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR)
    FROM adjp WHERE nxt IS NOT NULL
  )
), kents AS (
  SELECT DISTINCT entity
  FROM (SELECT subj AS entity FROM pos UNION SELECT obj FROM pos)
), evec AS (
  SELECT entity, list_transform(range(0, 16), i ->
    (('0x' || substr(md5('kge|E|' || entity || '|' || CAST(i AS VARCHAR)),
      1, 8))::BIGINT % 2001) - 1000) AS v
  FROM kents
), test AS (
  SELECT subj, pred, obj,
         list_transform(range(0, 16), i ->
           (('0x' || substr(md5('kge|E|' || subj || '|' || CAST(i AS VARCHAR)),
             1, 8))::BIGINT % 2001) - 1000
           + (('0x' || substr(md5('kge|R|' || pred || '|' || CAST(i AS VARCHAR)),
               1, 8))::BIGINT % 2001) - 1000) AS qvec
  FROM pos
  WHERE ('0x' || substr(md5('kge|test|' || subj || '|' || pred || '|' || obj),
         1, 8))::BIGINT % 97 = 0
), td AS (
  SELECT t.subj, t.pred, t.obj, t.qvec,
         CAST(list_sum(list_transform(range(1, 17),
              i -> abs(t.qvec[i] - e.v[i]))) AS BIGINT) AS true_d
  FROM test t JOIN evec e ON e.entity = t.obj
), scored AS (
  SELECT td.subj, td.pred, td.obj, td.true_d, e.entity,
         CAST(list_sum(list_transform(range(1, 17),
              i -> abs(td.qvec[i] - e.v[i]))) AS BIGINT) AS dd
  FROM td CROSS JOIN evec e
), ball AS (
  SELECT subj, pred, obj,
         CAST(SUM(CASE WHEN entity <> obj
                        AND (dd < true_d OR (dd = true_d AND entity < obj))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_better
  FROM scored GROUP BY 1, 2, 3
), kb AS (
  SELECT s.subj, s.pred, s.obj,
         CAST(SUM(CASE WHEN s.dd < s.true_d
                        OR (s.dd = s.true_d AND s.entity < s.obj)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_known
  FROM scored s JOIN pos p
    ON p.subj = s.subj AND p.pred = s.pred AND p.obj = s.entity
  WHERE s.entity <> s.obj
  GROUP BY 1, 2, 3
)
SELECT b.subj, b.pred, b.obj,
       CAST(1 + b.n_better - COALESCE(k.n_known, 0) AS BIGINT) AS rank
FROM ball b LEFT JOIN kb k USING (subj, pred, obj)
"""


@query(oracle=_TRANSE_RANK_SQL)
def q_kg_transe_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered TransE link-prediction ranking (kge.transe_rank,
    Bordes et al. NeurIPS'13 protocol) over the transcript KG's
    node-to-node edges (rdf:type + conversation + nextTurn): rank of
    the true tail among all entities under integer-lattice hash
    embeddings — integer L1 distances make every rank value-exact.
    Test set = md5-bridge hash sample of the positive edges; scoring
    is entities x broadcast(test) absorbed by map-side partial
    aggregation; filtered correction is a (subj, pred) equi-join, not
    an anti-join on the cross product. Oracle: full SQL replay
    (list_transform embeddings + the same two counting aggregations)."""
    from json_ld_spark.operators.kge import transe_rank
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    edges = (
        transcript_triples_native(t)
        .filter(F.col("obj_kind") == "iri")
        .select("subj", "pred", "obj")
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False)
            .select("subj", "pred", "obj")
        )
    )
    return transe_rank(edges, dim=16, test_mod=97)


_NEGATIVE_SAMPLES_SQL = _BASE_CTE + f"""
, adjp AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
), pos AS (
  SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
         '{_V}nextTurn' AS pred,
         '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR) AS obj
  FROM adjp WHERE nxt IS NOT NULL
), ents AS (
  SELECT entity, ROW_NUMBER() OVER (ORDER BY entity) - 1 AS idx
  FROM (SELECT subj AS entity FROM pos UNION SELECT obj FROM pos)
), nn AS (SELECT COUNT(*) AS n FROM ents
), cand AS (
  SELECT subj, pred, obj, i AS sample_i,
         CASE WHEN ('0x' || substr(md5(
                 'neg3|side:' || subj || ':' || pred || ':' || obj
                 || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
              THEN 'obj' ELSE 'subj' END AS side
  FROM pos CROSS JOIN (SELECT unnest([0, 1]) AS i)
), withneg AS (
  SELECT c.subj, c.pred, c.obj, c.sample_i, c.side, e.entity AS neg
  FROM cand c CROSS JOIN nn
  JOIN ents e ON e.idx = ('0x' || substr(md5(
        'neg3:' || c.subj || ':' || c.pred || ':' || c.obj
        || ':' || CAST(c.sample_i AS VARCHAR) || ':' || c.side),
        1, 8))::BIGINT % nn.n
)
SELECT subj, pred, obj, CAST(sample_i AS INT) AS sample_i, side, neg
FROM withneg w
WHERE NOT EXISTS (
  SELECT 1 FROM pos p
  WHERE p.pred = w.pred
    AND p.subj = CASE WHEN w.side = 'subj' THEN w.neg ELSE w.subj END
    AND p.obj  = CASE WHEN w.side = 'obj'  THEN w.neg ELSE w.obj END
)
"""


@query(oracle=_NEGATIVE_SAMPLES_SQL)
def q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for KG-embedding training
    (sampling.negative_triples, TransE-style filtered corruption):
    2 corruptions per nextTurn edge, side chosen per-sample by hash,
    replacement entity = hash mod n into the lexicographically
    dense-indexed turn dictionary (two-phase distributed rank, no
    single-task sort), corruptions that are true edges dropped by one
    anti-join. Oracle: full SQL replay through the md5 bridge +
    ROW_NUMBER dictionary + NOT EXISTS."""
    from json_ld_spark.operators.native import transcript_adjacency_native
    from json_ld_spark.operators.sampling import negative_triples

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    adj = transcript_adjacency_native(t, with_doc_id=False)
    return negative_triples(
        adj, k=2, corrupt="both", seed="neg3", hash_fn="md5"
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-purchase graph: undirected edge {u, v} when two parts
    share an order (orders sampled by key % 5 to bound the oracle's
    all-pairs replay; the Spark side scales to the full table — the
    per-order fan-out is C(lines_per_order, 2), bounded by order size,
    not corpus size)."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates()
    )


# kg_node2vec_walks: walk_len is fixed at 3, so the 2nd-order walk
# unrolls into three identical step CTEs — adjacency join + previous-
# edge mark (left join) + integer cumulative-weight window + md5-bridge
# interval pick. Integer weights make the cumsum exact in both engines.


def _n2v_step(k: int) -> str:
    return f"""
, c{k} AS (
  SELECT f.walk_id, f.cur, e.v,
         CASE WHEN f.prev IS NULL THEN 1
              WHEN e.v = f.prev THEN 1
              WHEN m.u IS NOT NULL THEN 4
              ELSE 2 END AS w
  FROM s{k - 1} f
  JOIN n2v_ed e ON e.u = f.cur
  LEFT JOIN n2v_ed m ON m.u = f.prev AND m.v = e.v
), a{k} AS (
  SELECT *,
         SUM(w) OVER (PARTITION BY walk_id ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(w) OVER (PARTITION BY walk_id) AS tot,
         ('0x' || substr(md5('n2v:' || walk_id || ':{k}:' || cur), 1, 8))::BIGINT AS h
  FROM c{k}
), s{k} AS (
  SELECT walk_id, cur AS prev, v AS cur
  FROM a{k} WHERE cum > h % tot AND cum - w <= h % tot
)"""


_NODE2VEC_SQL = (
    """
WITH n2v_ed AS (
  SELECT DISTINCT CAST(a.l_partkey AS VARCHAR) AS u,
                  CAST(b.l_partkey AS VARCHAR) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), starts AS (
  SELECT DISTINCT u AS node FROM n2v_ed WHERE CAST(u AS BIGINT) % 97 = 0
), s0 AS (
  SELECT node || '#0' AS walk_id, CAST(NULL AS VARCHAR) AS prev,
         node AS cur
  FROM starts
)"""
    + _n2v_step(1) + _n2v_step(2) + _n2v_step(3)
    + """
SELECT walk_id, CAST(0 AS INT) AS step, cur AS node FROM s0
UNION ALL SELECT walk_id, CAST(1 AS INT), cur FROM s1
UNION ALL SELECT walk_id, CAST(2 AS INT), cur FROM s2
UNION ALL SELECT walk_id, CAST(3 AS INT), cur FROM s3
"""
)


@query(oracle=_NODE2VEC_SQL)
def q_kg_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic node2vec walks (graphops.node2vec_walks) on the
    symmetrized co-purchase graph: 2nd-order bias with INTEGER weights
    (return 1 / triangle 4 / out 2 — BFS-leaning), pick = hash mod
    cumulative weight over id-ordered candidates, so every biased
    choice is exact and SQL-replayable. Oracle: the 3 steps unrolled
    as CTEs — adjacency join, previous-edge mark join, integer cumsum
    window, md5-bridge pick."""
    from json_ld_spark.operators.graphops import node2vec_walks

    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.select(
        F.col("u").cast("string").alias("src"),
        F.col("v").cast("string").alias("dst"),
    )
    starts = (
        sym.select(F.col("src").alias("node")).dropDuplicates()
        .filter(F.col("node").cast("long") % 97 == 0)
    )
    return node2vec_walks(
        sym, starts=starts, walk_len=3, seed="n2v", hash_fn="md5",
        w_return=1, w_in=4, w_out=2,
    )


_SKIPGRAM_SQL = _WALK_CTE_SQL + """
SELECT a.node AS center, b.node AS context, CAST(COUNT(*) AS BIGINT) AS n
FROM walk a JOIN walk b
  ON a.walk_id = b.walk_id AND a.step <> b.step
 AND abs(b.step - a.step) <= 2
GROUP BY a.node, b.node
"""


@query(oracle=_SKIPGRAM_SQL)
def q_kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (graphops.skipgram_pairs) over
    the kg_random_walks corpus — the full KG → embedding-training-data
    pipeline: walks by hash-indexed choice, then one walk-keyed
    self-join + count agg for the (center, context, n) pairs word2vec
    consumes. Oracle: the shared walk CTE + the same self-join in
    SQL."""
    from json_ld_spark.operators.graphops import skipgram_pairs

    _utc(spark)
    return skipgram_pairs(q_kg_random_walks(spark, sf_dir), window=2)


_COOCCURRENCE_SQL = """
WITH p AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
), ok AS (
  SELECT g FROM p GROUP BY g HAVING COUNT(*) <= 5
), pf AS (
  SELECT p.g, p.i FROM p JOIN ok USING (g)
)
SELECT a.i AS u, b.i AS v, CAST(COUNT(*) AS BIGINT) AS n_groups
FROM pf a JOIN pf b ON a.g = b.g AND a.i < b.i
GROUP BY a.i, b.i
"""


@query(oracle=_COOCCURRENCE_SQL)
def q_kg_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted co-occurrence graph construction
    (graphops.cooccurrence_graph): part–part edges weighted by shared
    orders, mega-orders (> 5 distinct parts) dropped by the disclosed
    fan-out cap before the quadratic self-join. Oracle: the same
    size-filtered self-join + pair count in SQL."""
    from json_ld_spark.operators.graphops import cooccurrence_graph

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    pairs = li.select(F.col("l_orderkey").alias("doc_id"),
                      F.col("l_partkey").alias("item"))
    out = cooccurrence_graph(pairs, max_group_size=5)
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("n_groups").cast("long").alias("n_groups"),
    )


def _lpa_round(k: int) -> str:
    return f"""
, v{k} AS (
  SELECT e.u, l.label, COUNT(*) AS n
  FROM lpa_und e JOIN l{k - 1} l ON l.node = e.v
  GROUP BY e.u, l.label
), p{k} AS (
  SELECT u AS node, label FROM (
    SELECT u, label,
           ROW_NUMBER() OVER (PARTITION BY u ORDER BY n DESC, label ASC) AS rk
    FROM v{k}
  ) WHERE rk = 1
), l{k} AS (
  SELECT * FROM lpa_sd
  UNION ALL
  SELECT p.node, p.label FROM p{k} p
  WHERE NOT EXISTS (SELECT 1 FROM lpa_sd s WHERE s.node = p.node)
)"""


_LABEL_PROP_SQL = (
    """
WITH lpa_e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), lpa_und AS (
  SELECT u, v FROM lpa_e UNION SELECT v AS u, u AS v FROM lpa_e
), lpa_sd AS (
  SELECT node, 'c' || CAST(node % 3 AS VARCHAR) AS label
  FROM (SELECT DISTINCT u AS node FROM lpa_und)
  WHERE node % 250 = 0
), l0 AS (SELECT * FROM lpa_sd)"""
    + _lpa_round(1) + _lpa_round(2)
    + """
SELECT node, label FROM l2
"""
)


@query(oracle=_LABEL_PROP_SQL)
def q_kg_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation (graphops.label_propagation): every
    250th part seeds one of three classes; two deterministic
    majority-vote rounds (ties to the smaller label, seeds clamped)
    spread types across the co-purchase graph — semi-supervised KG
    type inference. Oracle: both rounds unrolled as
    join→count→ROW_NUMBER-argmax CTEs."""
    from json_ld_spark.operators.graphops import label_propagation

    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .dropDuplicates()
    )
    seeds = nodes.filter(F.col("node") % 250 == 0).select(
        "node",
        F.concat(F.lit("c"), (F.col("node") % 3).cast("string")).alias("label"),
    )
    out = label_propagation(e, seeds, iters=2, src="u", dst="v")
    return out.select(F.col("node").cast("long").alias("node"), "label")


_LINK_PREDICTION_SQL = r"""
WITH ed0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), und AS (
  SELECT u, v FROM ed0 UNION SELECT v AS u, u AS v FROM ed0
), deg AS (
  SELECT u, COUNT(*) AS deg FROM und GROUP BY u
), wed AS (
  SELECT l.v AS a, r.v AS b, l.u AS w
  FROM und l JOIN und r ON l.u = r.u AND l.v < r.v
), pairs AS (
  SELECT a AS u, b AS v, CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(1.0 / ln(d.deg)) AS aa
  FROM wed JOIN deg d ON d.u = wed.w
  GROUP BY a, b
)
SELECT p.u, p.v, p.n_common,
       round(p.n_common / CAST(du.deg + dv.deg - p.n_common AS DOUBLE), 6)
         AS jaccard_r,
       round(p.aa, 6) AS adamic_adar_r
FROM pairs p
JOIN deg du ON du.u = p.u
JOIN deg dv ON dv.u = p.v
WHERE p.n_common >= 2
"""


@query(oracle=_LINK_PREDICTION_SQL)
def q_kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction features (graphops.link_prediction_features) on
    the co-purchase graph: common-neighbor count, Jaccard overlap and
    Adamic–Adar per connected-by-a-wedge pair (n_common >= 2 to bound
    the output) — the classic KG-completion training-label features.
    One middle-keyed wedge self-join + one pair agg + two degree
    joins. Oracle: the same wedge algebra in SQL, floats 6-dp."""
    from json_ld_spark.operators.graphops import link_prediction_features

    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    out = link_prediction_features(e, src="u", dst="v")
    return out.filter(F.col("n_common") >= 2).select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("n_common").cast("long").alias("n_common"),
        "jaccard_r", "adamic_adar_r",
    )


# tie-aware AUC as an integer rank statistic: the oracle's SUM OVER
# (ORDER BY score) is exactly what ordered_cumsum computes without the
# single-partition window on the Spark side
_LINKPRED_AUC_SQL = r"""
WITH ed0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), und AS (
  SELECT u, v FROM ed0 UNION SELECT v AS u, u AS v FROM ed0
), deg AS (
  SELECT u, COUNT(*) AS deg FROM und GROUP BY u
), wed AS (
  SELECT l.v AS a, r.v AS b, l.u AS w
  FROM und l JOIN und r ON l.u = r.u AND l.v < r.v
), pairs AS (
  SELECT a AS u, b AS v, CAST(COUNT(*) AS BIGINT) AS n_common,
         round(SUM(1.0 / ln(d.deg)), 6) AS score
  FROM wed JOIN deg d ON d.u = wed.w
  GROUP BY a, b
  HAVING COUNT(*) >= 2
), lab AS (
  SELECT p.score,
         CASE WHEN e.u IS NULL THEN 0 ELSE 1 END AS pos
  FROM pairs p LEFT JOIN ed0 e ON e.u = p.u AND e.v = p.v
), per_score AS (
  SELECT score,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(1 - pos) AS BIGINT) AS n_neg
  FROM lab GROUP BY score
), cum AS (
  SELECT score, n_pos, n_neg,
         CAST(COALESCE(SUM(n_neg) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below
  FROM per_score
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS u2,
       round(CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT)
             / (2.0 * SUM(n_pos) * SUM(n_neg)), 6) AS auc_r
FROM cum
"""


@query(oracle=_LINKPRED_AUC_SQL)
def q_kg_linkpred_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC-AUC of the Adamic-Adar feature as an edge
    predictor on the co-purchase graph — the standard link-prediction
    eval, computed as an INTEGER rank statistic: group wedge pairs by
    (6-dp) score with their edge/non-edge label counts, take the
    exclusive ordered prefix sum of negatives via
    sampling.ordered_cumsum (range partition + local window + broadcast
    offsets — NO partition-less window), then
    2U = sum_s n_pos(s) * (2*neg_below(s) + n_neg(s)); AUC = U /
    (n_pos * n_neg). Every intermediate is an exact long; the only
    float is the final rounded division. Oracle: the same algebra with
    a plain SUM OVER (ORDER BY score) in DuckDB."""
    from json_ld_spark.operators.graphops import link_prediction_features
    from json_ld_spark.operators.sampling import ordered_cumsum

    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    feats = link_prediction_features(e, src="u", dst="v").filter(
        F.col("n_common") >= 2
    )
    lab = feats.join(
        e.withColumn("__is_edge", F.lit(1)), ["u", "v"], "left"
    ).select(
        F.col("adamic_adar_r").alias("score"),
        F.coalesce(F.col("__is_edge"), F.lit(0)).alias("pos"),
    )
    per_score = lab.groupBy("score").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("n_neg"),
    )
    cum = ordered_cumsum(
        per_score, ["score"], "n_neg", out_col="neg_below", inclusive=False
    )
    return cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (F.lit(2) * F.col("neg_below") + F.col("n_neg"))
        ).cast("long").alias("u2"),
    ).select(
        "n_pos", "n_neg", "u2",
        F.round(
            F.col("u2") / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")), 6
        ).alias("auc_r"),
    )


_TRIANGLES_SQL = r"""
WITH ed AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), tri AS (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM ed e1
  JOIN ed e2 ON e2.u = e1.v
  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node AS part_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y AS node FROM tri
  UNION ALL SELECT z AS node FROM tri
)
GROUP BY node
"""


@query(oracle=_TRIANGLES_SQL)
def q_kg_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the co-purchase graph via
    degree-ordered edge orientation (graphops.triangle_count) — wedge
    fan-out bounded by arboricity, not max degree. The oracle counts
    each x<y<z triangle once from the canonical u<v edge list (an
    orientation-independent total, so both formulations must agree
    exactly)."""
    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    out = gops.triangle_count(e, src="u", dst="v")
    return out.select(
        F.col("node").cast("long").alias("part_id"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    )


# Depth-bounded reachability: the recursive UNION dedups (node, depth)
# states, MIN(depth) = shortest distance within the bound — exactly the
# BFS first-visit depth the Spark frontier loop records.
_KHOP_SQL = r"""
WITH RECURSIVE ed AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), sym AS (
  SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed
), seeds AS (
  SELECT p_partkey AS node FROM part WHERE p_partkey <= 5
), reach(node, depth) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT s.v, r.depth + 1 FROM reach r JOIN sym s ON s.u = r.node
  WHERE r.depth < 3
)
SELECT node AS part_id, CAST(MIN(depth) AS BIGINT) AS depth
FROM reach GROUP BY node
"""


@query(oracle=_KHOP_SQL)
def q_kg_khop_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop neighborhood materialization (graphops.k_hop): BFS depths
    <= 3 from seed parts (p_partkey <= 5) over the undirected
    co-purchase graph — frontier-deduped per hop, so per-hop work is
    |frontier| x degree. Oracle: bounded recursive CTE + MIN(depth)."""
    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).dropDuplicates()
    seeds = (
        _read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 5)
        .select(F.col("p_partkey").alias("node"))
    )
    out = gops.k_hop(sym, seeds, k=3, src="u", dst="v")
    return out.select(
        F.col("node").cast("long").alias("part_id"),
        F.col("depth").cast("long").alias("depth"),
    )


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain mirroring graphops.pagerank
    step for step. Float constants are inlined via repr() so both
    engines evaluate the identical doubles ((1-d) is pre-computed the
    way the Python side computes it); the only cross-engine divergence
    is SUM order (~1e-16), absorbed by the 6-dp rounding."""
    d = repr(damping)
    omd = repr(1.0 - damping)
    parts = [
        r"""
WITH e AS (
  SELECT DISTINCT 's' || l_suppkey AS u, 'c' || o_custkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
nodes AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
outdeg AS (SELECT u, COUNT(*) AS outd FROM e GROUP BY u),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
d{i} AS (SELECT COALESCE(SUM(r.rank), 0.0) AS dang
         FROM r{i} r LEFT JOIN outdeg od ON r.node = od.u
         WHERE od.u IS NULL),
i{i} AS (SELECT e.v AS node, SUM(r.rank / od.outd) AS inflow
         FROM r{i} r JOIN outdeg od ON r.node = od.u JOIN e ON e.u = od.u
         GROUP BY e.v),
r{i + 1} AS (SELECT nodes.node,
            {omd} / (SELECT n FROM nn)
            + {d} * (COALESCE(i.inflow, 0.0)
                     + (SELECT dang FROM d{i}) / (SELECT n FROM nn)) AS rank
         FROM nodes LEFT JOIN i{i} i ON nodes.node = i.node)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank_r FROM r{iters}")
    return "".join(parts)


_PAGERANK_SQL = _pagerank_sql(iters=5, damping=0.85)


@query(oracle=_PAGERANK_SQL)
def q_kg_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity salience: 5 fixed PageRank power iterations
    (graphops.pagerank) on the directed supplier -> customer graph
    (supplier supplied an order of that customer). String node ids
    ('s<suppkey>' / 'c<custkey>') keep the two key spaces disjoint.
    Customers are all dangling (no out-edges), so the dangling-mass
    redistribution path is exercised every iteration. Oracle: the same
    five iterations unrolled as SQL CTEs with the identical float
    constants inlined; ranks rounded to 6 dp on both sides (the only
    cross-engine divergence is summation order, ~1e-16)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .dropDuplicates()
    )
    pr = gops.pagerank(e, iters=5, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank_r"))


def _ppr_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled personalized-PageRank CTE chain mirroring
    graphops.personalized_pagerank step for step: the restart vector
    is uniform over the seed set, and both the teleport and the
    dangling mass are weighted by it."""
    d = repr(damping)
    omd = repr(1.0 - damping)
    parts = [
        r"""
WITH e AS (
  SELECT DISTINCT 's' || l_suppkey AS u, 'c' || o_custkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
sd AS (SELECT DISTINCT 's' || l_suppkey AS node FROM lineitem
       WHERE l_suppkey % 10 = 0),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e
          UNION SELECT node FROM sd),
outdeg AS (SELECT u, COUNT(*) AS outd FROM e GROUP BY u),
kk AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM sd),
rst AS (SELECT n.node,
               CASE WHEN s.node IS NOT NULL THEN 1.0 / (SELECT k FROM kk)
                    ELSE 0.0 END AS restart
        FROM nodes n LEFT JOIN sd s ON n.node = s.node),
r0 AS (SELECT node, restart AS rank FROM rst)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
d{i} AS (SELECT COALESCE(SUM(r.rank), 0.0) AS dang
         FROM r{i} r LEFT JOIN outdeg od ON r.node = od.u
         WHERE od.u IS NULL),
i{i} AS (SELECT e.v AS node, SUM(r.rank / od.outd) AS inflow
         FROM r{i} r JOIN outdeg od ON r.node = od.u JOIN e ON e.u = od.u
         GROUP BY e.v),
r{i + 1} AS (SELECT rst.node,
            {omd} * rst.restart
            + {d} * (COALESCE(i.inflow, 0.0)
                     + (SELECT dang FROM d{i}) * rst.restart) AS rank
         FROM rst LEFT JOIN i{i} i ON rst.node = i.node)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank_r FROM r{iters}")
    return "".join(parts)


_PPR_SQL = _ppr_sql(iters=5, damping=0.85)


@query(oracle=_PPR_SQL)
def q_kg_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (graphops.personalized_pagerank): 5
    random-walk-with-restart iterations on the supplier -> customer
    graph, restarting at every 10th supplier — related-entity salience
    relative to a seed set (teleport AND dangling mass return to the
    seeds, not to all nodes). Oracle: the same 5 iterations unrolled
    as SQL CTEs over the seed restart vector, 6-dp rounded."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .dropDuplicates()
    )
    seeds = (
        li.filter(F.col("l_suppkey") % 10 == 0)
        .select(F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("node"))
        .dropDuplicates()
    )
    pr = gops.personalized_pagerank(e, seeds, damping=0.85, iters=5)
    return pr.select("node", F.round("rank", 6).alias("rank_r"))


def _ktruss_sql(k: int = 7, rounds: int = 4) -> str:
    """Unrolled k-truss peel mirroring graphops.k_truss round for
    round: id-ordered triangle enumeration (a<b<c via two joins + an
    EXISTS closing edge), 3-projection support count, HAVING filter.
    MATERIALIZED everywhere — each level is referenced 4x and DuckDB
    would otherwise inline the chain exponentially (the _hits_sql
    lesson)."""
    parts = [
        r"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
)"""
    ]
    for i in range(rounds):
        parts.append(
            f""",
tri{i} AS MATERIALIZED (
  SELECT e1.a, e1.b, e2.c
  FROM e{i} e1
  JOIN (SELECT a AS b, b AS c FROM e{i}) e2 USING (b)
  WHERE EXISTS (SELECT 1 FROM e{i} e3 WHERE e3.a = e1.a AND e3.b = e2.c)
),
sup{i} AS MATERIALIZED (
  SELECT x, y, COUNT(*) AS support FROM (
    SELECT a AS x, b AS y FROM tri{i}
    UNION ALL SELECT b AS x, c AS y FROM tri{i}
    UNION ALL SELECT a AS x, c AS y FROM tri{i}
  ) GROUP BY x, y HAVING COUNT(*) >= {k - 2}
),
e{i + 1} AS MATERIALIZED (SELECT x AS a, y AS b FROM sup{i})"""
        )
    parts.append(
        f"""
SELECT CAST(x AS BIGINT) AS src, CAST(y AS BIGINT) AS dst,
       CAST(support AS BIGINT) AS support FROM sup{rounds - 1}"""
    )
    return "".join(parts)


_KTRUSS_SQL = _ktruss_sql(k=7, rounds=4)


@query(oracle=_KTRUSS_SQL)
def q_kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss peeling (graphops.k_truss, k=7, 4 synchronous rounds)
    on the part co-purchase graph: keep edges in >= 5 surviving
    triangles, re-counting after each peel — the cohesive-subgraph
    refinement of kg_kcore (truss membership is per-EDGE). Fixed
    rounds on both engines (the peel is idempotent once the cascade
    ends; sf0.01/0.1 converge by round 4, the sparser sf0.001 keeps
    its honest bounded-peel semantics). Oracle: the 4 rounds unrolled
    as MATERIALIZED CTEs (triangle enumeration + HAVING filter)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .dropDuplicates()
    )
    kt = gops.k_truss(ed, k=7, rounds=4)
    return kt.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "support",
    )


def _betweenness_sql(max_hops: int = 3) -> str:
    """Unrolled sampled-Brandes: forward sigma levels l0..lk (left-anti
    == NOT EXISTS against the cumulative assigned set), backward
    dependency levels dk..d0 mirroring sigma/sw * (1 + delta)
    association-for-association; 6-dp sum round."""
    parts = [
        r"""
WITH ed AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), sym AS MATERIALIZED (
  SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed
), seeds AS MATERIALIZED (
  SELECT p_partkey AS s FROM part WHERE p_partkey % 199 = 3
),
l0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM seeds),
a0 AS MATERIALIZED (SELECT s, v FROM l0)"""
    ]
    for d in range(1, max_hops + 1):
        parts.append(
            f""",
l{d} AS MATERIALIZED (
  SELECT p.s, e.v AS v, SUM(p.sigma) AS sigma
  FROM l{d - 1} p JOIN sym e ON e.u = p.v
  WHERE NOT EXISTS (SELECT 1 FROM a{d - 1} x WHERE x.s = p.s AND x.v = e.v)
  GROUP BY p.s, e.v
),
a{d} AS MATERIALIZED (SELECT s, v FROM a{d - 1} UNION ALL SELECT s, v FROM l{d})"""
        )
    parts.append(
        f""",
d{max_hops} AS MATERIALIZED (SELECT s, v, 0.0 AS delta FROM l{max_hops})"""
    )
    for d in range(max_hops - 1, -1, -1):
        parts.append(
            f""",
d{d} AS MATERIALIZED (
  SELECT p.s, p.v, COALESCE(q.delta, 0.0) AS delta
  FROM l{d} p LEFT JOIN (
    SELECT p2.s, p2.v,
           SUM(p2.sigma / c.sigma * (1.0 + c.delta)) AS delta
    FROM l{d} p2
    JOIN sym e ON e.u = p2.v
    JOIN (SELECT l.s, l.v, l.sigma, dd.delta
          FROM l{d + 1} l JOIN d{d + 1} dd ON l.s = dd.s AND l.v = dd.v) c
      ON c.s = p2.s AND c.v = e.v
    GROUP BY p2.s, p2.v
  ) q ON q.s = p.s AND q.v = p.v
)"""
        )
    union = " UNION ALL ".join(
        f"SELECT s, v, delta FROM d{d}" for d in range(max_hops + 1)
    )
    parts.append(
        f"""
SELECT CAST(v AS BIGINT) AS node, round(SUM(delta), 6) AS betweenness_r
FROM ({union}) WHERE v <> s GROUP BY v"""
    )
    return "".join(parts)


_BETWEENNESS_SQL = _betweenness_sql(max_hops=3)


@query(oracle=_BETWEENNESS_SQL)
def q_kg_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled hop-bounded betweenness centrality (graphops.
    betweenness_sampled, Brandes forward/backward from a deterministic
    seed sample, paths <= 3 hops) on the co-purchase graph — the
    bridging-entity metric, computed the way it is computed at scale
    (source sampling; exact all-sources Brandes is O(V*E)). Oracle:
    the forward sigma levels and backward dependency levels unrolled
    as MATERIALIZED CTEs, 6-dp rounded."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .dropDuplicates()
    )
    seeds = (
        _read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 199 == 3)
        .select(F.col("p_partkey").alias("node"))
    )
    out = gops.betweenness_sampled(ed, seeds, max_hops=3)
    return out.select(F.col("node").cast("long").alias("node"), "betweenness_r")


def _harmonic_sql(max_hops: int = 3) -> str:
    """Unrolled sampled harmonic closeness: the _betweenness_sql
    forward levels without sigma; 1/d weights inlined via repr()."""
    parts = [
        r"""
WITH ed AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), sym AS MATERIALIZED (
  SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed
), seeds AS MATERIALIZED (
  SELECT p_partkey AS s FROM part WHERE p_partkey % 199 = 3
),
l0 AS MATERIALIZED (SELECT s, s AS v FROM seeds),
a0 AS MATERIALIZED (SELECT s, v FROM l0)"""
    ]
    for d in range(1, max_hops + 1):
        parts.append(
            f""",
l{d} AS MATERIALIZED (
  SELECT DISTINCT p.s, e.v AS v
  FROM l{d - 1} p JOIN sym e ON e.u = p.v
  WHERE NOT EXISTS (SELECT 1 FROM a{d - 1} x WHERE x.s = p.s AND x.v = e.v)
),
a{d} AS MATERIALIZED (SELECT s, v FROM a{d - 1} UNION ALL SELECT s, v FROM l{d})"""
        )
    union = " UNION ALL ".join(
        f"SELECT v, {repr(1.0 / d)} AS c FROM l{d}" for d in range(1, max_hops + 1)
    )
    parts.append(
        f"""
SELECT CAST(v AS BIGINT) AS node, round(SUM(c), 6) AS harmonic_r
FROM ({union}) GROUP BY v"""
    )
    return "".join(parts)


_HARMONIC_SQL = _harmonic_sql(max_hops=3)


@query(oracle=_HARMONIC_SQL)
def q_kg_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic closeness (graphops.harmonic_closeness_sampled,
    Boldi-Vigna axiomatics; Eppstein-Wang sampling): sum of 1/d(s, v)
    from the betweenness seed sample over <= 3-hop shortest paths on
    the co-purchase graph — the disconnection-robust closeness.
    Oracle: the forward BFS levels unrolled (the betweenness CTEs
    minus sigma) with literal 1/d weights."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .dropDuplicates()
    )
    seeds = (
        _read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") % 199 == 3)
        .select(F.col("p_partkey").alias("node"))
    )
    out = gops.harmonic_closeness_sampled(ed, seeds, max_hops=3)
    return out.select(F.col("node").cast("long").alias("node"), "harmonic_r")


def _hyperball_sql(max_t: int = 3, p: int = 6) -> str:
    """HyperBall replay: per-node HLL registers (integer md5-bridge
    math, the sketch_hll recipe at m=2^p), max_t unrolled merge rounds
    (register-wise MAX over the symmetric edge join), per-node
    estimator + corpus sums per radius. Every register value is
    integer; MATERIALIZED hints keep DuckDB from exponentially
    inlining the multiply-referenced round CTEs."""
    from json_ld_spark.operators.sketches import _alpha

    m = 1 << p
    q = 32 - p
    num = repr(float(_alpha(m)) * float(m * m) * float(1 << 32))
    parts = [f"""WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), e AS MATERIALIZED (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
), r0 AS MATERIALIZED (
  SELECT node, hv // {1 << q} AS bucket,
         CASE WHEN hv % {1 << q} = 0 THEN {q + 1}
              ELSE {q + 1} - length(bin(hv % {1 << q})) END AS rho
  FROM (
    SELECT node, ('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 8))::BIGINT AS hv
    FROM (SELECT DISTINCT u AS node FROM e)
  )
)"""]
    for t in range(1, max_t + 1):
        parts.append(f"""r{t} AS MATERIALIZED (
  SELECT node, bucket, MAX(rho) AS rho FROM (
    SELECT node, bucket, rho FROM r{t - 1}
    UNION ALL
    SELECT e.v AS node, r.bucket, r.rho FROM e JOIN r{t - 1} r ON e.u = r.node
  ) GROUP BY node, bucket
)""")
    for t in range(max_t + 1):
        parts.append(f"""nf{t} AS (
  SELECT CAST({t} AS BIGINT) AS t,
         CAST(SUM(s_scaled) AS BIGINT) AS sum_s_scaled,
         CAST(SUM(n_zero) AS BIGINT) AS sum_n_zero,
         round(SUM(CASE WHEN {num} / s_scaled <= {float(2.5 * m)!r} AND n_zero > 0
                        THEN {float(m)!r} * ln({float(m)!r} / n_zero)
                        ELSE {num} / s_scaled END), 4) AS npairs_r
  FROM (
    SELECT CAST({m} - COUNT(*) AS BIGINT) AS n_zero,
           CAST(SUM(1::BIGINT << (32 - rho))
                + ({m} - COUNT(*)) * 4294967296 AS BIGINT) AS s_scaled
    FROM r{t} GROUP BY node
  )
)""")
    union = "\nUNION ALL ".join(f"SELECT * FROM nf{t}" for t in range(max_t + 1))
    return ",\n".join(parts) + "\n" + union


_HYPERBALL_SQL = _hyperball_sql()


@query(oracle=_HYPERBALL_SQL)
def q_kg_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall neighbourhood function (graphops.hyperball, Boldi &
    Vigna 2013) over the co-purchase graph: one HLL counter per node
    (m=64 md5-bridge registers), three merge rounds — N(t) rows for
    t=0..3, from which effective diameter falls out. The two integer
    columns (summed scaled harmonic mass + zero-register count) are
    exact order-independent aggregates; the estimate column is 4-dp
    rounded. Oracle: registers + 3 merge rounds + per-node estimator
    unrolled in SQL (integer register math end-to-end)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .dropDuplicates()
    )
    return gops.hyperball(ed, max_t=3, p=6)


_GRAPH_METRICS_SQL = r"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), deg AS MATERIALIZED (
  SELECT n, COUNT(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n
), tri AS MATERIALIZED (
  SELECT COUNT(*) AS n_tri
  FROM e e1 JOIN (SELECT a AS b, b AS c FROM e) e2 USING (b)
  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.c)
), counts AS MATERIALIZED (
  SELECT (SELECT COUNT(*) FROM e) AS n_edges,
         (SELECT COUNT(*) FROM deg) AS n_nodes,
         (SELECT SUM(d * (d - 1)) FROM deg) AS wedges2,
         (SELECT n_tri FROM tri) AS n_tri
), sym AS MATERIALIZED (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
), dd AS MATERIALIZED (
  SELECT da.d AS dx, db.d AS dy
  FROM sym JOIN deg da ON sym.a = da.n JOIN deg db ON sym.b = db.n
), ass AS MATERIALIZED (
  SELECT COUNT(*) AS m, SUM(dx) AS sx, SUM(dy) AS sy,
         SUM(dx * dy) AS sxy, SUM(dx * dx) AS sxx, SUM(dy * dy) AS syy
  FROM dd
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       round(2.0 * n_edges / n_nodes, 6) AS avg_degree_r,
       round(6.0 * n_tri / wedges2, 6) AS clustering_r,
       round((m * sxy - sx * sy)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * CAST(m * syy - sy * sy AS DOUBLE)), 6)
         AS assortativity_r
FROM counts, ass
"""


@query(oracle=_GRAPH_METRICS_SQL)
def q_kg_graph_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural profile (graphops.graph_metrics) of the
    co-purchase graph: node/edge counts, mean degree, global
    clustering coefficient (3 x triangles / wedges) and degree
    assortativity (Newman 2002 Pearson r over endpoint degrees) —
    every statistic an exact integer sum until the final divisions.
    Oracle: the same integer aggregates in DuckDB, 6-dp rounded."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .dropDuplicates()
    )
    return gops.graph_metrics(ed)


def _wpagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    """Unrolled WEIGHTED power iteration mirroring
    graphops.weighted_pagerank: contributions rank * (w / wdeg),
    dangling = nodes with no out-weight; constants via repr() like
    _pagerank_sql, 6-dp round."""
    d = repr(damping)
    omd = repr(1.0 - damping)
    parts = [
        r"""
WITH e AS MATERIALIZED (
  SELECT 's' || l_suppkey AS u, 'c' || o_custkey AS v, COUNT(*) AS w
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1, 2
),
nodes AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
wdeg AS MATERIALIZED (SELECT u, SUM(w) AS wd FROM e GROUP BY u),
frac AS MATERIALIZED (
  SELECT e.u, e.v, e.w / wd.wd AS frac FROM e JOIN wdeg wd ON e.u = wd.u
),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
d{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), 0.0) AS dang
         FROM r{i} r LEFT JOIN wdeg od ON r.node = od.u
         WHERE od.u IS NULL),
i{i} AS MATERIALIZED (SELECT f.v AS node, SUM(r.rank * f.frac) AS inflow
         FROM r{i} r JOIN frac f ON r.node = f.u
         GROUP BY f.v),
r{i + 1} AS MATERIALIZED (SELECT nodes.node,
            {omd} / (SELECT n FROM nn)
            + {d} * (COALESCE(i.inflow, 0.0)
                     + (SELECT dang FROM d{i}) / (SELECT n FROM nn)) AS rank
         FROM nodes LEFT JOIN i{i} i ON nodes.node = i.node)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank_r FROM r{iters}")
    return "".join(parts)


_WPAGERANK_SQL = _wpagerank_sql(iters=5, damping=0.85)


@query(oracle=_WPAGERANK_SQL)
def q_kg_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (graphops.weighted_pagerank): supplier ->
    customer edges weighted by how many lineitems flowed on them —
    contribution splits proportional to interaction volume instead of
    uniformly. Customers are all dangling, so the weighted dangling
    path runs every iteration. Oracle: the 5 iterations unrolled with
    a w/wdeg fraction table (integer weights -> exact ratios; 6-dp)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    e = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pr = gops.weighted_pagerank(e, iters=5, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank_r"))


def _hits_sql(iters: int = 4) -> str:
    """Unrolled HITS CTE chain mirroring graphops.hits half-step for
    half-step (auth update + L1 normalize, then hub update + L1
    normalize; zero-sum guarded to 1.0 exactly like the Python
    scalar's `or 1.0`). 6-dp round absorbs SUM-order drift.
    MATERIALIZED hints are load-bearing: DuckDB inlines multiply-
    referenced CTEs, and this chain references each level ~4 times —
    un-hinted, the 4-level unroll expands to 4^4 parquet re-scans and
    dies on file descriptors."""
    parts = [
        r"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 's' || l_suppkey AS u, 'c' || o_custkey AS v
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  UNION
  SELECT DISTINCT 'c' || c_custkey AS u, 'n' || c_nationkey AS v FROM customer
),
nodes AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v AS node FROM e),
v0 AS MATERIALIZED (SELECT node, 1.0 AS hub, 1.0 AS auth FROM nodes)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
ar{i} AS MATERIALIZED (SELECT e.v AS node, SUM(h.hub) AS araw
          FROM v{i} h JOIN e ON e.u = h.node GROUP BY e.v),
ha{i} AS MATERIALIZED (SELECT n.node, n.hub, COALESCE(a.araw, 0.0) AS araw
          FROM v{i} n LEFT JOIN ar{i} a ON n.node = a.node),
sa{i} AS MATERIALIZED (SELECT CASE WHEN COALESCE(SUM(araw), 0.0) = 0.0 THEN 1.0
                      ELSE SUM(araw) END AS s FROM ha{i}),
hf{i} AS MATERIALIZED (SELECT node, hub, araw / (SELECT s FROM sa{i}) AS auth
          FROM ha{i}),
hr{i} AS MATERIALIZED (SELECT e.u AS node, SUM(h.auth) AS hraw
          FROM hf{i} h JOIN e ON e.v = h.node GROUP BY e.u),
hb{i} AS MATERIALIZED (SELECT n.node, COALESCE(r.hraw, 0.0) AS hraw, n.auth
          FROM hf{i} n LEFT JOIN hr{i} r ON n.node = r.node),
sh{i} AS MATERIALIZED (SELECT CASE WHEN COALESCE(SUM(hraw), 0.0) = 0.0 THEN 1.0
                      ELSE SUM(hraw) END AS s FROM hb{i}),
v{i + 1} AS MATERIALIZED (SELECT node, hraw / (SELECT s FROM sh{i}) AS hub, auth
          FROM hb{i})"""
        )
    parts.append(
        f"\nSELECT node, round(hub, 6) AS hub_r, round(auth, 6) AS auth_r FROM v{iters}"
    )
    return "".join(parts)


_HITS_SQL = _hits_sql(iters=4)


@query(oracle=_HITS_SQL)
def q_kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (graphops.hits, Kleinberg 1999): 4
    L1-normalized update rounds on a two-level entity DAG — supplier
    -> customer (supplied an order) unioned with customer -> nation
    (residency). Suppliers score as pure hubs, nations as pure
    authorities, customers as both, so every coalesce path (no
    in-edges / no out-edges) is exercised. Oracle: the same 4 rounds
    unrolled as SQL CTEs; 6-dp round absorbs SUM-order drift (the
    pagerank recipe)."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    sc_e = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    cn_e = c.select(
        F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    # no per-side dropDuplicates: hits() canonicalizes with ONE dedup
    # shuffle over the union — per-side dedups would add two more
    hv = gops.hits(sc_e.unionByName(cn_e), iters=4)
    return hv.select(
        "node", F.round("hub", 6).alias("hub_r"), F.round("auth", 6).alias("auth_r")
    )


# Hop-bounded Bellman-Ford == depth-bounded recursive relaxation: the
# recursive UNION dedups (node, dist, hops) states; MIN(dist) per node
# over <= 3-edge paths is exactly what 3 frontier rounds compute.
_WPATHS_SQL = r"""
WITH RECURSIVE ed AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), sym AS (
  SELECT u, v FROM ed UNION SELECT v AS u, u AS v FROM ed
), wed AS (
  SELECT u, v, 1 + (u + v) % 5 AS w FROM sym
), seeds AS (
  SELECT p_partkey AS node FROM part WHERE p_partkey <= 5
), reach(node, dist, hops) AS (
  SELECT node, 0, 0 FROM seeds
  UNION
  SELECT e.v, r.dist + e.w, r.hops + 1 FROM reach r JOIN wed e ON e.u = r.node
  WHERE r.hops < 3
)
SELECT CAST(node AS BIGINT) AS node, CAST(MIN(dist) AS BIGINT) AS dist
FROM reach GROUP BY node
"""


@query(oracle=_WPATHS_SQL)
def q_kg_weighted_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest paths (graphops.shortest_paths):
    minimum-total-weight distance over paths of <= 3 edges from the
    seed parts (p_partkey <= 5) on the symmetric co-purchase graph,
    integer edge weight 1 + (u+v) % 5 — every distance integer-exact.
    Frontier Bellman-Ford: one frontier-only equi-join + groupBy MIN
    + full-outer merge per round, lazily checkpointed, the
    improved-count probe is each round's single job. Oracle: DuckDB
    recursive CTE with a hop counter, MIN(dist) per node."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    ed = (
        a.join(b, "ok")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .dropDuplicates()
    )
    sym = ed.unionByName(ed.select(F.col("v").alias("u"), F.col("u").alias("v")))
    wed = sym.select(
        F.col("u").alias("src"),
        F.col("v").alias("dst"),
        (F.lit(1) + (F.col("u") + F.col("v")) % 5).alias("w"),
    )
    seeds = (
        _read(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 5)
        .select(F.col("p_partkey").alias("node"))
    )
    sp = gops.shortest_paths(wed, seeds, max_hops=3)
    return sp.select(F.col("node").cast("long").alias("node"), "dist")


_BGP_OPTIONAL_SQL = _TRIPLES_CTE + f"""
SELECT DISTINCT r.subj AS turn, i.obj AS idx, tl.obj AS tool
FROM triples r
JOIN triples i ON i.subj = r.subj AND i.pred = '{_V}turnIndex'
LEFT JOIN triples tl ON tl.subj = r.subj AND tl.pred = '{_V}tool'
WHERE r.pred = '{_V}role' AND r.obj = 'assistant'
"""


@query(oracle=_BGP_OPTIONAL_SQL)
def q_kg_bgp_optional_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with an OPTIONAL group (SPARQL left-join semantics): every
    assistant turn with its index, plus its tool IF a tool triple
    exists (tool is emitted only for doc_id % 7 == 3 turns, so the
    NULL and bound arms are both populated). Oracle: LEFT JOIN."""
    from json_ld_spark.operators.bgp import bgp_query

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_query(
        triples,
        [
            ("?turn", _V + "role", "assistant"),
            ("?turn", _V + "turnIndex", "?idx"),
        ],
        optional=[[("?turn", _V + "tool", "?tool")]],
    )
    return out.select("turn", "idx", "tool")


_BGP_UNION_SQL = _TRIPLES_CTE + f"""
SELECT r.subj AS turn, CAST(NULL AS VARCHAR) AS tool
FROM triples r WHERE r.pred = '{_V}role' AND r.obj = 'user'
UNION
SELECT tl.subj AS turn, tl.obj AS tool
FROM triples tl WHERE tl.pred = '{_V}tool'
"""


@query(oracle=_BGP_UNION_SQL)
def q_kg_bgp_union_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP UNION over heterogeneous branches (user turns; tool-using
    turns binding an extra ?tool var — NULL in the first branch,
    SPARQL unbound semantics). Oracle: SQL UNION of the two branch
    selects."""
    from json_ld_spark.operators.bgp import bgp_union

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_union(
        triples,
        [
            [("?turn", _V + "role", "user")],
            [("?turn", _V + "tool", "?tool")],
        ],
    )
    return out.select("turn", "tool")


# Turn-window adjacency: the same conv-partitioned LEAD window in SQL.
_ADJACENCY_SQL = _BASE_CTE + f"""
, adj AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
)
SELECT CAST(NULL AS VARCHAR) AS graph,
       '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
       '{_V}nextTurn' AS pred,
       'iri' AS obj_kind,
       '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR) AS obj,
       CAST(NULL AS VARCHAR) AS datatype,
       CAST(NULL AS VARCHAR) AS lang
FROM adj WHERE nxt IS NOT NULL
"""


@query(oracle=_ADJACENCY_SQL)
def q_kg_turn_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn-window adjacency quads (north-star
    '(conv_id, turn_idx) ordering' materialized into the KG): one
    conv-partitioned lead() window, whole-stage codegen, no Python.
    Oracle: the same LEAD window in DuckDB."""
    from json_ld_spark.operators.native import transcript_adjacency_native

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    return transcript_adjacency_native(t, with_doc_id=False).select(*TRIPLE_COLS)


_TURN_KHOP_SQL = "WITH RECURSIVE " + _BASE_CTE.strip()[len("WITH "):] + f"""
, adj AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
), edges AS (
  SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS u,
         '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR) AS v
  FROM adj WHERE nxt IS NOT NULL
), seeds AS (
  SELECT DISTINCT '{_CB}' || conv_id || '/turn/0' AS node
  FROM base WHERE turn_idx = 0
), reach(node, depth) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.v, r.depth + 1 FROM reach r JOIN edges e ON e.u = r.node
  WHERE r.depth < 5
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS depth
FROM reach GROUP BY node
"""


@query(oracle=_TURN_KHOP_SQL)
def q_kg_turn_chain_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop BFS (graphops.k_hop) over the nextTurn chain graph from
    every conversation's turn 0: depth d must equal turn index d for
    d <= k — BFS on 16-deep directed chains, the north-star turn-window
    traversal as a graph query. Oracle: bounded recursive CTE over the
    SQL-replayed adjacency edges."""
    from json_ld_spark.operators.graphops import k_hop
    from json_ld_spark.operators.native import transcript_adjacency_native

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    adj = transcript_adjacency_native(t, with_doc_id=False)
    seeds = (
        t.filter(F.col("turn_idx") == 0)
        .select(
            F.concat(
                F.lit("https://example.org/conv/"), F.col("conv_id"), F.lit("/turn/0")
            ).alias("node")
        )
    )
    out = k_hop(adj, seeds, k=5, src="subj", dst="obj")
    return out.select("node", F.col("depth").cast("long").alias("depth"))


# VALUES + MINUS: role IN-list (the inline binding table) and
# tool IS NULL (no tool triple exists for the turn ↔ the MINUS group
# finds no compatible solution on the shared ?turn variable).
_BGP_VALUES_MINUS_SQL = _BASE_CTE + f"""
SELECT DISTINCT
  '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS turn,
  role AS r
FROM base
WHERE role IN ('user', 'assistant') AND tool IS NULL
"""


@query(oracle=_BGP_VALUES_MINUS_SQL)
def q_kg_bgp_values_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a VALUES inline-binding block and a MINUS group
    (SPARQL 1.1 algebra): speaker turns restricted to the roles
    {user, assistant} via VALUES (broadcast inline table), minus every
    turn that carries a tool triple (null-unsafe LEFT ANTI join on the
    shared variable). Oracle: IN-list filter + tool IS NULL over the
    replayed transcript table."""
    from json_ld_spark.operators.bgp import bgp_query

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_query(
        triples,
        [("?turn", _V + "role", "?r")],
        values={"?r": ["user", "assistant"]},
        minus=[[("?turn", _V + "tool", "?tl")]],
    )
    return out.select("turn", "r")


# CONSTRUCT respondsTo: consecutive (user → assistant) turn pairs via
# the LEAD adjacency, template-instantiated as reversed edges.
_CONSTRUCT_RESPONDS_SQL = _BASE_CTE + f"""
, adj AS (
  SELECT conv_id, turn_idx, role,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt,
         LEAD(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt_role
  FROM base
)
SELECT DISTINCT
  '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR) AS subj,
  '{_V}respondsTo' AS pred,
  '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS obj
FROM adj
WHERE role = 'user' AND nxt_role = 'assistant'
"""


@query(oracle=_CONSTRUCT_RESPONDS_SQL)
def q_kg_construct_responds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT (bgp_construct): derive new KG edges from a
    binding template — ``?a respondsTo ?u`` wherever a user turn ?u is
    immediately followed (nextTurn) by an assistant turn ?a. The WHERE
    block joins the adjacency relation with two role patterns; the
    template instantiation is a projection and the result is a new
    (subj, pred, obj) triple table ready to union into the KG. Oracle:
    the consecutive-turn self-join with role predicates in SQL."""
    from json_ld_spark.operators.bgp import bgp_construct
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    allt = (
        transcript_triples_native(t, with_doc_id=False)
        .select("subj", "pred", "obj")
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False).select(
                "subj", "pred", "obj"
            )
        )
    )
    out = bgp_construct(
        allt,
        [
            ("?u", _V + "role", "user"),
            ("?u", _V + "nextTurn", "?a"),
            ("?a", _V + "role", "assistant"),
        ],
        template=[("?a", _V + "respondsTo", "?u")],
    )
    return out.select("subj", "pred", "obj")


# nextTurn+ closure: the chain edges connect consecutive present turns
# in (conv_id, turn_idx) order, so the transitive closure is exactly
# every ordered pair of turns within a conversation — a closed-form
# self-join, value-exact against the Spark fixpoint loop.
_PATH_CLOSURE_SQL = _BASE_CTE + f"""
SELECT DISTINCT
  '{_CB}' || a.conv_id || '/turn/' || CAST(a.turn_idx AS VARCHAR) AS s,
  '{_CB}' || b.conv_id || '/turn/' || CAST(b.turn_idx AS VARCHAR) AS o
FROM base a JOIN base b
  ON a.conv_id = b.conv_id AND a.turn_idx < b.turn_idx
"""


@query(oracle=_PATH_CLOSURE_SQL)
def q_kg_path_turn_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 property path ``nextTurn+`` (operators/paths.py):
    semi-naive transitive closure over the per-conversation turn-chain
    edges. Turn chains are linear and complete, so the closure equals
    every ordered (earlier, later) turn pair within a conversation —
    which is the closed-form SQL oracle (the Spark side still runs the
    real fixpoint loop; the analytic form just makes it value-exact)."""
    from json_ld_spark.operators.native import transcript_adjacency_native
    from json_ld_spark.operators.paths import path_pairs

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    adj = transcript_adjacency_native(t, with_doc_id=False)
    out = path_pairs(adj, f"<{_V}nextTurn>+")
    return out.select("s", "o")


# ^conversation/nextTurn/(role|tool): conversation IRI joined through
# its member turns to the role / tool literal of each turn's successor.
_PATH_NEXT_SPEAKER_SQL = _BASE_CTE + f"""
, adj AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
)
SELECT DISTINCT '{_CB}' || a.conv_id AS s, b.role AS o
FROM adj a JOIN base b ON b.conv_id = a.conv_id AND b.turn_idx = a.nxt
UNION
SELECT DISTINCT '{_CB}' || a.conv_id AS s, b.tool AS o
FROM adj a JOIN base b ON b.conv_id = a.conv_id AND b.turn_idx = a.nxt
WHERE b.tool IS NOT NULL
"""


@query(oracle=_PATH_NEXT_SPEAKER_SQL)
def q_kg_path_next_speaker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite property path ``^conversation/nextTurn/(role|tool)``:
    inverse step (conversation → its turns), sequence joins on the
    midpoints, and an alternative over two literal-valued predicates —
    'which speaker roles / tools ever FOLLOW a turn of this
    conversation'. Exercises inv + seq + alt of the path algebra in one
    declarative plan (every atomic step is a pushed pred-filter scan).
    Oracle: the same relation as plain SQL joins over the replayed
    transcript table."""
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )
    from json_ld_spark.operators.paths import path_pairs

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t, with_doc_id=False).select(
        "subj", "pred", "obj"
    )
    adj = transcript_adjacency_native(t, with_doc_id=False).select(
        "subj", "pred", "obj"
    )
    allt = triples.unionByName(adj)
    out = path_pairs(
        allt,
        f"^<{_V}conversation>/<{_V}nextTurn>/(<{_V}role>|<{_V}tool>)",
    )
    return out.select("s", "o")


_BGP_ASSISTANT_SQL = _TRIPLES_CTE + f"""
SELECT DISTINCT r.subj AS turn, c.obj AS conv, i.obj AS idx
FROM triples r
JOIN triples c ON c.subj = r.subj AND c.pred = '{_V}conversation'
JOIN triples i ON i.subj = r.subj AND i.pred = '{_V}turnIndex'
WHERE r.pred = '{_V}role' AND r.obj = 'assistant'
"""


@query(oracle=_BGP_ASSISTANT_SQL)
def q_kg_bgp_assistant_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style BGP query over the constructed triple table
    (operators/bgp.py): assistant turns with their conversation and
    index — three patterns folded into two subj-keyed equi-joins, most
    selective scan first. Oracle: the same conjunction as SQL
    self-joins on the replayed triple table."""
    from json_ld_spark.operators.bgp import bgp_query

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_query(
        triples,
        [
            ("?turn", _V + "role", "assistant"),
            ("?turn", _V + "conversation", "?conv"),
            ("?turn", _V + "turnIndex", "?idx"),
        ],
    )
    return out.select("turn", "conv", "idx")


@query(oracle=_BGP_ASSISTANT_SQL)
def q_kg_bucketed_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP star join OVER THE BUCKETED PUBLISHED TABLE: the same
    three-pattern conjunction as kg_bgp_assistant_turns, but each
    pattern scan reads the subj-bucketed managed table published by
    materialize_kg — all three subj-keyed equi-joins plan with ZERO
    Exchange (HashPartitioning(subj) from every bucketed scan), the
    join-side complement to kg_bucketed_node_table's aggregation
    evidence (PLANS.md §25). Oracle: identical to
    kg_bgp_assistant_turns."""
    import re as _re

    from json_ld_spark.operators.bgp import bgp_query
    from json_ld_spark.plans.kg import materialize_kg

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tag = _re.sub(r"[^A-Za-z0-9]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    out_dir = f"/tmp/json_ld_spark_bucketed/{tag}"
    table = f"kg_triples_bucketed_{tag}"
    materialize_kg(t, out_dir, n_buckets=16, bucketed_table=table)
    triples = spark.table(table)
    out = bgp_query(
        triples,
        [
            ("?turn", _V + "role", "assistant"),
            ("?turn", _V + "conversation", "?conv"),
            ("?turn", _V + "turnIndex", "?idx"),
        ],
    )
    return out.select("turn", "conv", "idx")


_BGP_PAIRS_SQL = _TRIPLES_CTE + f"""
SELECT DISTINCT u.subj AS u, a.subj AS a, uc.obj AS conv
FROM triples u
JOIN triples uc ON uc.subj = u.subj AND uc.pred = '{_V}conversation'
JOIN triples a ON a.pred = '{_V}role' AND a.obj = 'assistant'
JOIN triples ac ON ac.subj = a.subj AND ac.pred = '{_V}conversation'
               AND ac.obj = uc.obj
WHERE u.pred = '{_V}role' AND u.obj = 'user'
"""


@query(oracle=_BGP_PAIRS_SQL)
def q_kg_bgp_dialogue_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BGP with a cross-subject variable join (the join-on-object case
    that makes BGPs non-trivial): user turn and assistant turn bound to
    the SAME conversation variable."""
    from json_ld_spark.operators.bgp import bgp_query

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_query(
        triples,
        [
            ("?u", _V + "role", "user"),
            ("?u", _V + "conversation", "?conv"),
            ("?a", _V + "role", "assistant"),
            ("?a", _V + "conversation", "?conv"),
        ],
    )
    return out.select("u", "a", "conv")


_BGP_AGG_SQL = _TRIPLES_CTE + f"""
SELECT c.obj AS conv, r.obj AS role, COUNT(*) AS n,
       MIN(CAST(i.obj AS INT)) AS min_idx,
       MAX(CAST(i.obj AS INT)) AS max_idx
FROM triples c
JOIN triples r ON r.subj = c.subj AND r.pred = '{_V}role'
JOIN triples i ON i.subj = c.subj AND i.pred = '{_V}turnIndex'
WHERE c.pred = '{_V}conversation'
GROUP BY c.obj, r.obj
HAVING COUNT(*) >= 2
"""


@query(oracle=_BGP_AGG_SQL)
def q_kg_bgp_agg_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT aggregation (operators/bgp.py bgp_select): per
    (conversation, role) turn counts with min/max turn index and a
    HAVING gate. The aggregation runs as a map-side-partial groupBy on
    the joined bindings — the shuffle carries one row per group per
    partition, which is what lets the same query run over a 100 TB
    triple table. Oracle: identical GROUP BY/HAVING over the replayed
    triple table."""
    from json_ld_spark.operators.bgp import bgp_select

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_select(
        triples,
        [
            ("?t", _V + "conversation", "?conv"),
            ("?t", _V + "role", "?role"),
            ("?t", _V + "turnIndex", "?idx"),
        ],
        group_by=["?conv", "?role"],
        aggregates={
            "?n": "COUNT(*)",
            "?min_idx": "min(cast(?idx as int))",
            "?max_idx": "max(cast(?idx as int))",
        },
        having=["?n >= 2"],
    )
    return out.select("conv", "role", "n", "min_idx", "max_idx")


_BGP_TOPK_SQL = _TRIPLES_CTE + f"""
SELECT c.obj AS conv, COUNT(*) AS n,
       string_agg(r.obj, ',' ORDER BY r.obj) AS roles
FROM triples c
JOIN triples r ON r.subj = c.subj AND r.pred = '{_V}role'
WHERE c.pred = '{_V}conversation'
GROUP BY c.obj
ORDER BY n DESC, conv
LIMIT 10 OFFSET 5
"""


@query(oracle=_BGP_TOPK_SQL)
def q_kg_bgp_topk_convs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL SELECT solution modifiers end-to-end: GROUP BY +
    deterministic GROUP_CONCAT, ORDER BY (count DESC, conv ASC — a
    total order, so the page is reproducible), LIMIT 10 OFFSET 5.
    Catalyst turns the sort+limit into TakeOrderedAndProject
    (per-partition top-K, single merge) instead of a global sort.
    Oracle: string_agg(... ORDER BY ...) + the same page in DuckDB."""
    from json_ld_spark.operators.bgp import bgp_select, group_concat

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    out = bgp_select(
        triples,
        [
            ("?t", _V + "conversation", "?conv"),
            ("?t", _V + "role", "?role"),
        ],
        group_by=["?conv"],
        aggregates={
            "?n": "COUNT(*)",
            "?roles": group_concat("?role", ","),
        },
        order_by=["DESC(?n)", "?conv"],
        limit=10,
        offset=5,
    )
    return out.select("conv", "n", "roles")


_BGP_SUBQ_SQL = _TRIPLES_CTE + f"""
, full_convs AS (
  SELECT c.obj AS conv FROM triples c
  WHERE c.pred = '{_V}conversation'
  GROUP BY c.obj HAVING COUNT(*) >= 16
)
SELECT DISTINCT c.subj AS turn, c.obj AS conv, r.obj AS role
FROM triples c
JOIN triples r ON r.subj = c.subj AND r.pred = '{_V}role'
JOIN full_convs f ON f.conv = c.obj
WHERE c.pred = '{_V}conversation'
"""


@query(oracle=_BGP_SUBQ_SQL)
def q_kg_bgp_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL subselect composition: an aggregated inner SELECT
    (conversations with a full 16 turns) joins back into the outer
    pattern on the shared variable — spec bottom-up semantics, planned
    by Catalyst as a broadcast of the tiny aggregate onto the outer
    join chain. Oracle: the same HAVING-subquery join in SQL."""
    from json_ld_spark.operators.bgp import bgp_query, bgp_select

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    triples = transcript_triples_native(t)
    inner = bgp_select(
        triples,
        [("?t", _V + "conversation", "?conv")],
        group_by=["?conv"],
        aggregates={"?n": "COUNT(*)"},
        having=["?n >= 16"],
        select=["?conv"],
    )
    out = bgp_query(
        triples,
        [
            ("?turn", _V + "conversation", "?conv"),
            ("?turn", _V + "role", "?role"),
        ],
        subqueries=[inner],
    )
    return out.select("turn", "conv", "role")


_SPARQL_PATH_SQL = _TRIPLES_CTE + f"""
, conv AS (
  SELECT subj, obj AS c FROM triples
  WHERE pred = '{_V}conversation'
    AND CAST(split_part(subj, '/turn/', 2) AS INT) < 4
)
SELECT DISTINCT a.subj AS a, b.subj AS b
FROM conv a JOIN conv b ON a.c = b.c
WHERE a.subj < b.subj
"""


@query(oracle=_SPARQL_PATH_SQL)
def q_kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL text with a property path (seq + inverse): same-
    conversation turn pairs via ?a t:conversation/^t:conversation ?b —
    the parser hands the path to paths.parse_path and the BGP layer
    evaluates it; filter keeps the pair count bounded and asymmetric."""
    from json_ld_spark.sparql import sparql

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri3 = (
        transcript_triples_native(t.filter(F.col("turn_idx") < 4))
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    return sparql(tri3, """
        PREFIX t: <https://example.org/transcript#>
        SELECT ?a ?b
        WHERE { ?a t:conversation/^t:conversation ?b FILTER (?a < ?b) }
    """)


# kg_sparql_negated: the NPS excludes every predicate except
# t:conversation, so the match set IS the conversation edge table.
_SPARQL_NEGATED_SQL = _TRIPLES_CTE + f"""
, conv AS (
  SELECT subj, obj AS c FROM triples
  WHERE pred = '{_V}conversation'
    AND CAST(split_part(subj, '/turn/', 2) AS INT) < 4
)
SELECT DISTINCT a.subj AS a, b.subj AS b, a.c AS conv
FROM conv a JOIN conv b ON a.c = b.c
WHERE a.subj < b.subj
"""


@query(oracle=_SPARQL_NEGATED_SQL)
def q_kg_sparql_negated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL negated property set (SPARQL 1.1 §9.1 NPS): ?a
    !(role|text|tool|timestamp|turnIndex|a) ?conv matches every
    predicate EXCEPT the enumerated ones — on the transcript KG that
    isolates the conversation edge without naming it — joined with a
    plain pattern on the other side and an ordering FILTER into
    same-conversation turn pairs. Oracle: analytic pair replay from
    the base CTE (the NPS leaves exactly the conversation edges, so
    pairs = ordered turn pairs within each conversation)."""
    from json_ld_spark.sparql import sparql

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri3 = (
        transcript_triples_native(t.filter(F.col("turn_idx") < 4))
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    return sparql(tri3, """
        PREFIX t: <https://example.org/transcript#>
        SELECT ?a ?b ?conv
        WHERE {
          ?a !(t:role|t:text|t:tool|t:timestamp|t:turnIndex|a) ?conv .
          ?b t:conversation ?conv .
          FILTER (?a < ?b)
        }
    """)


_SPARQL_GRAPH_SQL = _TRIPLES_CTE + f"""
SELECT g, n FROM (
  SELECT regexp_extract(subj, '^(.*)/turn/', 1) AS g, COUNT(*) AS n
  FROM (SELECT DISTINCT regexp_extract(subj, '^(.*)/turn/', 1) AS gg,
               subj, pred, obj FROM triples) q
  WHERE pred = '{_V}role' AND obj = 'assistant'
  GROUP BY 1 HAVING COUNT(*) >= 3
) ORDER BY n DESC, g LIMIT 40
"""


@query(oracle=_SPARQL_GRAPH_SQL)
def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH clause over per-conversation named graphs: the
    transcript KG with each conversation's triples in its own named
    graph (the natural quad layout for a conversation corpus), queried
    as GRAPH ?g { ... } — the graph variable ranges over named graphs
    and joins into the aggregation."""
    from json_ld_spark.sparql import sparql

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    quads = (
        transcript_triples_native(t)
        .select(
            F.regexp_extract(F.col("subj"), r"^(.*)/turn/", 1).alias("graph"),
            "subj", "pred", "obj",
        )
        .dropDuplicates()
    )
    return sparql(quads, f"""
        PREFIX t: <{v}>
        SELECT ?g (COUNT(*) AS ?n)
        WHERE {{ GRAPH ?g {{ ?turn t:role "assistant" }} }}
        GROUP BY ?g HAVING (COUNT(*) >= 3) ORDER BY DESC(?n) ?g LIMIT 40
    """)


_BGP_DESCRIBE_SQL = _TRIPLES_CTE + f"""
SELECT DISTINCT subj, pred, obj FROM triples
WHERE subj IN (SELECT subj FROM triples
               WHERE pred = '{_V}tool' AND obj = 'search')
"""


@query(oracle=_BGP_DESCRIBE_SQL)
def q_kg_bgp_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE (bgp.bgp_describe): the sub-KG of every turn
    that used the search tool — a left-semi join of the triple table
    against the matched node set."""
    from json_ld_spark.operators.bgp import bgp_describe

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    tri3 = (
        transcript_triples_native(t)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    return bgp_describe(tri3, [("?t", v + "tool", "search")], "?t")


_BGP_ASK_SQL = _TRIPLES_CTE + f"""
SELECT EXISTS(SELECT 1 FROM triples
              WHERE pred = '{_V}tool' AND obj = 'search') AS ask_search,
       EXISTS(SELECT 1 FROM triples
              WHERE pred = '{_V}tool' AND obj = 'browser') AS ask_browser
"""


@query(oracle=_BGP_ASK_SQL)
def q_kg_bgp_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK (bgp.bgp_ask): boolean existence probes — one
    pattern that matches (search tool) and one that cannot (browser
    never appears in the synthesized corpus)."""
    from json_ld_spark.operators.bgp import bgp_ask

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    tri3 = (
        transcript_triples_native(t)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    a1 = bgp_ask(tri3, [("?t", v + "tool", "search")])
    a2 = bgp_ask(tri3, [("?t", v + "tool", "browser")])
    return spark.createDataFrame(
        [(a1, a2)], "ask_search boolean, ask_browser boolean"
    )


_SPARQL_SELECT_SQL = _TRIPLES_CTE + f"""
SELECT conv, n FROM (
  SELECT c.obj AS conv, COUNT(*) AS n
  FROM triples r
  JOIN triples c ON r.subj = c.subj AND c.pred = '{_V}conversation'
  WHERE r.pred = '{_V}role' AND r.obj = 'assistant'
    AND NOT EXISTS (SELECT 1 FROM triples x
                    WHERE x.subj = r.subj AND x.pred = '{_V}tool')
  GROUP BY c.obj HAVING COUNT(*) >= 2
) ORDER BY n DESC, conv LIMIT 50
"""


@query(oracle=_SPARQL_SELECT_SQL)
def q_kg_sparql_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL TEXT end-to-end (json_ld_spark/sparql.py): the parser
    front end over the BGP layer — join chain, FILTER NOT EXISTS,
    aggregation, HAVING, deterministic ordered page."""
    from json_ld_spark.sparql import sparql

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri3 = (
        transcript_triples_native(t)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    return sparql(tri3, """
        PREFIX t: <https://example.org/transcript#>
        SELECT ?conv (COUNT(*) AS ?n)
        WHERE {
            ?turn t:role "assistant" ; t:conversation ?conv .
            FILTER NOT EXISTS { ?turn t:tool ?x }
        }
        GROUP BY ?conv HAVING (COUNT(*) >= 2)
        ORDER BY DESC(?n) ?conv LIMIT 50
    """)


_SPARQL_GRAPH_PATH_SQL = _BASE_CTE.rstrip() + """
, conv AS (SELECT conv_id, COUNT(*) AS n FROM base GROUP BY conv_id)
SELECT 'https://example.org/conv/' || conv_id AS g,
       CAST(n * (n - 1) / 2 AS BIGINT) AS n_pairs
FROM conv
WHERE n > 1
ORDER BY g
"""


@query(oracle=_SPARQL_GRAPH_PATH_SQL)
def q_kg_sparql_graph_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property path INSIDE GRAPH (round-4 lift): nextTurn+ evaluated
    within each per-conversation named graph — nodes are struct(graph,
    term)-encoded so the one distributed closure cannot cross graphs
    (bgp._graph_path_scan). Oracle: each conversation is a chain, so
    the within-graph closure has n·(n-1)/2 pairs."""
    from json_ld_spark.operators.native import transcript_adjacency_native
    from json_ld_spark.sparql import sparql

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    quads = (
        transcript_adjacency_native(t, with_doc_id=False)
        .select(
            F.regexp_extract(F.col("subj"), r"^(.*)/turn/", 1).alias("graph"),
            "subj", "pred", "obj",
        )
        .dropDuplicates()
    )
    return sparql(quads, f"""
        PREFIX t: <{v}>
        SELECT ?g (COUNT(*) AS ?n_pairs)
        WHERE {{ GRAPH ?g {{ ?a t:nextTurn+ ?b }} }}
        GROUP BY ?g ORDER BY ?g
    """)


_SPARQL_NAMED_SQL = _BASE_CTE.rstrip() + """
SELECT 'https://example.org/conv/' || conv_id AS g,
       CAST(COUNT(*) AS BIGINT) AS n
FROM base
WHERE role = 'assistant'
  AND conv_id IN (SELECT 'conv-' || CAST(i AS VARCHAR) FROM range(12) r(i))
GROUP BY conv_id
ORDER BY g
"""


@query(oracle=_SPARQL_NAMED_SQL)
def q_kg_sparql_named(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FROM NAMED dataset construction over the per-conversation
    named-graph corpus (sparql._apply_dataset): the query's dataset is
    restricted to 12 explicitly named conversation graphs; GRAPH ?g
    ranges over exactly those, and the per-graph aggregation composes
    on top. The graph-IRI IN-list pushes to the scan as a filter."""
    from json_ld_spark.sparql import sparql

    _utc(spark)
    v = "https://example.org/transcript#"
    t = transcripts_from_documents(spark, sf_dir)
    quads = (
        transcript_triples_native(t)
        .select(
            F.regexp_extract(F.col("subj"), r"^(.*)/turn/", 1).alias("graph"),
            "subj", "pred", "obj",
        )
        .dropDuplicates()
    )
    named = "\n".join(
        f"FROM NAMED <https://example.org/conv/conv-{i}>" for i in range(12)
    )
    return sparql(quads, f"""
        PREFIX t: <{v}>
        SELECT ?g (COUNT(*) AS ?n)
        {named}
        WHERE {{ GRAPH ?g {{ ?turn t:role "assistant" }} }}
        GROUP BY ?g ORDER BY ?g
    """)


_SPARQL_ANALYST_SQL = _BASE_CTE.rstrip() + """
, conv AS (
  SELECT conv_id,
         COUNT(*) AS n_turns,
         COUNT(CASE WHEN turn_idx >= 1 THEN tool END) AS n_tooled
  FROM base GROUP BY conv_id
)
SELECT 'https://example.org/conv/' || conv_id AS conv,
       CAST(n_turns - 1 AS BIGINT) AS n_reachable,
       CAST(n_tooled AS BIGINT) AS n_tooled
FROM conv
WHERE n_turns > 1
ORDER BY n_reachable DESC, conv
LIMIT 60
"""


@query(oracle=_SPARQL_ANALYST_SQL)
def q_kg_sparql_analyst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realistic KG-analyst query shape (round-3 advice #8):
    property path + OPTIONAL + aggregation COMPOSED in one SPARQL text
    query — from each conversation's opening turn, count the turns
    reachable via t:nextTurn+ and, via OPTIONAL, how many of those
    used a tool. Path closure runs as frontier BFS seeded per t0
    (operators/paths.py), OPTIONAL is a left join, aggregation a
    map-side-partial hash agg. Oracle: on a per-conversation chain the
    nextTurn+ closure from turn 0 is analytic — all turns with index
    >= 1."""
    from json_ld_spark.operators.native import transcript_adjacency_native
    from json_ld_spark.sparql import sparql

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri = (
        transcript_triples_native(t)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    adj = (
        transcript_adjacency_native(t, with_doc_id=False)
        .select("subj", "pred", "obj")
        .dropDuplicates()
    )
    return sparql(tri.unionByName(adj), """
        PREFIX t: <https://example.org/transcript#>
        SELECT ?conv (COUNT(?later) AS ?n_reachable) (COUNT(?tool) AS ?n_tooled)
        WHERE {
            ?t0 t:conversation ?conv ; t:turnIndex "0" .
            ?t0 t:nextTurn+ ?later .
            OPTIONAL { ?later t:tool ?tool }
        }
        GROUP BY ?conv ORDER BY DESC(?n_reachable) ?conv LIMIT 60
    """)


_SKOLEMIZE_SQL = _TRIPLES_CTE + f"""
SELECT graph, subj, pred, obj_kind,
       CASE WHEN pred = '{_V}conversation'
            THEN replace(obj, '{_CB}conv-',
                         'https://example.org/.well-known/genid/c')
            ELSE obj END AS obj,
       datatype, lang
FROM triples
"""


@query(oracle=_SKOLEMIZE_SQL)
def q_kg_skolemize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF 1.1 skolemization (canonical.skolemize): conversations are
    anonymized to blank nodes (the multi-source ingest case) and then
    skolemized to /.well-known/genid/ IRIs — a pure projection that
    makes bnode-bearing graphs joinable across systems. Oracle: the
    genid IRI is a string rewrite of the deterministic conv id."""
    from json_ld_spark.operators.canonical import skolemize

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri = transcript_triples_native(t, with_doc_id=False).select(*TRIPLE_COLS)
    is_conv = F.col("pred") == _V + "conversation"
    anon = tri.withColumn(
        "obj",
        F.when(
            is_conv,
            F.regexp_replace("obj", "^" + _CB + "conv-", "_:c"),
        ).otherwise(F.col("obj")),
    ).withColumn(
        "obj_kind", F.when(is_conv, F.lit("bnode")).otherwise(F.col("obj_kind"))
    )
    return skolemize(anon)


_CONTEXT_WINDOWS_SQL = _BASE_CTE + """
SELECT conv_id, turn_idx,
       CAST(COUNT(*) OVER w AS INT) AS n_context_turns,
       COALESCE(STRING_AGG(role || ': ' || text, chr(10)) OVER w, '')
         AS context,
       text AS target
FROM base
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
             ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
"""


@query(oracle=_CONTEXT_WINDOWS_SQL)
def q_kg_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-pair assembly from turn windows
    (native.transcript_context_windows): per turn, the role-prefixed
    text of the previous 3 turns of the same conversation as context
    plus the turn text as target — the (context, target) training-pair
    shape, one conv-partitioned bounded-frame window, no Python.
    Oracle: the same frame as a windowed STRING_AGG."""
    from json_ld_spark.operators.native import transcript_context_windows

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    return transcript_context_windows(t, k=3)


_VOID_STATS_SQL = _TRIPLES_CTE + """
SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_triples,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_distinct_subj,
       CAST(COUNT(DISTINCT (obj_kind, obj, datatype, lang)) AS BIGINT)
         AS n_distinct_obj
FROM triples GROUP BY pred
"""


@query(oracle=_VOID_STATS_SQL)
def q_kg_void_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style property partition (profile.void_stats): per-pred
    triple/subject/object cardinalities of the transcript KG — the
    statistics the BGP planner's selectivity ordering consumes. One
    predicate-keyed aggregation; object identity = full value tuple."""
    from json_ld_spark.operators.profile import void_stats

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri = transcript_triples_native(t, with_doc_id=False).select(*TRIPLE_COLS)
    out = void_stats(tri)
    return out.select(
        "pred",
        F.col("n_triples").cast("long").alias("n_triples"),
        F.col("n_distinct_subj").cast("long").alias("n_distinct_subj"),
        F.col("n_distinct_obj").cast("long").alias("n_distinct_obj"),
    )


_SCHEMA_SUMMARY_SQL = _BASE_CTE + f"""
, adjn AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
)
SELECT '{_V}Turn' AS src_type, '{_V}conversation' AS pred,
       'untyped' AS dst_type, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM base
UNION ALL
SELECT '{_V}Turn', '{_V}nextTurn', '{_V}Turn', CAST(COUNT(*) AS BIGINT)
FROM adjn WHERE nxt IS NOT NULL
"""


@query(oracle=_SCHEMA_SUMMARY_SQL)
def q_kg_schema_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-level summary graph (profile.schema_summary): the
    transcript KG quotiented by rdf:type — Turn --conversation-->
    untyped conversation nodes, Turn --nextTurn--> Turn. Two
    endpoint-type joins + one count agg; the oracle is analytic on
    the synthesis (every turn has one conversation edge; every
    non-final turn one nextTurn edge)."""
    from json_ld_spark.operators.native import transcript_adjacency_native
    from json_ld_spark.operators.profile import schema_summary

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    quads = (
        transcript_triples_native(t, with_doc_id=False)
        .select(*TRIPLE_COLS)
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False).select(*TRIPLE_COLS)
        )
    )
    out = schema_summary(quads)
    return out.select(
        "src_type", "pred", "dst_type",
        F.col("n_edges").cast("long").alias("n_edges"),
    )


# curation.conversation_quality replay: the transcripts base CTE +
# one conv-keyed lag window + one conv-keyed agg. span_us derives
# from doc_id (ts = 2026-01-01 + doc_id seconds by construction);
# assistant mean = exact integer sum / count, one division, 6-dp.
_CONV_QUALITY_SQL = _BASE_CTE + r"""
, lagged AS (
  SELECT conv_id, role, tool, doc_id,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '')) AS wc,
         CASE WHEN lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   = role THEN 1 ELSE 0 END AS rep
  FROM base
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_assistant,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool,
       CAST(SUM(rep) AS BIGINT) AS n_role_repeats,
       round(AVG(CASE WHEN role = 'assistant' THEN wc END), 6)
         AS mean_assistant_words,
       CAST((MAX(doc_id) - MIN(doc_id)) * 1000000 AS BIGINT) AS span_us,
       (COUNT(*) >= 2
        AND SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) >= 1
        AND SUM(rep) = 0) AS keep
FROM lagged
GROUP BY conv_id
"""


@query(oracle=_CONV_QUALITY_SQL)
def q_kg_conv_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation SFT-quality gate (curation.conversation_quality)
    over the transcripts table: role counts, tool calls, broken-
    alternation repeats, mean assistant words, wall-clock span, keep
    flag. One conv-keyed window + one conv-keyed agg — the corpus
    shuffles once (the window's partitioning satisfies the groupBy)."""
    from json_ld_spark.operators.curation import conversation_quality

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    return conversation_quality(t).orderBy("conv_id")


# TextTiling topic segmentation: lag/Jaccard/running-sum chain over the
# transcript replay (DuckDB list functions mirror Spark's array ops
# set-wise: sizes of distinct intersections/unions are engine-agnostic)
_TOPIC_SEGMENTS_SQL = _BASE_CTE + """
, seg0 AS (
  SELECT conv_id, turn_idx,
         list_distinct(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''
         )) AS wset
  FROM base
), seg1 AS (
  SELECT conv_id, turn_idx, wset,
         lag(wset) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS pset
  FROM seg0
), seg2 AS (
  SELECT conv_id, turn_idx,
         CASE WHEN pset IS NULL THEN NULL
              ELSE round(
                CAST(len(list_intersect(wset, pset)) AS DOUBLE)
                / CAST(NULLIF(len(list_distinct(list_concat(wset, pset))), 0)
                       AS DOUBLE), 6)
         END AS jaccard_prev
  FROM seg1
), seg3 AS (
  SELECT conv_id, turn_idx, jaccard_prev,
         CASE WHEN jaccard_prev IS NULL OR jaccard_prev < 0.2
              THEN 1 ELSE 0 END AS is_boundary
  FROM seg2
)
SELECT conv_id, turn_idx, jaccard_prev, is_boundary,
       CAST(SUM(is_boundary) OVER (
              PARTITION BY conv_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
            AS BIGINT) AS segment_id
FROM seg3
"""


@query(oracle=_TOPIC_SEGMENTS_SQL)
def q_kg_topic_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic segmentation of conversations
    (textops.topic_segments, Hearst 1997): adjacent-turn word-set
    Jaccard, a dip below 0.2 opens a new segment, segment_id = running
    boundary count. ONE conv-partitioned window shuffle (lag + running
    sum share the partitioning); word sets are a JVM projection. The
    oracle replays the same lag/Jaccard/running-sum chain with DuckDB
    list functions."""
    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    return tx.topic_segments(t, min_jaccard=0.2)


# Context-scored sense disambiguation: co-occurrence signatures + list
# intersection, all integer counts/ranks (no float parity risk)
_DISAMBIGUATE_SQL = """
WITH words AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents)
  WHERE length(word) >= 3
), freq AS (
  SELECT word, COUNT(*) AS n FROM words GROUP BY word
), hot AS (
  SELECT word AS surface FROM freq ORDER BY n DESC, word LIMIT 50
), present AS (
  SELECT w.doc_id, h.surface FROM words w JOIN hot h ON w.word = h.surface
), cooc AS (
  SELECT p.surface, CAST(p.doc_id % 2 AS INT) AS sense, w.word, COUNT(*) AS c
  FROM present p JOIN words w ON p.doc_id = w.doc_id
  WHERE w.word <> p.surface
  GROUP BY 1, 2, 3
), sig AS (
  SELECT surface, sense, list_sort(list(word)) AS signature FROM (
    SELECT surface, sense, word,
           ROW_NUMBER() OVER (PARTITION BY surface, sense
                              ORDER BY c DESC, word) AS r
    FROM cooc)
  WHERE r <= 5
  GROUP BY surface, sense
), docsets AS (
  SELECT doc_id, list_sort(list(word)) AS doc_words FROM words GROUP BY doc_id
), m AS (
  SELECT w.doc_id, s.surface
  FROM words w JOIN (SELECT DISTINCT surface FROM sig) s ON w.word = s.surface
), cand AS (
  SELECT m.doc_id, m.surface, sig.sense,
         CAST(len(list_intersect(d.doc_words, sig.signature)) AS INT) AS score
  FROM m
  JOIN sig ON m.surface = sig.surface
  JOIN docsets d ON m.doc_id = d.doc_id
)
SELECT doc_id, surface, sense, score,
       'https://example.org/entity/' || surface || '#'
         || CAST(sense AS VARCHAR) AS entity_id
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, surface
                               ORDER BY score DESC, sense) AS rk
  FROM cand)
WHERE rk = 1
"""


@query(oracle=_DISAMBIGUATE_SQL)
def q_kg_disambiguate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-scored entity-sense disambiguation (linking.
    sense_signatures + disambiguate_entities): the corpus's 50 hottest
    surfaces each get 2 candidate senses with co-occurrence signatures;
    every (doc, surface) mention is resolved to the sense whose
    signature overlaps the doc's word set most. Broadcast dictionary
    joins + partitioned windows only; integer scores. The oracle
    replays counts, rank windows, and list intersections."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    sigs = lk.sense_signatures(docs, max_surfaces=50, senses=2, sig_k=5)
    return lk.disambiguate_entities(docs, sigs)


# Coreference-lite pronoun antecedents: injection + dictionary join +
# conv-windows replayed exactly
_PRONOUN_LINKS_SQL = _BASE_CTE + """
, t2 AS (
  SELECT conv_id, turn_idx,
         text || CASE WHEN turn_idx % 3 = 0 THEN ' and it worked'
                      ELSE '' END AS text
  FROM base
), dwords AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents)
  WHERE length(word) >= 3
), hot AS (
  SELECT word AS surface FROM (
    SELECT word, COUNT(*) AS n FROM dwords GROUP BY word)
  ORDER BY n DESC, word LIMIT 50
), toks AS (
  SELECT conv_id, turn_idx,
         string_split_regex(lower(text), '[^a-z0-9]+') AS l
  FROM t2
), ment AS (
  SELECT t.conv_id, t.turn_idx, t.pos, t.word
  FROM (
    SELECT conv_id, turn_idx,
           generate_subscripts(l, 1) AS pos, unnest(l) AS word
    FROM toks) t
  JOIN hot h ON t.word = h.surface
  WHERE length(t.word) >= 3
), first AS (
  SELECT conv_id, turn_idx, word AS turn_entity FROM (
    SELECT conv_id, turn_idx, word,
           ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                              ORDER BY pos, word) AS rk
    FROM ment)
  WHERE rk = 1
), keyed AS (
  SELECT t2.conv_id, t2.turn_idx, f.turn_entity,
         CASE WHEN regexp_matches(lower(t2.text), '\\b(it|they|this)\\b')
              THEN 1 ELSE 0 END AS has_pronoun
  FROM t2 LEFT JOIN first f
    ON t2.conv_id = f.conv_id AND t2.turn_idx = f.turn_idx
)
SELECT conv_id, turn_idx,
       'https://example.org/entity/' || antecedent AS entity_id
FROM (
  SELECT conv_id, turn_idx, has_pronoun,
         last_value(turn_entity IGNORE NULLS) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS antecedent
  FROM keyed)
WHERE has_pronoun = 1 AND antecedent IS NOT NULL
"""


@query(oracle=_PRONOUN_LINKS_SQL)
def q_kg_pronoun_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreference-lite antecedent linking (linking.pronoun_links):
    pronoun-bearing turns link to the first entity mention of the most
    recent prior entity-bearing turn in the same conversation — one
    broadcast dictionary join + conv-partitioned windows (last_value
    IGNORE NULLS over the preceding frame). Pronouns are injected
    deterministically (turn_idx % 3) so the corpus contains matches;
    the oracle replays injection, dictionary, and windows."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    words = lk._doc_words(docs)
    hot = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
        .select(F.col("word").alias("surface"))
    )
    t = transcripts_from_documents(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("turn_idx") % 3 == 0, F.lit(" and it worked")).otherwise(
                F.lit("")
            ),
        ),
    )
    return lk.pronoun_links(t, hot)


# shared copurchase-graph CTE prefix for the WL / neighbor-sample
# oracles: the same sampled co-purchase edge set as _LCC_SQL, plus the
# symmetrized (both-orientations) view graphops._symmetrize produces
_COPURCHASE_SYM_CTE = r"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), e AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
)
"""

# 4-cycle census: capped wedge join + integer C(c,2) — all exact longs
_SQUARE_COUNT_SQL = _COPURCHASE_SYM_CTE + """
, deg AS (
  SELECT u AS node, COUNT(*) AS d FROM e GROUP BY u
), wed AS (
  SELECT e1.v AS x, e2.v AS y
  FROM e e1
  JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN deg ON deg.node = e1.u
  WHERE deg.d <= 64
), diag AS (
  SELECT x, y, COUNT(*) AS c FROM wed GROUP BY x, y
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_diagonal_pairs,
       CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_wedges,
       CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS n_square_incidences
FROM diag
"""


@query(oracle=_SQUARE_COUNT_SQL)
def q_kg_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle census of the co-purchase graph (graphops.square_count):
    wedge join with a degree-64 middle cap before the quadratic
    fan-out, then integer C(c,2) aggregation over diagonal pairs — the
    bipartite-community/link-farm motif one step past triangles. All
    integer math; the oracle replays the capped wedge join."""
    _utc(spark)
    return gops.square_count(
        _copurchase_edges(spark, sf_dir).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ),
        max_degree=64,
    )


# degree histogram (integer bit-length bins) + Hill tail alpha
_DEGREE_PROFILE_SQL = _COPURCHASE_SYM_CTE + """
, deg AS (
  SELECT u AS node, COUNT(*) AS d FROM e GROUP BY u
), hist AS (
  SELECT CAST(length(bin(d)) AS INT) AS bin_id,
         CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(MIN(d) AS BIGINT) AS d_min,
         CAST(MAX(d) AS BIGINT) AS d_max
  FROM deg GROUP BY 1
), tail AS (
  SELECT COUNT(*) AS n_tail,
         SUM(CAST(round(ln(CAST(d AS DOUBLE) / 4.0) * 1e6, 0) AS BIGINT))
           AS lsum_micro
  FROM deg WHERE d >= 4
), alpha AS (
  SELECT CASE WHEN lsum_micro > 0
              THEN round(1.0 + CAST(n_tail AS DOUBLE)
                         / (CAST(lsum_micro AS DOUBLE) / 1e6), 6)
         END AS hill_alpha_r
  FROM tail
)
SELECT bin_id, n_nodes, d_min, d_max, hill_alpha_r
FROM hist CROSS JOIN alpha
"""


@query(oracle=_DEGREE_PROFILE_SQL)
def q_kg_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph health profile (graphops.degree_distribution): bit-length
    log-binned degree histogram of the co-purchase graph plus the Hill
    power-law tail estimate (micro-quantized ln sum). Two map-side
    aggregations + a broadcast 1-row cross join. Oracle replays bins
    (length(bin(d))) and the Hill micro-sum."""
    _utc(spark)
    return gops.degree_distribution(
        _copurchase_edges(spark, sf_dir).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ),
        tail_min_degree=4,
    )


# per-entity KB rollup: dictionary join + profile agg + co-mention argmax
_ENTITY_PROFILES_SQL = _BASE_CTE + """
, dwords AS (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM documents)
  WHERE length(word) >= 3
), hot AS (
  SELECT word AS surface FROM (
    SELECT word, COUNT(*) AS n FROM dwords GROUP BY word)
  ORDER BY n DESC, word LIMIT 50
), ment AS (
  SELECT t.word AS surface, t.conv_id, t.turn_idx, t.ts_lex,
         t.conv_id || '#' || CAST(t.turn_idx AS VARCHAR) AS turn_key
  FROM (
    SELECT conv_id, turn_idx, ts_lex,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
    FROM base) t
  JOIN hot h ON t.word = h.surface
  WHERE length(t.word) >= 3
), prof AS (
  SELECT surface,
         CAST(COUNT(*) AS BIGINT) AS n_mentions,
         CAST(COUNT(DISTINCT turn_key) AS BIGINT) AS n_turns,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs,
         MIN(ts_lex) AS first_ts,
         MAX(ts_lex) AS last_ts
  FROM ment GROUP BY surface
), tset AS (
  SELECT DISTINCT turn_key, surface FROM ment
), co AS (
  SELECT a.surface AS surface, b.surface AS co_surface, COUNT(*) AS c
  FROM tset a JOIN tset b ON a.turn_key = b.turn_key
  WHERE a.surface <> b.surface
  GROUP BY 1, 2
), top_co AS (
  SELECT surface, co_surface, CAST(c AS BIGINT) AS co_count FROM (
    SELECT surface, co_surface, c,
           ROW_NUMBER() OVER (PARTITION BY surface
                              ORDER BY c DESC, co_surface ASC) AS rk
    FROM co)
  WHERE rk = 1
)
SELECT 'https://example.org/entity/' || p.surface AS entity_id,
       p.surface, p.n_mentions, p.n_turns, p.n_convs, p.first_ts, p.last_ts,
       t.co_surface,
       CAST(COALESCE(t.co_count, 0) AS BIGINT) AS co_count
FROM prof p LEFT JOIN top_co t ON p.surface = t.surface
"""


@query(oracle=_ENTITY_PROFILES_SQL)
def q_kg_entity_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity KB rollup (linking.entity_profiles): mention counts,
    distinct turns/convs, first/last mention timestamps, and the top
    co-mentioned entity — the entity table a linking pipeline
    publishes next to its triple table. Broadcast dictionary join, one
    map-side profile agg, per-turn-set co-mention pairing (fan-out
    bounded by entities-per-turn²), surface-partitioned argmax. The
    oracle replays the dictionary, the aggregation, and the co-mention
    window over the transcript synthesis."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    words = lk._doc_words(docs)
    hot = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(50)
        .select(F.col("word").alias("surface"))
    )
    t = transcripts_from_documents(spark, sf_dir)
    return lk.entity_profiles(t, hot)


# integer-MMR exemplar selection: 3 unrolled greedy rounds
_MMR_SQL = _BASE_CTE + """
, wsets AS (
  SELECT conv_id, turn_idx,
         list_distinct(list_filter(
           string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''
         )) AS w
  FROM base
), cw AS (
  SELECT conv_id, turn_idx, unnest(w) AS word FROM wsets
), other AS (
  SELECT conv_id, word, COUNT(*) AS n_turns_with FROM cw GROUP BY 1, 2
), rel AS (
  SELECT c.conv_id, c.turn_idx, COUNT(*) AS rel
  FROM cw c JOIN other o ON c.conv_id = o.conv_id AND c.word = o.word
  WHERE o.n_turns_with >= 2
  GROUP BY 1, 2
), cand AS (
  SELECT s.conv_id, s.turn_idx, s.w,
         CAST(COALESCE(r.rel, 0) AS BIGINT) AS rel
  FROM wsets s LEFT JOIN rel r
    ON s.conv_id = r.conv_id AND s.turn_idx = r.turn_idx
), p1 AS (
  SELECT conv_id, turn_idx, w, rel AS score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id
                                 ORDER BY rel DESC, turn_idx) AS rk
    FROM cand)
  WHERE rk = 1
), rem1 AS (
  SELECT c.* FROM cand c JOIN p1 ON c.conv_id = p1.conv_id
  WHERE c.turn_idx <> p1.turn_idx
), pen2 AS (
  SELECT r.conv_id, r.turn_idx,
         MAX(len(list_intersect(r.w, p.w))) AS pen
  FROM rem1 r JOIN p1 p ON r.conv_id = p.conv_id
  GROUP BY 1, 2
), p2 AS (
  SELECT conv_id, turn_idx, w, score FROM (
    SELECT r.conv_id, r.turn_idx, r.w,
           r.rel - CAST(COALESCE(n.pen, 0) AS BIGINT) AS score,
           ROW_NUMBER() OVER (PARTITION BY r.conv_id
             ORDER BY r.rel - CAST(COALESCE(n.pen, 0) AS BIGINT) DESC,
                      r.turn_idx) AS rk
    FROM rem1 r LEFT JOIN pen2 n
      ON r.conv_id = n.conv_id AND r.turn_idx = n.turn_idx)
  WHERE rk = 1
), rem2 AS (
  SELECT r.* FROM rem1 r JOIN p2 ON r.conv_id = p2.conv_id
  WHERE r.turn_idx <> p2.turn_idx
), picked2 AS (
  SELECT conv_id, w FROM p1 UNION ALL SELECT conv_id, w FROM p2
), pen3 AS (
  SELECT r.conv_id, r.turn_idx,
         MAX(len(list_intersect(r.w, p.w))) AS pen
  FROM rem2 r JOIN picked2 p ON r.conv_id = p.conv_id
  GROUP BY 1, 2
), p3 AS (
  SELECT conv_id, turn_idx, w, score FROM (
    SELECT r.conv_id, r.turn_idx, r.w,
           r.rel - CAST(COALESCE(n.pen, 0) AS BIGINT) AS score,
           ROW_NUMBER() OVER (PARTITION BY r.conv_id
             ORDER BY r.rel - CAST(COALESCE(n.pen, 0) AS BIGINT) DESC,
                      r.turn_idx) AS rk
    FROM rem2 r LEFT JOIN pen3 n
      ON r.conv_id = n.conv_id AND r.turn_idx = n.turn_idx)
  WHERE rk = 1
)
SELECT conv_id, turn_idx, CAST(score AS BIGINT) AS score,
       CAST(1 AS INT) AS pick_rank FROM p1
UNION ALL
SELECT conv_id, turn_idx, CAST(score AS BIGINT) AS score,
       CAST(2 AS INT) AS pick_rank FROM p2
UNION ALL
SELECT conv_id, turn_idx, CAST(score AS BIGINT) AS score,
       CAST(3 AS INT) AS pick_rank FROM p3
"""


@query(oracle=_MMR_SQL)
def q_kg_mmr_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse-exemplar turn selection per conversation (curation.
    mmr_select_turns, Carbonell & Goldstein MMR in an ALL-INTEGER
    variant): 3 greedy rounds of conv-partitioned argmax — relevance =
    overlap with the rest of the conversation, penalty = max overlap
    with already-picked turns; every score an exact set-cardinality
    integer. The SFT-subsampling stage as a first-class op. Oracle
    unrolls the 3 rounds with the same windows and list
    intersections."""
    from json_ld_spark.operators.curation import mmr_select_turns

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    return mmr_select_turns(t, k=3)


# kg_distmult_rank: the multiplicative-kernel twin of the TransE
# replay — qvec_i = E_i·R_i, score = Σ qvec_i·t_i, HIGHER better,
# same integer lattice, same filtered counting aggregations.
_DISTMULT_RANK_SQL = _BASE_CTE + f"""
, adjp AS (
  SELECT conv_id, turn_idx,
         LEAD(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS nxt
  FROM base
), pos AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR) AS subj,
           '{_RDF_TYPE}' AS pred, '{_V}Turn' AS obj FROM base
    UNION ALL
    SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR),
           '{_V}conversation', '{_CB}' || conv_id FROM base
    UNION ALL
    SELECT '{_CB}' || conv_id || '/turn/' || CAST(turn_idx AS VARCHAR),
           '{_V}nextTurn',
           '{_CB}' || conv_id || '/turn/' || CAST(nxt AS VARCHAR)
    FROM adjp WHERE nxt IS NOT NULL
  )
), kents AS (
  SELECT DISTINCT entity
  FROM (SELECT subj AS entity FROM pos UNION SELECT obj FROM pos)
), evec AS (
  SELECT entity, list_transform(range(0, 16), i ->
    (('0x' || substr(md5('kge|E|' || entity || '|' || CAST(i AS VARCHAR)),
      1, 8))::BIGINT % 2001) - 1000) AS v
  FROM kents
), test AS (
  SELECT subj, pred, obj,
         list_transform(range(0, 16), i ->
           ((('0x' || substr(md5('kge|E|' || subj || '|' || CAST(i AS VARCHAR)),
             1, 8))::BIGINT % 2001) - 1000)
           * ((('0x' || substr(md5('kge|R|' || pred || '|' || CAST(i AS VARCHAR)),
               1, 8))::BIGINT % 2001) - 1000)) AS qvec
  FROM pos
  WHERE ('0x' || substr(md5('kge|test|' || subj || '|' || pred || '|' || obj),
         1, 8))::BIGINT % 97 = 0
), td AS (
  SELECT t.subj, t.pred, t.obj, t.qvec,
         CAST(list_sum(list_transform(range(1, 17),
              i -> t.qvec[i] * e.v[i])) AS BIGINT) AS true_s
  FROM test t JOIN evec e ON e.entity = t.obj
), scored AS (
  SELECT td.subj, td.pred, td.obj, td.true_s, e.entity,
         CAST(list_sum(list_transform(range(1, 17),
              i -> td.qvec[i] * e.v[i])) AS BIGINT) AS ss
  FROM td CROSS JOIN evec e
), ball AS (
  SELECT subj, pred, obj,
         CAST(SUM(CASE WHEN entity <> obj
                        AND (ss > true_s OR (ss = true_s AND entity < obj))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_better
  FROM scored GROUP BY 1, 2, 3
), kb AS (
  SELECT s.subj, s.pred, s.obj,
         CAST(SUM(CASE WHEN s.ss > s.true_s
                        OR (s.ss = s.true_s AND s.entity < s.obj)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_known
  FROM scored s JOIN pos p
    ON p.subj = s.subj AND p.pred = s.pred AND p.obj = s.entity
  WHERE s.entity <> s.obj
  GROUP BY 1, 2, 3
)
SELECT b.subj, b.pred, b.obj,
       CAST(1 + b.n_better - COALESCE(k.n_known, 0) AS BIGINT) AS rank
FROM ball b LEFT JOIN kb k USING (subj, pred, obj)
"""


@query(oracle=_DISTMULT_RANK_SQL)
def q_kg_distmult_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered DistMult tail-ranking (kge.distmult_rank, Yang et al.
    ICLR'15) over the same transcript-KG edges and hash test split as
    kg_transe_rank — the multiplicative-kernel model twin, directly
    comparable MRR/Hits@k. All-integer trilinear scores; same
    broadcast(test) × entities shape with map-side partial counts and
    equi-join filtered correction. Oracle: full SQL replay with the
    product kernel."""
    from json_ld_spark.operators.kge import distmult_rank
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    edges = (
        transcript_triples_native(t)
        .filter(F.col("obj_kind") == "iri")
        .select("subj", "pred", "obj")
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False)
            .select("subj", "pred", "obj")
        )
    )
    return distmult_rank(edges, dim=16, test_mod=97)


# kg_kge_compare: both rank replays wrapped in the scoreboard agg
_KGE_COMPARE_SQL = (
    """
SELECT 'transe' AS model, CAST(COUNT(*) AS BIGINT) AS n_test,
       round(AVG(1.0 / CAST(rank AS DOUBLE)), 6) AS mrr_r,
       round(AVG(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6) AS hits1_r,
       round(AVG(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6) AS hits10_r
FROM (__TRANSE__) t
UNION ALL
SELECT 'distmult', CAST(COUNT(*) AS BIGINT),
       round(AVG(1.0 / CAST(rank AS DOUBLE)), 6),
       round(AVG(CASE WHEN rank <= 1 THEN 1.0 ELSE 0.0 END), 6),
       round(AVG(CASE WHEN rank <= 10 THEN 1.0 ELSE 0.0 END), 6)
FROM (__DISTMULT__) d
"""
    .replace("__TRANSE__", _TRANSE_RANK_SQL)
    .replace("__DISTMULT__", _DISTMULT_RANK_SQL)
)


@query(oracle=_KGE_COMPARE_SQL)
def q_kg_kge_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KGE model scoreboard: MRR / Hits@{1,10} for TransE AND DistMult
    on the IDENTICAL deterministic test split — the side-by-side
    leaderboard an embedding team reads before picking a kernel. One
    aggregation over each rank table (ranks are exact integers; MRR is
    a rounded sum of exact reciprocals). Oracle wraps both rank
    replays in the same aggregation."""
    from json_ld_spark.operators.kge import distmult_rank, transe_rank
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    edges = (
        transcript_triples_native(t)
        .filter(F.col("obj_kind") == "iri")
        .select("subj", "pred", "obj")
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False)
            .select("subj", "pred", "obj")
        )
    )

    def metrics(ranks: DataFrame, model: str) -> DataFrame:
        return ranks.agg(
            F.lit(model).alias("model"),
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.round(F.avg(F.lit(1.0) / F.col("rank").cast("double")), 6).alias(
                "mrr_r"
            ),
            F.round(F.avg((F.col("rank") <= 1).cast("double")), 6).alias(
                "hits1_r"
            ),
            F.round(F.avg((F.col("rank") <= 10).cast("double")), 6).alias(
                "hits10_r"
            ),
        )

    return metrics(transe_rank(edges, dim=16, test_mod=97), "transe").unionByName(
        metrics(distmult_rank(edges, dim=16, test_mod=97), "distmult")
    )


# kg_modularity: the unrolled 2-round LPA CTEs feed the Newman-Girvan
# per-community algebra; every intermediate is an exact long and the
# single double expression mirrors the Spark column order exactly
_MODULARITY_SQL = (
    """
WITH lpa_e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), lpa_und AS (
  SELECT u, v FROM lpa_e UNION SELECT v AS u, u AS v FROM lpa_e
), lpa_sd AS (
  SELECT node, 'c' || CAST(node % 3 AS VARCHAR) AS label
  FROM (SELECT DISTINCT u AS node FROM lpa_und)
  WHERE node % 250 = 0
), l0 AS (SELECT * FROM lpa_sd)"""
    + _lpa_round(1)
    + _lpa_round(2)
    + """
, mdeg AS (
  SELECT u AS node, COUNT(*) AS deg FROM lpa_und GROUP BY u
), comm AS (
  SELECT d.node, COALESCE(l.label, '_unlabeled') AS community, d.deg
  FROM mdeg d LEFT JOIN l2 l ON l.node = d.node
), mtot AS (SELECT COUNT(*) AS m FROM lpa_e)
, minc AS (
  SELECT cu.community, COUNT(*) AS in_edges
  FROM lpa_e e
  JOIN comm cu ON cu.node = e.u
  JOIN comm cv ON cv.node = e.v
  WHERE cu.community = cv.community
  GROUP BY cu.community
), mdsum AS (
  SELECT community, COUNT(*) AS n_nodes, SUM(deg) AS degree_sum
  FROM comm GROUP BY community
)
SELECT d.community,
       CAST(d.n_nodes AS BIGINT) AS n_nodes,
       CAST(COALESCE(i.in_edges, 0) AS BIGINT) AS in_edges,
       CAST(d.degree_sum AS BIGINT) AS degree_sum,
       round(COALESCE(i.in_edges, 0) / CAST(m.m AS DOUBLE)
             - POWER(d.degree_sum / (2.0 * m.m), 2), 6) AS q_contrib_r
FROM mdsum d
LEFT JOIN minc i ON i.community = d.community
CROSS JOIN mtot m
"""
)


@query(oracle=_MODULARITY_SQL)
def q_kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman-Girvan modularity of the label-propagation communities on
    the co-purchase graph (graphops.modularity): per community, the
    in-community edge count, degree mass, and contribution
    Q_c = m_c/m - (d_c/2m)^2 — the standard objective for judging a
    community assignment (Newman & Girvan 2004) before partitioning a
    KG by it. Scale shape: two node-keyed equi-joins of the edge table
    against the node-sized label table, two map-side-combinable aggs,
    and a 1-row totals broadcast — no all-pairs, no window; nodes LPA
    never reached fall into '_unlabeled' so the partition is total.
    Oracle: the unrolled 2-round LPA CTEs + the same modularity algebra
    in SQL (every intermediate an exact long; one double expression)."""
    from json_ld_spark.operators.graphops import label_propagation, modularity

    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .dropDuplicates()
    )
    seeds = nodes.filter(F.col("node") % 250 == 0).select(
        "node",
        F.concat(F.lit("c"), (F.col("node") % 3).cast("string")).alias("label"),
    )
    labels = label_propagation(e, seeds, iters=2, src="u", dst="v")
    return modularity(e, labels, src="u", dst="v")


# kg_louvain_move: LPA communities feed one synchronized Louvain round;
# gains are HUGEINT-exact so the argmax ordering is identical to the
# Spark decimal lattice
_LOUVAIN_MOVE_SQL = (
    """
WITH lpa_e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), lpa_und AS (
  SELECT u, v FROM lpa_e UNION SELECT v AS u, u AS v FROM lpa_e
), lpa_sd AS (
  SELECT node, 'c' || CAST(node % 3 AS VARCHAR) AS label
  FROM (SELECT DISTINCT u AS node FROM lpa_und)
  WHERE node % 250 = 0
), l0 AS (SELECT * FROM lpa_sd)"""
    + _lpa_round(1)
    + _lpa_round(2)
    + """
, ldeg AS (
  SELECT u AS node, COUNT(*) AS k FROM lpa_und GROUP BY u
), lcomm AS (
  SELECT d.node,
         COALESCE(l.label, '_n' || CAST(d.node AS VARCHAR)) AS community,
         d.k
  FROM ldeg d LEFT JOIN l2 l ON l.node = d.node
), ltot AS (
  SELECT community, SUM(k) AS tot FROM lcomm GROUP BY community
), lnbr AS (
  SELECT e.u AS node, cv.community AS c, CAST(COUNT(*) AS BIGINT) AS k_ic
  FROM lpa_und e JOIN lcomm cv ON cv.node = e.v
  GROUP BY e.u, cv.community
), lcand AS (
  SELECT node, c, SUM(k_ic) AS k_ic FROM (
    SELECT node, c, k_ic FROM lnbr
    UNION ALL
    SELECT node, community AS c, 0 AS k_ic FROM lcomm
  ) GROUP BY node, c
), lm AS (SELECT COUNT(*) AS m FROM lpa_e)
, lscored AS (
  SELECT cd.node, cd.c, cm.community AS cur,
         2 * CAST(m.m AS HUGEINT) * CAST(cd.k_ic AS HUGEINT)
           - CAST(cm.k AS HUGEINT)
             * CAST(ct.tot - CASE WHEN cd.c = cm.community THEN cm.k
                                  ELSE 0 END AS HUGEINT) AS gain
  FROM lcand cd
  JOIN lcomm cm ON cm.node = cd.node
  JOIN ltot ct ON ct.community = cd.c
  CROSS JOIN lm m
)
SELECT CAST(node AS BIGINT) AS node, cur AS old_label, c AS new_label,
       (c <> cur) AS moved
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY node ORDER BY gain DESC, (c = cur) DESC, c ASC
  ) AS rk FROM lscored
) WHERE rk = 1
"""
)


@query(oracle=_LOUVAIN_MOVE_SQL)
def q_kg_louvain_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronized Louvain node-move round (graphops.louvain_move,
    Blondel et al. 2008) refining the label-propagation communities on
    the co-purchase graph: each node evaluates every NEIGHBOR community
    by the exact-integer gain 2m*k_ic - k_i*tot'(c) (decimal lattice —
    no float ordering anywhere) and keeps the argmax, ties preferring
    to stay, then the smaller label; LPA-unreached nodes start as
    Louvain singletons. Shapes: neighbor-community count agg +
    community mass agg + per-NODE argmax window + 1-row m broadcast.
    Oracle: the unrolled LPA CTEs + the same algebra with HUGEINT
    gains and the identical ROW_NUMBER ordering."""
    from json_ld_spark.operators.graphops import label_propagation, louvain_move

    _utc(spark)
    e = _copurchase_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .dropDuplicates()
    )
    seeds = nodes.filter(F.col("node") % 250 == 0).select(
        "node",
        F.concat(F.lit("c"), (F.col("node") % 3).cast("string")).alias("label"),
    )
    labels = label_propagation(e, seeds, iters=2, src="u", dst="v")
    out = louvain_move(e, labels, src="u", dst="v")
    return out.select(
        F.col("node").cast("long").alias("node"),
        "old_label", "new_label", "moved",
    )


_TIME_TRAVEL_SQL = _TT_LOG_CTE + """
SELECT graph, subj, pred, obj_kind, obj, datatype, lang
FROM changelog
WHERE ts <= 350
GROUP BY graph, subj, pred, obj_kind, obj, datatype, lang
HAVING arg_max(op, seq) = 'assert'
"""


@query(oracle=_TIME_TRAVEL_SQL)
def q_kg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel snapshot of the triple graph (maintenance.as_of):
    the _tt_changelog assert/retract waves reduced to the graph state
    at ts=350 (the ts=400 wave must NOT be visible) — Iceberg
    snapshot-at-T semantics at the TRIPLE grain. Scale shape: ts
    filter (partition-prunable on a ts-partitioned changelog) + ONE
    map-side-combinable max_by agg; no window, no self-join. Oracle:
    the same changelog as UNION ALL CTEs reduced with
    arg_max(op, seq) in DuckDB."""
    from json_ld_spark.operators.maintenance import as_of

    _utc(spark)
    return as_of(_tt_changelog(spark, sf_dir), ts=350)


# kg_snapshot_diff: two arg_max snapshots + EXCEPT both ways (EXCEPT's
# NULL-equality == the Spark side's eqNullSafe anti-joins)
_SNAPSHOT_DIFF_SQL = _TT_LOG_CTE + """
, s1 AS (
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang
  FROM changelog WHERE ts <= 150
  GROUP BY graph, subj, pred, obj_kind, obj, datatype, lang
  HAVING arg_max(op, seq) = 'assert'
), s2 AS (
  SELECT graph, subj, pred, obj_kind, obj, datatype, lang
  FROM changelog WHERE ts <= 350
  GROUP BY graph, subj, pred, obj_kind, obj, datatype, lang
  HAVING arg_max(op, seq) = 'assert'
)
SELECT 'removed' AS side, * FROM (SELECT * FROM s1 EXCEPT SELECT * FROM s2)
UNION ALL
SELECT 'added' AS side, * FROM (SELECT * FROM s2 EXCEPT SELECT * FROM s1)
"""


@query(oracle=_SNAPSHOT_DIFF_SQL)
def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between two graph snapshots (maintenance.as_of x2
    + diff.dataset_diff): the ts=150 state vs the ts=350 state of the
    _tt_changelog — rows tagged 'removed' (retracted at ts=200, not
    re-asserted) and 'added' (none in this timeline: ts=300 only
    re-asserts) — the audit query behind any KG release note. Scale
    shape: two max_by snapshot aggs + two null-safe anti-joins
    (hash-joinable; quad keys are the join columns); canonicalization
    skipped because both snapshots come from the SAME labeled triple
    table. Oracle: two arg_max snapshot CTEs + anti-join EXCEPT
    semantics in SQL."""
    from json_ld_spark.operators.diff import dataset_diff
    from json_ld_spark.operators.maintenance import as_of

    _utc(spark)
    log = _tt_changelog(spark, sf_dir).localCheckpoint(eager=False)
    s1 = as_of(log, ts=150)
    s2 = as_of(log, ts=350)
    d = dataset_diff(s1, s2, canonicalize=False)
    return d["only_left"].select(F.lit("removed").alias("side"), *TRIPLE_COLS).unionByName(
        d["only_right"].select(F.lit("added").alias("side"), *TRIPLE_COLS)
    )


# kg_local_clustering: id-ordered triangle enumeration (a<b via the edge
# canon, b<c via the join) + corner re-attribution; same algebra, 6 dp
_LCC_SQL = r"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 5 = 0
), deg AS (
  SELECT n AS node, COUNT(*) AS deg FROM (
    SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e) GROUP BY n
), tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e2.a = e1.b
  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
), pcnt AS (
  SELECT node, COUNT(*) AS n_tri FROM (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
       CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN round(2.0 * COALESCE(p.n_tri, 0)
                       / (CAST(d.deg AS DOUBLE) * (d.deg - 1)), 6)
            ELSE 0.0 END AS lcc_r
FROM deg d LEFT JOIN pcnt p USING (node)
"""


@query(oracle=_LCC_SQL)
def q_kg_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (graphops.local_clustering;
    Watts-Strogatz 1998) over the co-purchase graph — the node-grained
    spam/hub signature graph_metrics' global transitivity cannot see.
    Scale shape: degree-oriented triangle enumeration (arboricity-
    bounded wedge fan-out), one degree agg, one left join; exact longs
    until the single division. Oracle: the id-ordered triangle
    enumeration + corner re-attribution in SQL."""
    _utc(spark)
    return gops.local_clustering(
        _copurchase_edges(spark, sf_dir).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        )
    )


# kg_ppmi_edges: pair counts over distinct (order, part) membership, node
# marginals, 2*total directed events, one ln — all exact longs before it
_PPMI_SQL = r"""
WITH m AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS i
  FROM lineitem WHERE l_orderkey % 5 = 0
), e AS (
  SELECT a.i AS u, b.i AS v, CAST(COUNT(*) AS BIGINT) AS n
  FROM m a JOIN m b USING (g)
  WHERE a.i < b.i
  GROUP BY a.i, b.i
), marg AS (
  SELECT node, CAST(SUM(n) AS BIGINT) AS mg FROM (
    SELECT u AS node, n FROM e UNION ALL SELECT v, n FROM e
  ) GROUP BY node
), tot AS (SELECT CAST(2 * SUM(n) AS BIGINT) AS d_total FROM e)
SELECT e.u, e.v, e.n,
       round(greatest(0.0,
             ln(CAST(e.n AS DOUBLE) * t.d_total
                / (CAST(mu.mg AS DOUBLE) * mv.mg))), 6) AS ppmi_r
FROM e
JOIN marg mu ON mu.node = e.u
JOIN marg mv ON mv.node = e.v
CROSS JOIN tot t
"""


@query(oracle=_PPMI_SQL)
def q_kg_ppmi_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPMI reweighting of the co-purchase co-occurrence graph
    (graphops.ppmi_edges; Levy & Goldberg 2014 — the matrix skip-gram
    factorizes): shared-order pair counts become max(0, ln(n*D /
    (m_u*m_v))) association weights, the closed-form stand-in for a
    trained embedding's similarity graph. Scale shape: one pair agg,
    one node-sized marginal agg, one 1-row totals broadcast, two
    node-keyed joins — never all-pairs. Oracle: identical integer
    algebra + one ln, 6-dp rounded."""
    _utc(spark)
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 == 0)
    cooc = gops.cooccurrence_graph(
        li.select(F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("i")),
        group_col="g",
        item_col="i",
    )
    return gops.ppmi_edges(cooc)


# kg_tool_sequences: the same deterministic tool enrichment, one lead()
# window per conversation, pattern counts + exact distinct-conv support
_TOOL_SEQ_SQL = r"""
WITH t AS (
  SELECT 'conv-' || CAST(doc_id // 16 AS VARCHAR) AS conv_id,
         CAST(doc_id % 16 AS INT) AS turn_idx,
         CASE WHEN doc_id % 3 = 0
              THEN (['search', 'browse', 'python', 'sql'])
                   [CAST((doc_id // 3) % 4 AS INT) + 1]
         END AS tool
  FROM documents
), p AS (
  SELECT conv_id, tool,
         lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx ASC)
           AS tool_next
  FROM t WHERE tool IS NOT NULL
)
SELECT tool AS tool_a, tool_next AS tool_b,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
FROM p WHERE tool_next IS NOT NULL
GROUP BY tool, tool_next
"""


@query(oracle=_TOOL_SEQ_SQL)
def q_kg_tool_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive tool-call pattern mining over agent transcripts
    (native.tool_bigrams; the L2 step of Agrawal-Srikant sequential
    patterns): which tool follows which, with occurrence counts and
    conversation support. The base synthesis emits one tool, so the
    query enriches the tool column deterministically from doc_id
    (doc_id%3==0 turns call tools[(doc_id//3)%4]) before mining —
    same corruption-family trick as kg_shacl_validate. Scale: one
    pushed filter + one conversation-partitioned window (conversation-
    bounded partitions) + one map-side-combinable agg with exact
    distinct-conv support. Oracle: the same lead() window in SQL."""
    from json_ld_spark.operators.native import tool_bigrams

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    tools = F.array(F.lit("search"), F.lit("browse"), F.lit("python"), F.lit("sql"))
    t = docs.select(
        F.concat(F.lit("conv-"), (F.col("doc_id") / 16).cast("long").cast("string")).alias("conv_id"),
        (F.col("doc_id") % 16).cast("int").alias("turn_idx"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.element_at(tools, ((F.col("doc_id") / 3).cast("long") % 4 + 1).cast("int")),
        ).alias("tool"),
    )
    return tool_bigrams(t)


# kg_wl_colors: the two WL rounds unrolled — degree color, then per
# round the commutative modular hash-sum of neighbor colors feeding the
# next md5; identical string algebra on both engines (md5 lowercase
# hex, CAST of exact integer sums to VARCHAR)
_WL_COLORS_SQL = _COPURCHASE_SYM_CTE + r"""
, c0 AS (
  SELECT u AS node,
         substr(md5('wl0|' || CAST(COUNT(*) AS VARCHAR)), 1, 16) AS c
  FROM e GROUP BY u
), n1 AS (
  SELECT e.u AS node,
         SUM(('0x' || substr(md5('wlh|' || c0.c), 1, 12))::BIGINT
             % 1000000007) AS sig
  FROM e JOIN c0 ON c0.node = e.v GROUP BY e.u
), c1 AS (
  SELECT c0.node,
         substr(md5('wl1|' || c0.c || '|'
                    || CAST(COALESCE(n1.sig, 0) AS VARCHAR)), 1, 16) AS c
  FROM c0 LEFT JOIN n1 USING (node)
), n2 AS (
  SELECT e.u AS node,
         SUM(('0x' || substr(md5('wlh|' || c1.c), 1, 12))::BIGINT
             % 1000000007) AS sig
  FROM e JOIN c1 ON c1.node = e.v GROUP BY e.u
), c2 AS (
  SELECT c1.node,
         substr(md5('wl2|' || c1.c || '|'
                    || CAST(COALESCE(n2.sig, 0) AS VARCHAR)), 1, 16) AS c
  FROM c1 LEFT JOIN n2 USING (node)
), sz AS (SELECT c, COUNT(*) AS class_size FROM c2 GROUP BY c)
SELECT c2.node, c2.c AS wl_color, CAST(sz.class_size AS BIGINT) AS class_size
FROM c2 JOIN sz USING (c)
"""


@query(oracle=_WL_COLORS_SQL)
def q_kg_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-round Weisfeiler-Leman color refinement over the co-purchase
    graph (graphops.wl_refinement; Shervashidze et al. JMLR'11): the
    distributed partition-refinement histogram behind WL graph kernels
    and the exact analogue of URDNA2015's degree-then-neighborhood
    blank-node partitioning. Neighbor multisets fold through a
    commutative modular hash SUM (map-side combinable, hub-safe — no
    sorted collect_list), one equi-join + one agg per round. Oracle:
    the two rounds unrolled as CTEs with the identical md5 algebra."""
    _utc(spark)
    return gops.wl_refinement(
        _copurchase_edges(spark, sf_dir).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ),
        rounds=2,
    )


# kg_neighbor_sample: the two md5-ranked fan-out hops replayed as
# partitioned ROW_NUMBER windows (ties broken by child id, as in the
# operator)
_NEIGHBOR_SAMPLE_SQL = _COPURCHASE_SYM_CTE + r"""
, roots AS (SELECT DISTINCT u AS root FROM e WHERE u % 10 = 0),
h1 AS (
  SELECT r.root, r.root AS parent, e.v AS child,
         ROW_NUMBER() OVER (
           PARTITION BY r.root
           ORDER BY md5('ns|1|' || CAST(r.root AS VARCHAR) || '|'
                        || CAST(r.root AS VARCHAR) || '|'
                        || CAST(e.v AS VARCHAR)) ASC, e.v ASC) AS rn
  FROM roots r JOIN e ON e.u = r.root
), p1 AS (SELECT root, parent, child FROM h1 WHERE rn <= 3),
f2 AS (SELECT DISTINCT root, child AS node FROM p1),
h2 AS (
  SELECT f2.root, f2.node AS parent, e.v AS child,
         ROW_NUMBER() OVER (
           PARTITION BY f2.root, f2.node
           ORDER BY md5('ns|2|' || CAST(f2.root AS VARCHAR) || '|'
                        || CAST(f2.node AS VARCHAR) || '|'
                        || CAST(e.v AS VARCHAR)) ASC, e.v ASC) AS rn
  FROM f2 JOIN e ON e.u = f2.node
), p2 AS (SELECT root, parent, child FROM h2 WHERE rn <= 2)
SELECT root, CAST(1 AS INT) AS hop, parent, child FROM p1
UNION ALL
SELECT root, CAST(2 AS INT) AS hop, parent, child FROM p2
"""


@query(oracle=_NEIGHBOR_SAMPLE_SQL)
def q_kg_neighbor_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic GraphSAGE fan-out neighbor sampling
    (graphops.neighbor_sample; Hamilton et al. NeurIPS'17) on the
    co-purchase graph: per root (every 10th part id), md5-bridge top-3
    1-hop neighbors, then top-2 neighbors of each — the GNN minibatch
    tree-construction primitive, reproducible across reruns/engines so
    failed epochs rebuild identical minibatches. Per hop: one frontier
    equi-join + one (root, parent)-PARTITIONED window (group size <=
    max degree — the audited-safe shape). Oracle: the same two ranked
    windows in SQL."""
    _utc(spark)
    return gops.neighbor_sample(
        _copurchase_edges(spark, sf_dir).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ),
        fanouts=(3, 2),
        root_filter=lambda c: c % 10 == 0,
        seed="ns",
    )


# kg_kge_eval: the full filtered-TransE ranking replay (same CTEs as
# kg_transe_rank, at the denser mod-29 test sample) wrapped in the
# per-relation MRR / Hits@k aggregation; ranks are exact integers so
# only the final reciprocal sum is float (rounded once, like ppmi's ln)
_KGE_EVAL_SQL = (
    "SELECT pred, CAST(COUNT(*) AS BIGINT) AS n_test,\n"
    "       round(SUM(1.0::DOUBLE / rank) / COUNT(*), 6) AS mrr_r,\n"
    "       round(SUM(CASE WHEN rank <= 1 THEN 1 ELSE 0 END)\n"
    "             / CAST(COUNT(*) AS DOUBLE), 6) AS hits1_r,\n"
    "       round(SUM(CASE WHEN rank <= 3 THEN 1 ELSE 0 END)\n"
    "             / CAST(COUNT(*) AS DOUBLE), 6) AS hits3_r,\n"
    "       round(SUM(CASE WHEN rank <= 10 THEN 1 ELSE 0 END)\n"
    "             / CAST(COUNT(*) AS DOUBLE), 6) AS hits10_r\n"
    "FROM (\n"
    # the % 97 test-sample literal appears exactly once in the rank SQL
    + _TRANSE_RANK_SQL.replace("% 97 = 0", "% 29 = 0")
    + "\n) ranks GROUP BY pred"
)


@query(oracle=_KGE_EVAL_SQL)
def q_kg_kge_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation KGE eval metrics — MRR and Hits@{1,3,10} — over the
    filtered TransE ranking (kge.transe_rank, Bordes et al. NeurIPS'13
    protocol) at a denser test sample (mod 29) than kg_transe_rank's:
    the leaderboard aggregation every embedding trainer reports. Ranks
    are exact integers (integer-lattice embeddings), so MRR is a sum of
    exact reciprocals rounded once; Hits@k are integer-count ratios.
    One extra map-side-combinable groupBy over the rank table. Oracle:
    the full ranking replay wrapped in the same aggregation."""
    from json_ld_spark.operators.kge import transe_rank
    from json_ld_spark.operators.native import (
        transcript_adjacency_native,
        transcript_triples_native,
    )

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    edges = (
        transcript_triples_native(t)
        .filter(F.col("obj_kind") == "iri")
        .select("subj", "pred", "obj")
        .unionByName(
            transcript_adjacency_native(t, with_doc_id=False)
            .select("subj", "pred", "obj")
        )
    )
    ranks = transe_rank(edges, dim=16, test_mod=29)
    return ranks.groupBy("pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(F.sum(1.0 / F.col("rank")) / F.count(F.lit(1)), 6).alias("mrr_r"),
        F.round(
            F.sum(F.when(F.col("rank") <= 1, 1).otherwise(0))
            / F.count(F.lit(1)), 6,
        ).alias("hits1_r"),
        F.round(
            F.sum(F.when(F.col("rank") <= 3, 1).otherwise(0))
            / F.count(F.lit(1)), 6,
        ).alias("hits3_r"),
        F.round(
            F.sum(F.when(F.col("rank") <= 10, 1).otherwise(0))
            / F.count(F.lit(1)), 6,
        ).alias("hits10_r"),
    )


def _scc_testbed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic directed graph over customer keys with a KNOWN SCC
    profile: 8-node ring per key-octet; octet pairs (4j, 4j+1) are
    bridged BOTH ways (16-node SCCs); octets g≡3 (mod 4) emit a
    descending DAG edge into octet g-2. All cross-octet reachability
    either merges a pair or flows strictly toward smaller keys, so the
    coloring outer loop settles everything in ONE round while still
    exercising rings, merged SCCs, and DAG edges. Bounded reach sets
    (<=32) keep the DuckDB transitive-closure oracle cheap."""
    c = _read(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("v0")
    )
    # normalize to a 0-based dense-ish index so the octet arithmetic
    # never goes negative (c_custkey is 0-based here, but this is
    # convention-immune; DuckDB's // truncates toward zero while
    # Spark's floor() floors, so negative operands MUST NOT occur)
    n = c.agg(F.min("v0").alias("vmin"), F.max("v0").alias("vmax"))
    b = c.crossJoin(F.broadcast(n)).select(
        (F.col("v0") - F.col("vmin")).alias("v"),
        (F.col("vmax") - F.col("vmin")).alias("n"),
    ).select(
        "v", "n",
        F.floor(F.col("v") / 8).alias("g"),
        (F.floor(F.col("v") / 8) * 8).alias("a"),
        F.least(F.floor(F.col("v") / 8) * 8 + 7, F.col("n")).alias("bmax"),
    )
    cycle = b.select(
        F.col("v").alias("s"),
        F.when(F.col("v") < F.col("bmax"), F.col("v") + 1)
        .otherwise(F.col("a"))
        .alias("d"),
    )
    asc = b.where(
        (F.col("g") % 4 == 0) & (F.col("v") == F.col("a") + 3)
        & (F.col("a") + 8 <= F.col("n"))
    ).select(F.col("v").alias("s"), (F.col("a") + 8).alias("d"))
    desc = b.where(
        (F.col("g") % 4 == 1) & (F.col("v") == F.col("a") + 2)
    ).select(F.col("v").alias("s"), (F.col("a") - 8).alias("d"))
    dag = b.where(
        (F.col("g") % 4 == 3) & (F.col("v") == F.col("a") + 5)
    ).select(F.col("v").alias("s"), (F.col("a") - 16).alias("d"))
    return (
        cycle.unionByName(asc).unionByName(desc).unionByName(dag)
        .where(F.col("s") != F.col("d"))
        .dropDuplicates()
    )


# kg_scc: algorithm-independent ground truth — full transitive closure
# by recursive CTE (reach sets bounded <=32 by the testbed design),
# scc(v) = min over {v} ∪ {w : v→*w and w→*v}.
_KG_SCC_SQL = r"""
WITH RECURSIVE ck0 AS (
  SELECT CAST(c_custkey AS BIGINT) AS v0 FROM customer
),
mm AS (SELECT MIN(v0) AS vmin, MAX(v0) AS vmax FROM ck0),
ck AS (
  -- 0-based normalized index: octet arithmetic never goes negative
  -- (DuckDB's // truncates toward zero; Spark's floor() floors)
  SELECT v0 - (SELECT vmin FROM mm) AS v FROM ck0
),
mx AS (SELECT (SELECT vmax FROM mm) - (SELECT vmin FROM mm) AS n),
b AS (
  SELECT v,
         (v // 8) AS g,
         (v // 8) * 8 AS a,
         LEAST((v // 8) * 8 + 7, (SELECT n FROM mx)) AS bmax
  FROM ck
),
edges0 AS (
  SELECT v AS s, CASE WHEN v < bmax THEN v + 1 ELSE a END AS d FROM b
  UNION ALL
  SELECT v, a + 8 FROM b
  WHERE g % 4 = 0 AND v = a + 3 AND a + 8 <= (SELECT n FROM mx)
  UNION ALL
  SELECT v, a - 8 FROM b WHERE g % 4 = 1 AND v = a + 2
  UNION ALL
  SELECT v, a - 16 FROM b WHERE g % 4 = 3 AND v = a + 5
),
edges AS (SELECT DISTINCT s, d FROM edges0 WHERE s <> d),
nodes AS (SELECT s AS v FROM edges UNION SELECT d FROM edges),
reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
)
SELECT nd.v AS node,
       LEAST(nd.v,
             COALESCE(MIN(CASE WHEN r2.s IS NOT NULL THEN r1.d END), nd.v)
       ) AS scc
FROM nodes nd
LEFT JOIN reach r1 ON r1.s = nd.v
LEFT JOIN reach r2 ON r2.s = r1.d AND r2.d = nd.v
GROUP BY nd.v
"""


@query(oracle=_KG_SCC_SQL)
def q_kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (graphops.
    strongly_connected_components; Orzan-coloring + pointer-jumping
    min-propagation) over the deterministic ring/pair/DAG testbed —
    the directed-cycle collapse every KG curation pass needs for
    mutual sameAs/derivedFrom loops. Output (node, scc) with scc =
    min member id. Oracle: full recursive-CTE transitive closure,
    scc = min over mutually-reachable nodes — algorithm-independent
    ground truth."""
    from json_ld_spark.operators.graphops import strongly_connected_components

    _utc(spark)
    e = _scc_testbed_edges(spark, sf_dir)
    return strongly_connected_components(e, src="s", dst="d").select(
        F.col("node").cast("long").alias("node"),
        F.col("scc").cast("long").alias("scc"),
    )


# kg_reify: the same content-addressed statement id (md5 over the
# chr(31)-joined quad) + a 5-way UNNEST mirroring reify_statements.
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

_PROV_DF = "http://www.w3.org/ns/prov#wasDerivedFrom"

_KG_REIFY_SQL = _TRIPLES_CTE + f"""
, rt AS (
  SELECT triples.*,
         'https://example.org/stmt/' || md5(
           obj_kind || chr(31) || subj || chr(31) || pred || chr(31)
           || obj || chr(31) || COALESCE(datatype, '') || chr(31)
           || COALESCE(lang, '')) AS stmt,
         regexp_replace(subj, '/turn/[0-9]+$', '') AS src
  FROM triples
)
SELECT DISTINCT stmt AS subj, e.pred AS pred, e.obj_kind AS obj_kind,
       e.obj AS obj, e.datatype AS datatype, e.lang AS lang
FROM rt CROSS JOIN UNNEST([
  {{'pred': '{_RDF_NS}type', 'obj_kind': 'iri', 'obj': '{_RDF_NS}Statement',
    'datatype': CAST(NULL AS VARCHAR), 'lang': CAST(NULL AS VARCHAR)}},
  {{'pred': '{_RDF_NS}subject', 'obj_kind': 'iri', 'obj': subj,
    'datatype': CAST(NULL AS VARCHAR), 'lang': CAST(NULL AS VARCHAR)}},
  {{'pred': '{_RDF_NS}predicate', 'obj_kind': 'iri', 'obj': pred,
    'datatype': CAST(NULL AS VARCHAR), 'lang': CAST(NULL AS VARCHAR)}},
  {{'pred': '{_RDF_NS}object', 'obj_kind': obj_kind, 'obj': obj,
    'datatype': datatype, 'lang': lang}},
  {{'pred': '{_PROV_DF}', 'obj_kind': 'iri', 'obj': src,
    'datatype': CAST(NULL AS VARCHAR), 'lang': CAST(NULL AS VARCHAR)}}
]) AS u(e)
"""


@query(oracle=_KG_REIFY_SQL)
def q_kg_reify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDF reification with per-statement provenance
    (canonical.reify_statements): every native transcript triple
    becomes a content-addressed statement node (base + md5 of the
    quad) carrying rdf:type/subject/predicate/object plus
    prov:wasDerivedFrom the conversation IRI — the trace-back-to-
    source layer a trillion-turn KG needs. Pure projection +
    5-way explode + md5-keyed dedup; zero other shuffles. Oracle: the
    same md5 statement id + UNNEST in SQL."""
    from json_ld_spark.operators.canonical import reify_statements
    from json_ld_spark.operators.native import transcript_triples_native

    _utc(spark)
    t = transcripts_from_documents(spark, sf_dir)
    tri = (
        transcript_triples_native(t, with_doc_id=False)
        .select(*TRIPLE_COLS)
        .withColumn("src", F.regexp_replace(F.col("subj"), "/turn/[0-9]+$", ""))
    )
    return reify_statements(
        tri, base="https://example.org/stmt/", source_col="src"
    )
