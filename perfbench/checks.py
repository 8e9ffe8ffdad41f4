"""Output checks, run outside the timed region.

Each check compares what the program produced against a reference the
benchmark computes another way on the same input:

- kg_native: the WAP manifest's per-bucket row counts and fingerprints
  against the same figures over ``transcript_triples_native`` plus
  linking, bucketed the way ``materialize_kg`` buckets.
- kg_generic: the node table of ``build_kg(engine="generic")`` against
  ``node_table`` over the native triples plus linking. The node table's
  aggregates are taken by ``DataFrame.observe`` on the timed plan; only
  the comparison runs afterwards.
- nested JSON-LD docs (the canonicalization layer of the traced run):
  the set of documents that produced no triples against the injected
  set, and the triples, before and after blank-node canonicalization,
  against serial ``api.to_rdf`` over the good documents in this process.

Fingerprints are order-free: the decimal sum of ``xxhash64`` over the
columns, so the check never collects the output.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from json_ld_spark import api
from json_ld_spark.operators import checkpoint as cp
from json_ld_spark.operators.jsonld import TRIPLE_SCHEMA, dedup_triples, node_table
from json_ld_spark.operators.linking import extract_mentions, link_entities, mention_triples
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.rdf import RDF_TYPE
from json_ld_spark.sources.transcripts import TRANSCRIPT_VOCAB

QUAD_COLS = ["graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang"]
TRIPLE_COLS = QUAD_COLS + ["doc_id"]
NODE_COLS = ["graph", "node_id", "types", "preds", "out_degree", "n_docs"]
TEXT_PRED = TRANSCRIPT_VOCAB + "text"
TURN_TYPE = TRANSCRIPT_VOCAB + "Turn"


def fingerprint(cols: list) -> Column:
    # decimal sum: xxhash64 values overflow an ANSI long sum
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def _is_bnode(c: Column) -> Column:
    return F.coalesce(c.startswith("_:"), F.lit(False))


def reference_triples(transcripts: DataFrame, dictionary: DataFrame) -> DataFrame:
    """Native extraction plus mention links, each side deduplicated: the
    triple set ``build_kg`` must publish for this input."""
    native = dedup_triples(transcript_triples_native(transcripts))
    text = native.filter(F.col("pred") == TEXT_PRED).select("subj", F.col("obj").alias("text"))
    links = link_entities(extract_mentions(text, text_col="text", subject_col="subj"), dictionary)
    mentions = dedup_triples(mention_triples(links).withColumn("doc_id", F.col("subj")))
    return native.select(*TRIPLE_COLS).unionByName(mentions.select(*TRIPLE_COLS))


def bucket_of(n_buckets: int) -> Column:
    """The conversation bucket ``materialize_kg`` derives from a turn IRI."""
    conv = F.regexp_extract("subj", r"/conv/([^/]+)/turn/", 1)
    return F.pmod(F.xxhash64(conv), F.lit(n_buckets)).cast("int")


def reference_buckets(triples: DataFrame, n_buckets: int) -> dict[int, tuple[int, str]]:
    """bucket -> (rows, fingerprint), bucketed as ``materialize_kg`` does."""
    rows = (
        triples.groupBy(bucket_of(n_buckets).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), fingerprint(TRIPLE_COLS).alias("fp"))
        .collect()
    )
    return {r["b"]: (r["n"], r["fp"]) for r in rows}


def manifest_buckets(out_dir: str) -> dict[int, tuple[int, str]]:
    buckets = cp.read_manifest(out_dir)["buckets"]
    return {int(b): (v["rows"], v["fingerprint"]) for b, v in buckets.items()}


def node_aggs() -> list[Column]:
    """Aggregates over a transcript node table; used both in
    ``DataFrame.observe`` on the timed output and on the reference."""
    return [
        F.count(F.lit(1)).alias("rows"),
        fingerprint(NODE_COLS).alias("fp"),
        F.sum(F.array_contains("types", TURN_TYPE).cast("long")).alias("turn_nodes"),
    ]


def agg_row(df: DataFrame, aggs: list[Column]) -> dict:
    return df.agg(*aggs).first().asDict()


def masked_triple_aggs() -> list[Column]:
    """Count and fingerprint of triples with every blank-node label
    replaced by ``_:``, so per-engine labelling does not matter."""
    mask = lambda c, cond: F.when(cond, F.lit("_:")).otherwise(F.col(c))  # noqa: E731
    cols = [
        mask("graph", _is_bnode(F.col("graph"))),
        mask("subj", _is_bnode(F.col("subj"))),
        F.col("pred"),
        F.col("obj_kind"),
        mask("obj", F.col("obj_kind") == "bnode"),
        F.col("datatype"),
        F.col("lang"),
        F.col("doc_id"),
    ]
    return [F.count(F.lit(1)).alias("rows"), fingerprint(cols).alias("fp")]


def serial_quads(doc_rows: list, bad: set[str]) -> list[tuple]:
    """Serial ``api.to_rdf`` over the good docs as rows of TRIPLE_SCHEMA,
    blank-node labels made unique per document."""
    out = []
    for doc_id, doc in doc_rows:
        if doc_id in bad:
            continue
        for quad in api.to_rdf(json.loads(doc)):
            out.append(
                (doc_id,)
                + tuple(
                    f"_:{doc_id}.{t[2:]}" if isinstance(t, str) and t.startswith("_:") else t
                    for t in quad
                )
            )
    return out


def nested_reference(spark: SparkSession, doc_rows: list, bad: set[str]) -> dict:
    """``masked_triple_aggs`` of serial ``api.to_rdf`` over the good docs."""
    ref = spark.createDataFrame(serial_quads(doc_rows, bad), TRIPLE_SCHEMA)
    return agg_row(ref, masked_triple_aggs())


def bnode_labels(triples: DataFrame) -> int:
    """Distinct blank-node labels in subject or object position."""
    subj = triples.select(F.col("subj").alias("b")).where(_is_bnode(F.col("b")))
    obj = triples.where(F.col("obj_kind") == "bnode").select(F.col("obj").alias("b"))
    return subj.union(obj).distinct().count()


def failed_docs(docs: DataFrame, triples: DataFrame, bound: int) -> set[str]:
    """Doc ids of ``docs`` with no row in ``triples``; fails past ``bound``."""
    rows = (
        docs.select("doc_id")
        .join(triples.select("doc_id").distinct(), "doc_id", "left_anti")
        .limit(bound + 1)
        .collect()
    )
    if len(rows) > bound:
        raise RuntimeError(f"more than {bound} documents produced no triples")
    return {r["doc_id"] for r in rows}


def turn_nodes(out_dir: str, spark: SparkSession) -> int:
    """Turns that reached the published triple table (one rdf:type each)."""
    return cp.read_published(spark, out_dir).where(F.col("pred") == RDF_TYPE).count()
