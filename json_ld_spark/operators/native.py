"""JVM-native triple extraction for fixed-schema documents.

The generic path (operators/jsonld.triples_stage) handles arbitrary
JSON-LD via pandas UDF batches. For the production transcript shape the
@context is fixed and known at plan time, so the whole
expand→node-map→quads pipeline collapses into pure Catalyst column
expressions: no Python at all, fully whole-stage-codegen'd, pushdown-
friendly. This is the 100 TB path; `tests/test_spark_pipeline.py`
asserts it emits byte-identical quads to the generic engine.

Reference parity: this is a partial evaluation of
crates/expansion + crates/core/src/rdf over the TRANSCRIPT_CONTEXT of
sources/transcripts.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..rdf import RDF_TYPE, XSD, XSD_INTEGER, XSD_STRING
from ..sources.transcripts import CONV_BASE, TRANSCRIPT_VOCAB

XSD_DATETIME = XSD + "dateTime"


def transcript_triples_native(transcripts: DataFrame, with_doc_id: bool = True) -> DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts) → triple table, matching
    triples_stage(turns_to_jsonld(df), TRANSCRIPT_CONTEXT) exactly.

    One projection + posexplode-free union: each property becomes a
    column-tuple in a single `inline(array(struct...))` so the source
    scans once and stays in one codegen stage.
    """
    subj = F.concat(
        F.lit(CONV_BASE), F.col("conv_id"), F.lit("/turn/"),
        F.col("turn_idx").cast("string"),
    )
    conv_iri = F.concat(F.lit(CONV_BASE), F.col("conv_id"))
    ts_lex = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    doc_id = F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"))

    def entry(pred: str, kind: str, obj: Column, dt: str | None, lang: str | None):
        return F.struct(
            F.lit(pred).alias("pred"),
            F.lit(kind).alias("obj_kind"),
            obj.cast("string").alias("obj"),
            F.lit(dt).cast("string").alias("datatype"),
            F.lit(lang).cast("string").alias("lang"),
        )

    entries = F.array(
        entry("@type", "iri", F.lit(TRANSCRIPT_VOCAB + "Turn"), None, None),
        entry(TRANSCRIPT_VOCAB + "role", "literal", F.col("role"), XSD_STRING, None),
        entry(TRANSCRIPT_VOCAB + "text", "literal", F.col("text"), XSD_STRING, None),
        entry(TRANSCRIPT_VOCAB + "tool", "literal", F.col("tool"), XSD_STRING, None),
        entry(TRANSCRIPT_VOCAB + "timestamp", "literal", ts_lex, XSD_DATETIME, None),
        entry(TRANSCRIPT_VOCAB + "turnIndex", "literal",
              F.col("turn_idx").cast("string"), XSD_INTEGER, None),
        entry(TRANSCRIPT_VOCAB + "conversation", "iri", conv_iri, None, None),
    )

    cols = [doc_id.alias("doc_id")] if with_doc_id else []
    exploded = transcripts.select(
        *cols,
        subj.alias("subj"),
        F.explode(entries).alias("e"),
    )
    out = exploded.select(
        *(["doc_id"] if with_doc_id else []),
        F.lit(None).cast("string").alias("graph"),
        "subj",
        F.when(F.col("e.pred") == "@type", F.lit(RDF_TYPE))
        .otherwise(F.col("e.pred"))
        .alias("pred"),
        F.col("e.obj_kind").alias("obj_kind"),
        F.col("e.obj").alias("obj"),
        F.col("e.datatype").alias("datatype"),
        F.col("e.lang").alias("lang"),
    )
    # null tool → no quad (expansion drops null values)
    return out.filter(F.col("obj").isNotNull())


def transcript_adjacency_native(
    transcripts: DataFrame, with_doc_id: bool = True
) -> DataFrame:
    """Per-conversation turn-window adjacency triples: for each turn
    except the last, (turn_i, transcript#nextTurn, turn_{i+1}) as an
    IRI-object quad — the `(conv_id, turn_idx)`-ordered turn window of
    the north-star data model materialized INTO the graph, so
    turn-sequence traversals (k-hop context windows, dialogue chains)
    become plain edge queries. One window shuffle partitioned by
    conv_id (a conversation's turns are always co-located; no skew —
    window size = turns per conv), whole-stage-codegen'd like the rest
    of the native path."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    nxt = F.lead("turn_idx").over(w)
    subj = F.concat(
        F.lit(CONV_BASE), F.col("conv_id"), F.lit("/turn/"),
        F.col("turn_idx").cast("string"),
    )
    obj = F.concat(
        F.lit(CONV_BASE), F.col("conv_id"), F.lit("/turn/"),
        F.col("nxt").cast("string"),
    )
    doc_id = F.concat(F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"))
    cols = [doc_id.alias("doc_id")] if with_doc_id else []
    return (
        transcripts.select("conv_id", "turn_idx")
        .withColumn("nxt", nxt)
        .filter(F.col("nxt").isNotNull())
        .select(
            *cols,
            F.lit(None).cast("string").alias("graph"),
            subj.alias("subj"),
            F.lit(TRANSCRIPT_VOCAB + "nextTurn").alias("pred"),
            F.lit("iri").alias("obj_kind"),
            obj.alias("obj"),
            F.lit(None).cast("string").alias("datatype"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


def transcript_context_windows(
    transcripts: DataFrame, k: int = 3, sep: str = "\n"
) -> DataFrame:
    """Per-turn training-sample assembly: for every turn, the
    concatenated text of the previous ``k`` turns of the SAME
    conversation (role-prefixed, turn order), plus the current text —
    the (context, target) pair shape instruction-tuning corpora are
    built from, materialized straight off the `(conv_id, turn_idx)`
    turn windows of the north-star data model.

    One conv-partitioned window per output (a conversation's turns are
    co-located after the single partitionBy shuffle; frame size = k,
    so state is bounded by the window, not the conversation), all
    whole-stage-codegen'd — no Python. Deterministic: the frame order
    IS the (turn_idx) sort order.
    Output: (conv_id, turn_idx, n_context_turns, context, target).
    """
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-k, -1)
    )
    line = F.concat(F.col("role"), F.lit(": "), F.col("text"))
    ctx = F.collect_list(line).over(w)
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.size(ctx).alias("n_context_turns"),
        F.array_join(ctx, sep).alias("context"),
        F.col("text").alias("target"),
    )


def tool_bigrams(transcripts: DataFrame) -> DataFrame:
    """Frequent consecutive tool-call patterns across agent
    transcripts: for every conversation, order the turns that actually
    invoked a tool by turn_idx, form adjacent (tool_a -> tool_b)
    bigrams, and report each pattern's total occurrence count and
    conversation support — the first thing an agent-behavior analysis
    asks of a trillion-turn transcript corpus ("what does the agent do
    right after a search?"). Sequential-pattern-mining base case
    (Agrawal & Srikant 1995's L2 step).

    Plan shape: one filter (tool IS NOT NULL — pushed to the scan),
    one conversation-partitioned window (conversations are bounded:
    thousands of turns, never corpus-sized, so the window partition is
    the natural safe grain), one map-side-combinable pattern agg with
    an exact distinct-conv count. No self-join: lead() makes bigram
    formation linear in turns."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").asc())
    pairs = (
        transcripts.filter(F.col("tool").isNotNull())
        .select("conv_id", "turn_idx", "tool")
        .withColumn("tool_next", F.lead("tool").over(w))
        .filter(F.col("tool_next").isNotNull())
    )
    return pairs.groupBy(
        F.col("tool").alias("tool_a"), F.col("tool_next").alias("tool_b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )
