"""End-to-end KG construction pipeline (BASELINE.json north_star):

transcripts → per-turn JSON-LD → triple extraction → entity linking →
dedup/merge → triple + node tables → write-audit-publish materialize.

Shuffle plan: scan → triple emission (codegen or Arrow UDF) → ONE
repartition by subj, into a fixed spark.sql.shuffle.partitions count →
quad dedup, mention linking (broadcast joins) and node merge, all on
that subj partitioning → WAP write rebalanced by bucket. The count is
fixed because the text rows' bytes understate the ~52× mention work
after them (see build_kg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..options import JsonLdOptions
from ..sources.transcripts import TRANSCRIPT_CONTEXT, TRANSCRIPT_VOCAB, turns_to_jsonld
from ..operators.jsonld import dedup_triples, node_table, triples_stage
from ..operators.native import transcript_triples_native
from ..operators.linking import extract_mentions, link_entities, mention_triples
from ..operators import checkpoint as cp

TEXT_PRED = TRANSCRIPT_VOCAB + "text"


def transcript_triples(
    transcripts: DataFrame, engine: str = "native"
) -> DataFrame:
    """Triple extraction over the transcript table.

    engine='native': pure Catalyst projection (the scale path).
    engine='generic': the full JSON-LD engine via Arrow UDF batches —
    same output, used for parity checks and for any schema the native
    partial evaluation doesn't cover.
    """
    if engine == "native":
        return transcript_triples_native(transcripts)
    docs = turns_to_jsonld(transcripts)
    return triples_stage(docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions())


def build_kg(
    transcripts: DataFrame,
    entity_dictionary: DataFrame | None = None,
    engine: str = "native",
    link_strategy: str = "broadcast",
) -> dict[str, DataFrame]:
    """Compose the full pipeline; returns {'triples', 'nodes', 'links'}.

    Shuffle plan: ONE repartition by subj right after extraction. Every
    later key contains subj — the 7 quad-dedup keys, (subj, text),
    (subj, surface), (graph, subj) — so with the default broadcast
    linking no other step adds an Exchange. The text branch is filtered
    below the repartition by Catalyst and gets its own small subj
    Exchange, so the extraction runs twice (the generic engine's Python
    stage too).

    The repartition has a fixed count, the session's
    spark.sql.shuffle.partitions, because AQE never coalesces a numbered
    repartition. A plain one is sized by its bytes, and the text
    Exchange's bytes understate the work after it: 6000 turns are ~1 MB
    of text, which AQE would merge into ONE partition, while each turn
    explodes into ~52 mentions that are linked and written as quads, so
    one task would run all of the linking. With the fixed count every
    task links its own share of the turns, and both union inputs stay
    on the same subj partitions.
    """
    n_parts = int(transcripts.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    parted = transcript_triples(transcripts, engine=engine).repartition(
        n_parts, "subj"
    )
    # dedup BEFORE the mention union: the mention predicate
    # (transcript#mentions) is disjoint from the extraction predicates,
    # so dedup(a ∪ b) = dedup(a) ∪ dedup(b), and neither side re-shuffles
    triples = dedup_triples(parted)

    links = None
    if entity_dictionary is not None:
        # text rows come from the subj-partitioned extraction: the
        # (subj, text) dedup, the (subj, surface) link aggregates and the
        # mention dedup all cluster on subj, so none adds an Exchange
        # (final AQE plan of the nodes on 6000 turns: 5 shuffle stages → 2)
        text_rows = (
            parted.filter(F.col("pred") == TEXT_PRED)
            .select("subj", F.col("obj").alias("text"))
            .dropDuplicates(["subj", "text"])
        )
        mentions = extract_mentions(text_rows, text_col="text", subject_col="subj")
        links = link_entities(mentions, entity_dictionary, strategy=link_strategy)
        mention_tr = dedup_triples(
            mention_triples(links).withColumn("doc_id", F.col("subj"))
        )
        triples = triples.select(
            "graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang", "doc_id"
        ).unionByName(mention_tr.select(
            "graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang", "doc_id"
        ))

    nodes = node_table(triples)
    return {"triples": triples, "nodes": nodes, "links": links}


def materialize_kg(
    transcripts: DataFrame,
    out_dir: str,
    entity_dictionary: DataFrame | None = None,
    n_buckets: int = 32,
    engine: str = "native",
    bucketed_table: str | None = None,
) -> dict:
    """Resumable materialization: only not-yet-committed conversation
    buckets are processed (operators/checkpoint.py).

    ``bucketed_table``: additionally publish the triple table as a
    subj-bucketed (sorted) managed table — the triple-store layout.
    The bucketing shuffle is paid ONCE here; every later subj-keyed
    join or aggregation over the table (node merge, BGP star joins,
    point lookups) plans with ZERO Exchange and bucket pruning
    (SelectedBucketsCount) — see PLANS.md §19/§25. Refreshed from the
    published data even when the WAP resume finds nothing new to
    process, so the table always exists in the current catalog."""

    todo = cp.remaining_buckets(transcripts, out_dir, n_buckets, "conv_id")
    if not todo.take(1):
        result = {"run_id": None, "published_buckets": [], "total_rows": 0}
    else:
        parts = build_kg(
            todo.drop(cp.BUCKET_COL), entity_dictionary, engine=engine
        )
        # every subject in this pipeline is a turn IRI
        # (https://…/conv/<conv_id>/turn/<i>), so the bucket derives from
        # the same conv_id key the resume filter uses
        out = parts["triples"].withColumn(
            cp.BUCKET_COL,
            F.pmod(
                F.xxhash64(F.regexp_extract("subj", r"/conv/([^/]+)/turn/", 1)),
                F.lit(n_buckets),
            ).cast("int"),
        )
        result = cp.write_audit_publish(out, out_dir, n_buckets, key_col="conv_id")
    if bucketed_table is not None:
        spark = transcripts.sparkSession
        # refresh only when the published data changed or this session's
        # catalog does not have the table yet (the catalog dies with the
        # session; the data is WAP-committed and deterministic, so an
        # existing same-session table is already current)
        if result["run_id"] is not None or not spark.catalog.tableExists(
            bucketed_table
        ):
            published = cp.read_published(spark, out_dir).drop(cp.BUCKET_COL)
            cp.write_bucketed_table(
                published, bucketed_table, ["subj"], n_buckets=n_buckets
            )
        result["bucketed_table"] = bucketed_table
    return result
