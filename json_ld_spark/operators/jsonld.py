"""Spark stages for the JSON-LD pipeline: expand / flatten / triples / frame.

Architecture (SURVEY.md §1.3, §3.3): document-local algorithms (expansion,
node-map walk, quad emission, framing) run inside one Arrow-batched
`mapInPandas` kernel, `_doc_stage` — one Python call per partition batch,
never per row crossing the JVM boundary. Each stage only supplies a
per-document function and its output schema; options, loader, active
context and quarantine are the kernel's. Cross-document work (node merge,
dedup, linking, canonicalization) is DataFrame-native in the other
operator modules.

Quarantine: a document that raises `JsonLdError` or is not JSON becomes
an error row (expand / flatten / frame) or no rows (triples); any other
exception is a bug and fails the job.

Blank-node determinism: inside each document the sequential generator
produces the reference's labels ("b0", "b1", …;
crates/core/src/flattening/environment.rs). For the corpus triple table
the generator's prefix carries a hash of the doc_id ("_:g<sha256[:12]>b0",
SURVEY.md §1.3 "Generator" row), so labels are born globally unique and
deterministic with no cross-partition coordination.
"""

from __future__ import annotations

import hashlib
import json
from typing import Any, Callable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..api import _initial_context
from ..canonicalize import canonicalize_quads
from ..context import ActiveContext, dict_loader, no_loader
from ..errors import JsonLdError
from ..expand import expand_document
from ..nodemap import BlankGen, flatten_expanded
from ..options import JsonLdOptions, options_payload
from ..rdf import expanded_to_quads

try:  # orjson is ~5x stdlib json for parse; fall back transparently
    import orjson

    def _loads(s: str) -> Any:
        return orjson.loads(s)

except ImportError:  # pragma: no cover
    def _loads(s: str) -> Any:
        return json.loads(s)


TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("graph", T.StringType(), True),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_kind", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("datatype", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

EXPANDED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("expanded", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("n_warnings", T.IntegerType(), False),
    ]
)

FLATTENED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("node_json", T.StringType(), True),
        T.StructField("node_id", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)

FRAMED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("framed", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
    ]
)


def _doc_hash_prefix(doc_id: str) -> str:
    return hashlib.sha256(doc_id.encode("utf-8")).hexdigest()[:12]


def _doc_stage(
    df: DataFrame,
    per_doc: Callable[[Any, Any, ActiveContext, JsonLdOptions], list],
    schema: T.StructType,
    context: Any,
    options: JsonLdOptions | None,
    context_registry: dict | None,
    doc_col: str,
    id_col: str,
    error_row: Optional[Callable[[str], tuple]],
) -> DataFrame:
    """The one document-stage kernel. Per task: options and loader are
    rebuilt once (the loader is not shipped, the registry is) and the
    active context comes from `api._initial_context`, which caches only
    loader-free contexts — a registry can serve different content under
    the same IRI. Per document: parse, then
    `per_doc(doc_id, parsed_doc, active, opts)` returns the output rows
    as tuples in schema order; a malformed document yields
    `(doc_id, *error_row(msg))`, or nothing when `error_row` is None."""
    payload = options_payload(options or JsonLdOptions())
    columns = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        opts = JsonLdOptions(
            **payload,
            loader=dict_loader(context_registry) if context_registry else no_loader,
        )
        active = _initial_context(opts.with_(expand_context=context), None)
        for pdf in batches:
            rows: list = []
            # tolist() beats Series.__iter__ by ~2x for string columns
            for doc_id, doc in zip(pdf[id_col].tolist(), pdf[doc_col].tolist()):
                try:
                    rows += per_doc(doc_id, _loads(doc), active, opts)
                except (JsonLdError, json.JSONDecodeError) as ex:
                    if error_row is not None:
                        rows.append((doc_id, *error_row(f"{type(ex).__name__}: {ex}")))
            yield pd.DataFrame(rows, columns=columns)

    return df.mapInPandas(run, schema=schema)


def expand_stage(
    df: DataFrame,
    context: Any = None,
    options: JsonLdOptions | None = None,
    context_registry: dict | None = None,
    doc_col: str = "doc",
    id_col: str = "doc_id",
) -> DataFrame:
    """doc JSON column → expanded JSON column (errors captured per row,
    not poisoning the batch — the quarantine pattern of SURVEY.md §2 D3)."""

    def per_doc(doc_id, doc, active, opts):
        expanded, warnings = expand_document(doc, active, opts, opts.base)
        return [(doc_id, json.dumps(expanded, ensure_ascii=False), None, len(warnings))]

    return _doc_stage(
        df, per_doc, EXPANDED_SCHEMA, context, options, context_registry,
        doc_col, id_col, lambda msg: (None, msg, 0),
    )


def triples_stage(
    df: DataFrame,
    context: Any = None,
    options: JsonLdOptions | None = None,
    context_registry: dict | None = None,
    doc_col: str = "doc",
    id_col: str = "doc_id",
    globalize_bnodes: bool = True,
    canonical_bnodes: bool = False,
) -> DataFrame:
    """doc JSON column → triple rows (the full §3.3 flagship path:
    expand → node map → quads, one fused Arrow pass per partition).
    Malformed documents emit no rows.

    globalize_bnodes: label blank nodes "_:g<sha256(doc_id)[:12]>b<n>".
    canonical_bnodes: content-hash canonical labels (golden comparison).
    """
    global_labels = globalize_bnodes and not canonical_bnodes

    def per_doc(doc_id, doc, active, opts):
        expanded, _w = expand_document(doc, active, opts, opts.base)
        gen = BlankGen(f"g{_doc_hash_prefix(str(doc_id))}b") if global_labels else BlankGen()
        quads = expanded_to_quads(
            expanded,
            rdf_direction=opts.rdf_direction,
            produce_generalized_rdf=opts.produce_generalized_rdf,
            gen=gen,
            mutate_ok=True,
        )
        if canonical_bnodes:
            quads = canonicalize_quads(quads)
        return [(doc_id, *q) for q in quads]

    return _doc_stage(
        df, per_doc, TRIPLE_SCHEMA, context, options, context_registry,
        doc_col, id_col, None,
    )


def flatten_stage(
    df: DataFrame,
    context: Any = None,
    options: JsonLdOptions | None = None,
    context_registry: dict | None = None,
    doc_col: str = "doc",
    id_col: str = "doc_id",
) -> DataFrame:
    """doc → one row per flattened node (expanded → node map → flat)."""

    def per_doc(doc_id, doc, active, opts):
        expanded, _w = expand_document(doc, active, opts, opts.base)
        flat = flatten_expanded(expanded, ordered=True, gen=BlankGen())
        return [(doc_id, json.dumps(n, ensure_ascii=False), n.get("@id"), None) for n in flat]

    return _doc_stage(
        df, per_doc, FLATTENED_SCHEMA, context, options, context_registry,
        doc_col, id_col, lambda msg: (None, None, msg),
    )


def frame_stage(
    df: DataFrame,
    frame_doc: dict,
    context: Any = None,
    options: JsonLdOptions | None = None,
    context_registry: dict | None = None,
    doc_col: str = "doc",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed JSON-LD framing (frame.py — beyond-reference: the
    reference workspace has no framing crate): per-document
    expand → frame → compact against the frame's context.

    The frame is an authored document (small by construction), so it is
    frame-expanded ONCE on the driver and shipped to executors in the
    task closure — per-row work is document-local, the stage is a
    mapInPandas projection with no shuffle, and output JSON is
    key-sorted so byte-equality is partition-invariant."""
    from ..api import expand as _expand
    from ..frame import finalize_framed, frame_expanded

    opts = options or JsonLdOptions()
    frame_opts = opts.with_(
        frame_expansion=True,
        loader=dict_loader(context_registry) if context_registry else no_loader,
    )
    expanded_frame = _expand(frame_doc, frame_opts, opts.base)
    frame_ctx = frame_doc.get("@context") if isinstance(frame_doc, dict) else None

    def per_doc(doc_id, doc, active, opts):
        expanded, _w = expand_document(doc, active, opts, opts.base)
        framed = frame_expanded(expanded, expanded_frame, opts)
        result = finalize_framed(framed, frame_ctx, opts, opts.base)
        return [(doc_id, json.dumps(result, ensure_ascii=False, sort_keys=True), None)]

    return _doc_stage(
        df, per_doc, FRAMED_SCHEMA, context, opts, context_registry,
        doc_col, id_col, lambda msg: (None, msg),
    )


def from_rdf_stage(
    triples: DataFrame,
    group_col: str = "doc_id",
    options: "JsonLdOptions | None" = None,
) -> DataFrame:
    """Inverse of triples_stage: corpus triple table → one expanded
    JSON-LD document per group (fromrdf.py, reference
    serialization.rs:238-392), via applyInPandas per group.

    Scale shape: the shuffle key is the document/conversation id, so
    group state is one document's quads — bounded memory per task
    regardless of corpus size. List folding and literal decoding are
    group-local; no cross-group state.
    """
    opts = options or JsonLdOptions()
    ordered = opts.ordered
    rdf_direction = opts.rdf_direction
    native = opts.use_native_types
    use_rdf_type = opts.use_rdf_type

    out_schema = T.StructType(
        [
            T.StructField(group_col, T.StringType(), False),
            T.StructField("expanded", T.StringType(), True),
        ]
    )

    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        from ..fromrdf import from_rdf

        quads = [
            (
                None if g is None or (isinstance(g, float)) else g,
                s, p, k, o,
                None if dt is None or (isinstance(dt, float)) else dt,
                None if lg is None or (isinstance(lg, float)) else lg,
            )
            for g, s, p, k, o, dt, lg in zip(
                pdf["graph"], pdf["subj"], pdf["pred"], pdf["obj_kind"],
                pdf["obj"], pdf["datatype"], pdf["lang"],
            )
        ]
        doc = from_rdf(
            quads, ordered=ordered, rdf_direction=rdf_direction,
            use_native_types=native, use_rdf_type=use_rdf_type,
        )
        return pd.DataFrame(
            {
                group_col: [pdf[group_col].iloc[0]],
                "expanded": [json.dumps(doc, ensure_ascii=False)],
            }
        )

    return triples.groupBy(group_col).applyInPandas(assemble, schema=out_schema)


def node_table(triples: DataFrame) -> DataFrame:
    """Corpus node table from the triple table — the distributed
    `merge_node` (crates/core/src/flattening/node_map.rs:211-262) as ONE
    hash aggregation: types concat-distinct, predicate set, degree.

    Plan note: n_docs uses size(collect_set(...)) instead of
    count_distinct — count_distinct expands to a second aggregate keyed
    by (graph, subj, doc_id) and costs an extra Exchange; collect_set
    fuses into the same ObjectHashAggregate. HashPartitioning(subj)
    satisfies the (graph, subj) merge keys, so input that is all
    subj-partitioned — build_kg's union of deduped quads and mention
    quads — merges with no Exchange of its own.
    """
    return (
        triples.groupBy("graph", "subj")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.collect_list(F.when(F.col("pred") == F.lit(RDF_TYPE_IRI), F.col("obj")))
                )
            ).alias("types"),
            F.array_sort(F.array_distinct(F.collect_list("pred"))).alias("preds"),
            F.count(F.lit(1)).alias("out_degree"),
            F.size(F.collect_set("doc_id")).cast("long").alias("n_docs"),
        )
        .withColumnRenamed("subj", "node_id")
    )


RDF_TYPE_IRI = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def dedup_triples(triples: DataFrame) -> DataFrame:
    """ExpandedDocument set semantics at corpus level: exact-duplicate
    quads collapse (dropDuplicates = hash-partitioned distinct)."""
    return triples.dropDuplicates(
        ["graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang"]
    )
