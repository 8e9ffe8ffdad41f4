"""The workloads: inputs, the timed operation, its output check, and
the traced pass that calls each layer on its own.

Every workload has the same shape:

- ``setup()`` builds and caches the inputs from the seed (run several
  times; the last copy stays cached);
- ``prepare_check()`` computes the reference outputs, untimed;
- ``iterate(i)`` is the timed operation, from the cached input to the
  published or sunk output;
- ``check(handle)`` checks one iteration's output, untimed, and returns
  (ok, share of input docs that produced output);
- ``traced_pass(tracer)`` calls each layer of the workload's own
  pipeline through its public entry point, in its own span, on inputs
  persisted beforehand in ``trace.persist`` spans, and records the layer
  counts in ``counts``; ``side_spans`` does the same for the layers the
  pipeline skips, and ``early_spans``, run first, for the ``plans.kg``
  entry points and the Arrow hand-off.
"""

from __future__ import annotations

import copy
import os
import shutil
import statistics
import time

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

import checks
import gen
from json_ld_spark.context import ActiveContext, process_context
from json_ld_spark.expand import expand_document
from json_ld_spark.nodemap import BlankGen
from json_ld_spark.operators import checkpoint as cp
from json_ld_spark.operators.canonical import canonicalize_bnodes_df
from json_ld_spark.operators.jsonld import _loads, dedup_triples, node_table, triples_stage
from json_ld_spark.operators.linking import (
    extract_mentions,
    link_entities,
    mention_triples,
    synthesize_entity_dictionary,
)
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.options import JsonLdOptions
from json_ld_spark.plans.kg import TEXT_PRED, build_kg, materialize_kg
from json_ld_spark.rdf import expanded_to_quads
from json_ld_spark.sources.transcripts import (
    TRANSCRIPT_CONTEXT,
    transcripts_from_documents,
    turns_to_jsonld,
)

# materialize_kg's default of 32 buckets makes 256 files of about 14 KB
# from this input (32 per shuffle partition); creating and re-reading
# them took about half the write's time and doubled its run-to-run
# spread. 8 buckets keep the write, audit and publish steps with 64 files.
N_BUCKETS = 8
KERNEL_SAMPLE = 200  # docs timed one by one in this process
KERNEL_REPEATS = 5
NESTED_DOCS = 250  # docs for the canonicalization layer
STAGE_ROUNDS = 3  # rounds of the hand-off and globalize spans


def noop(df: DataFrame) -> None:
    """Run the whole plan without keeping the rows; unlike ``count()``,
    Catalyst cannot prune the columns being measured."""
    df.write.format("noop").mode("overwrite").save()


def identity_map_in_pandas(df: DataFrame) -> DataFrame:
    """A no-op ``mapInPandas`` over ``df``: the Arrow hand-off to the
    Python workers and back, with no work on the Python side."""

    def same(batches):
        yield from batches

    return df.mapInPandas(same, schema=df.schema)


class Workload:
    """Seeded transcripts and an entity dictionary. The traced run covers
    every layer on this input: the workload's own pipeline inside
    ``trace.pass``, and the layers it skips (the other extraction engine,
    the WAP write, the Arrow hand-off, canonicalization of nested docs) as
    side spans, so each layer is measured on either workload."""

    name = ""
    engine = ""  # the extraction engine the workload times
    writes = False  # whether the timed operation publishes through WAP
    n_docs = 3000
    amplify = 2
    warmup = 2  # untimed iterations first: the JIT's speed-up is mostly over by then
    docs_in = 0  # input documents per iteration
    quads = 0  # output quads per iteration, fixed by the checked reference
    trace_ok = True  # the checks made during the traced run passed

    def __init__(self, spark: SparkSession, work_dir: str, seed: int):
        self.spark = spark
        self.work = work_dir
        self.seed = seed
        self.counts: dict[str, float] = {}
        self._cached: list[DataFrame] = []
        self._layer_inputs: list[DataFrame] = []

    def _cache(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.cache()
        self._cached.append(df)
        return df, df.count()

    def _drop_inputs(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def _persist(self, tr, make) -> tuple[DataFrame, int]:
        """Build ``make()`` and persist it in a ``trace.persist`` span. A
        callable, because some layers (canonicalization) run jobs when
        called, not only when their output is consumed."""
        with tr.span("trace.persist"):
            df = make().persist()
            self._layer_inputs.append(df)
            return df, df.count()

    def drop_layer_inputs(self) -> None:
        """Unpersist what the traced pass persisted, so that later plans
        do not read it from the cache."""
        for df in self._layer_inputs:
            df.unpersist(blocking=True)
        self._layer_inputs = []

    def setup(self) -> None:
        self._drop_inputs()
        sf = gen.write_documents(os.path.join(self.work, "sf"), self.n_docs, self.seed)
        t0 = time.perf_counter()
        self.transcripts, rows = self._cache(
            transcripts_from_documents(self.spark, sf, amplify=self.amplify)
        )
        self.counts["sources.transcripts.s"] = time.perf_counter() - t0
        self.counts["sources.transcripts.rows"] = rows
        self.dictionary, _ = self._cache(
            synthesize_entity_dictionary(self.spark, sf, gen.DICT_ENTRIES)
        )
        self.docs_in = rows

    def _docs(self) -> DataFrame:
        return turns_to_jsonld(self.transcripts)

    def _stage(self, docs: DataFrame, globalize: bool = True) -> DataFrame:
        return triples_stage(
            docs, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions(), globalize_bnodes=globalize
        )

    def _extraction(self, tr, engine: str) -> tuple[DataFrame, int]:
        """One extraction engine's span, then its output persisted."""
        c = self.counts
        if engine == "native":
            name = "operators.native"
            make = lambda: transcript_triples_native(self.transcripts)  # noqa: E731
        else:
            name = "operators.jsonld.triples_stage"
            make = lambda: self._stage(self.docs)  # noqa: E731
        with tr.span(name):
            noop(make())
        raw, c[f"{name}.quads_out"] = self._persist(tr, make)
        if engine != "native":
            with tr.span("trace.persist"):
                c[f"{name}.docs_out"] = raw.select("doc_id").distinct().count()
        return raw, c[f"{name}.quads_out"]

    def _layer_pass(self, tr, raw: DataFrame, n_raw: int) -> DataFrame:
        """dedup -> mentions -> links -> node table over the persisted
        extraction output ``raw``, composed as ``build_kg`` composes them.
        Returns the persisted triple table that ``node_table`` ran on."""
        c = self.counts
        with tr.span("operators.jsonld.dedup_triples"):
            noop(dedup_triples(raw.repartition("subj")))
        c["operators.jsonld.dedup_triples.quads_in"] = n_raw
        deduped, c["operators.jsonld.dedup_triples.quads_out"] = self._persist(
            tr, lambda: dedup_triples(raw.repartition("subj"))
        )
        text_rows, _ = self._persist(
            tr,
            lambda: raw.filter(F.col("pred") == TEXT_PRED)
            .select("subj", F.col("obj").alias("text"))
            .dropDuplicates(["subj", "text"]),
        )
        with tr.span("operators.linking.extract_mentions"):
            noop(extract_mentions(text_rows, text_col="text", subject_col="subj"))
        mentions, n_mentions = self._persist(
            tr, lambda: extract_mentions(text_rows, text_col="text", subject_col="subj")
        )
        c["operators.linking.extract_mentions.mentions"] = n_mentions
        with tr.span("operators.linking.link_entities"):
            noop(link_entities(mentions, self.dictionary))
        links, n_links = self._persist(tr, lambda: link_entities(mentions, self.dictionary))
        c["operators.linking.link_entities.links"] = n_links
        c["operators.linking.link_entities.links_per_mention"] = n_links / max(n_mentions, 1)
        mention_tr = dedup_triples(mention_triples(links).withColumn("doc_id", F.col("subj")))
        triples, _ = self._persist(
            tr,
            lambda: deduped.select(*checks.TRIPLE_COLS).unionByName(
                mention_tr.select(*checks.TRIPLE_COLS)
            ),
        )
        with tr.span("operators.jsonld.node_table"):
            noop(node_table(triples))
        with tr.span("trace.persist"):
            c["operators.jsonld.node_table.nodes"] = node_table(triples).count()
        return triples

    def _publish(self, tr, triples: DataFrame) -> None:
        """``write_audit_publish`` of the triple table, bucketed as
        ``materialize_kg`` buckets it, into a dir removed afterwards."""
        c = "operators.checkpoint.write_audit_publish"
        staged, _ = self._persist(
            tr, lambda: triples.withColumn(cp.BUCKET_COL, checks.bucket_of(N_BUCKETS))
        )
        out = os.path.join(self.work, "out", "traced")
        with tr.span(c):
            run = cp.write_audit_publish(staged, out, N_BUCKETS, key_col="conv_id")
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(out, "data"))
            for f in files
        )
        shutil.rmtree(out, ignore_errors=True)
        self.counts[f"{c}.bytes_written"] = written
        self.counts[f"{c}.bytes_per_quad"] = written / max(run["total_rows"], 1)
        self.counts[f"{c}.buckets_published"] = len(run["published_buckets"])

    def traced_pass(self, tr) -> None:
        raw, n_raw = self._extraction(tr, self.engine)
        self.triples = self._layer_pass(tr, raw, n_raw)
        if self.writes:
            self._publish(tr, self.triples)

    def early_spans(self, tr) -> None:
        """Spans that have to run before the traced pass persists layer
        outputs, which their plans would otherwise read from the cache:
        the ``plans.kg`` entry points, then STAGE_ROUNDS rounds of the
        Arrow hand-off and of the stage with and without bnode-label
        globalizing. Medians over the rounds are reported: the first
        round may also start the Python workers."""
        out = os.path.join(self.work, "out", "plan")
        with tr.span("plans.kg.materialize_kg"):
            materialize_kg(
                self.transcripts,
                out,
                entity_dictionary=self.dictionary,
                n_buckets=N_BUCKETS,
                engine=self.engine,
            )
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("plans.kg.build_kg"):
            noop(build_kg(self.transcripts, self.dictionary, engine=self.engine)["nodes"])
        self.docs, self.counts["operators.jsonld.triples_stage.docs_in"] = self._persist(
            tr, self._docs
        )
        boundary, globalize = [], []
        for _ in range(STAGE_ROUNDS):
            with tr.span("operators.jsonld.arrow_boundary") as hand_off:
                noop(identity_map_in_pandas(self.docs))
            with tr.span("operators.jsonld.triples_stage.global_labels") as glob:
                noop(self._stage(self.docs))
            with tr.span("operators.jsonld.triples_stage.local_labels") as local:
                noop(self._stage(self.docs, globalize=False))
            boundary.append(tr.wall(hand_off))
            globalize.append(tr.wall(glob) - tr.wall(local))
        self.counts["operators.jsonld.arrow_boundary_s"] = statistics.median(boundary)
        self.counts["operators.jsonld.globalize_s"] = statistics.median(globalize)

    def side_spans(self, tr) -> None:
        """The layers the workload's own pipeline skips: the other
        extraction engine, the WAP write when the workload does not write,
        and canonicalization over nested docs."""
        self._extraction(tr, "generic" if self.engine == "native" else "native")
        if not self.writes:
            self._publish(tr, self.triples)
        self._canonical_layer(tr)

    def _canonical_layer(self, tr) -> None:
        """``canonicalize_bnodes_df`` over the triples of generated nested
        JSON-LD docs: blank-node authors, affiliations, ``@list`` keywords and
        mentions, the blank-node-heavy input transcripts lack. Untimed checks
        around it: the docs that produce no triples are exactly the injected
        malformed ones, the triples match serial ``api.to_rdf`` on the good
        docs, and relabelling keeps the rows and the number of blank nodes."""
        sf = gen.write_documents(os.path.join(self.work, "nested"), NESTED_DOCS, self.seed)
        bad = gen.bad_doc_ids(NESTED_DOCS, self.seed)
        bad_ids = {str(d) for d in bad}
        docs, _ = self._persist(tr, lambda: gen.nested_docs(self.spark, sf, bad))
        raw, _ = self._persist(tr, lambda: triples_stage(docs))
        with tr.span("trace.persist"):
            rows = [(r["doc_id"], r["doc"]) for r in docs.collect()]
            expected = checks.nested_reference(self.spark, rows, bad_ids)
            bnodes = checks.bnode_labels(raw)
            self.trace_ok &= checks.failed_docs(docs, raw, bound=len(bad_ids)) == bad_ids
            self.trace_ok &= checks.agg_row(raw, checks.masked_triple_aggs()) == expected
        c = "operators.canonical.canonicalize_bnodes_df"
        self.counts[f"{c}.bnodes"] = bnodes
        with tr.span(c):
            canon = canonicalize_bnodes_df(raw)
            noop(canon)
        with tr.span("trace.persist"):
            self.trace_ok &= checks.agg_row(canon, checks.masked_triple_aggs()) == expected
            self.trace_ok &= checks.bnode_labels(canon) == bnodes

    def kernel_sample(self) -> list[str]:
        rows = self._docs().orderBy("conv_id", "turn_idx").limit(KERNEL_SAMPLE).collect()
        return [r["doc"] for r in rows]


class KgNative(Workload):
    """materialize_kg(engine="native") into a fresh output dir."""

    name = "kg_native"
    engine = "native"
    writes = True
    warmup = 4  # its iterations keep speeding up for longer

    def prepare_check(self) -> None:
        ref = checks.reference_triples(self.transcripts, self.dictionary)
        self.ref_buckets = checks.reference_buckets(ref, N_BUCKETS)
        self.quads = sum(n for n, _ in self.ref_buckets.values())

    def iterate(self, i: int) -> str:
        out = os.path.join(self.work, "out", f"iter{i}")
        materialize_kg(
            self.transcripts,
            out,
            entity_dictionary=self.dictionary,
            n_buckets=N_BUCKETS,
            engine=self.engine,
        )
        return out

    def check(self, out: str) -> tuple[bool, float]:
        try:
            ok = checks.manifest_buckets(out) == self.ref_buckets
            turns = checks.turn_nodes(out, self.spark)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        return ok, turns / self.docs_in


class KgGeneric(Workload):
    """build_kg(engine="generic")["nodes"] sunk to noop."""

    name = "kg_generic"
    engine = "generic"

    def prepare_check(self) -> None:
        ref = checks.reference_triples(self.transcripts, self.dictionary)
        self.quads = ref.count()
        self.ref_nodes = checks.agg_row(node_table(ref), checks.node_aggs())

    def iterate(self, i: int) -> Observation:
        # The check's aggregates ride on the timed plan, so that the output
        # checked is the output timed; only their comparison is left for
        # after the loop. In 12 alternating pairs of iterations on 4 vCPUs,
        # the median with them was 3.576 s and without them 3.584 s.
        obs = Observation(f"nodes{i}")
        nodes = build_kg(self.transcripts, self.dictionary, engine=self.engine)["nodes"]
        noop(nodes.observe(obs, *checks.node_aggs()))
        return obs

    def check(self, obs: Observation) -> tuple[bool, float]:
        got = obs.get
        return got == self.ref_nodes, got["turn_nodes"] / self.docs_in


WORKLOADS = {w.name: w for w in (KgNative, KgGeneric)}


def kernel_costs(raw: list[str]) -> dict[str, float]:
    """Serial in-process cost of each JSON-LD kernel on a sample of
    transcript docs, in microseconds: the best of KERNEL_REPEATS passes,
    per doc (per context for context processing). Each kernel is called
    as ``triples_stage`` calls it."""
    opts = JsonLdOptions()
    context = TRANSCRIPT_CONTEXT
    docs = [_loads(s) for s in raw]
    active = process_context(ActiveContext(), context, None)

    def best(fn, n, fresh=lambda: None) -> float:
        """``fn(fresh())``, timed without the ``fresh()`` call."""
        times = []
        for _ in range(KERNEL_REPEATS):
            arg = fresh()
            t0 = time.perf_counter()
            fn(arg)
            times.append(time.perf_counter() - t0)
        return min(times) / n * 1e6

    expanded = [expand_document(d, active, opts, None)[0] for d in docs]
    return {
        "operators.jsonld.parse_us_per_doc": best(lambda _: [_loads(s) for s in raw], len(raw)),
        "context.process_context.us": best(
            lambda _: process_context(ActiveContext(), context, None), 1
        ),
        "expand.expand_document.us_per_doc": best(
            lambda _: [expand_document(d, active, opts, None) for d in docs], len(docs)
        ),
        # mutate_ok lets the node map consume its input, so every pass
        # gets a fresh copy, made outside the timer
        "rdf.expanded_to_quads.us_per_doc": best(
            lambda fresh: [
                expanded_to_quads(e, gen=BlankGen(), mutate_ok=True) for e in fresh
            ],
            len(expanded),
            fresh=lambda: copy.deepcopy(expanded),
        ),
    }
