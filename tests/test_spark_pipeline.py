"""Spark pipeline tests: transcript invariants, native-vs-generic triple
parity, entity linking, node merge, distributed canonicalization,
checkpoint resume. Run on local[4]."""

import hashlib
import json
import os

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from json_ld_spark.operators import checkpoint as cp
from json_ld_spark.operators.canonical import canonicalize_bnodes_df
from json_ld_spark.operators.jsonld import (
    EXPANDED_SCHEMA,
    _doc_stage,
    dedup_triples,
    expand_stage,
    flatten_stage,
    node_table,
    triples_stage,
)
from json_ld_spark.operators.linking import (
    extract_mentions,
    link_entities,
    synthesize_entity_dictionary,
)
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.plans.kg import TEXT_PRED, build_kg, materialize_kg
from json_ld_spark.sources.transcripts import (
    TRANSCRIPT_CONTEXT,
    synthesize_transcripts,
    turns_to_jsonld,
)

QUAD_COLS = ["graph", "subj", "pred", "obj_kind", "obj", "datatype", "lang"]


@pytest.fixture(scope="module")
def transcripts(spark):
    df = synthesize_transcripts(spark, n_convs=20, avg_turns=5).cache()
    df.count()
    return df


def test_transcripts_shape_and_uniqueness(transcripts):
    assert transcripts.columns == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    n = transcripts.count()
    assert transcripts.select("conv_id", "turn_idx").distinct().count() == n
    # zipf-ish skew: conv-0 is hot
    sizes = dict(
        transcripts.groupBy("conv_id").count().collect()[0:0]
        or [(r[0], r[1]) for r in transcripts.groupBy("conv_id").count().collect()]
    )
    assert sizes["conv-0"] == max(sizes.values())


def test_native_matches_generic_engine(spark, transcripts):
    """The Catalyst partial evaluation must emit exactly the quads the
    full JSON-LD engine emits (expand → node map → toRdf)."""
    docs = turns_to_jsonld(transcripts)
    generic = triples_stage(docs, context=TRANSCRIPT_CONTEXT)
    native = transcript_triples_native(transcripts)
    a = {tuple(r) for r in generic.select(QUAD_COLS).collect()}
    b = {tuple(r) for r in native.select(QUAD_COLS).collect()}
    assert a == b and len(a) > 0


def test_per_turn_text_equality_invariant(spark, transcripts):
    """input_hint invariant: text survives the pipeline byte-identical
    under stable (conv_id, turn_idx) ordering."""
    triples = transcript_triples_native(transcripts)
    texts = triples.filter(F.col("pred") == TEXT_PRED).select(
        F.regexp_extract("subj", r"/conv/([^/]+)/turn/", 1).alias("conv_id"),
        F.regexp_extract("subj", r"/turn/(\d+)$", 1).cast("int").alias("turn_idx"),
        F.col("obj").alias("text_out"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    joined = (
        transcripts.withColumn("rn_in", F.row_number().over(w))
        .join(texts, ["conv_id", "turn_idx"], "full_outer")
        .withColumn("eq", F.col("text") == F.col("text_out"))
    )
    assert joined.filter(~F.col("eq") | F.col("eq").isNull()).count() == 0


def test_expand_and_flatten_stages(spark):
    rows = [
        ("d1", '{"@id": "http://n/1", "http://ex/p": {"http://ex/q": "deep"}}'),
        ("d2", '{"@id": "http://n/2", "http://ex/p": "x"}'),
        ("bad", "{not json"),
        ("num_id", '{"@id": 5, "http://ex/p": "x"}'),
        ("num_ctx", '{"@context": 5, "@id": "http://n/3", "http://ex/p": "x"}'),
    ]
    quarantined = {
        "bad": "JSONDecodeError: ",
        "num_id": "InvalidIdValue: ",
        "num_ctx": "InvalidContext: ",
    }
    df = spark.createDataFrame(rows, "doc_id string, doc string")
    exp = expand_stage(df).collect()
    by_id = {r["doc_id"]: r for r in exp}
    assert by_id["d1"]["error"] is None
    for doc_id, prefix in quarantined.items():
        assert by_id[doc_id]["error"].startswith(prefix)
        assert by_id[doc_id]["expanded"] is None
    flat = flatten_stage(df)
    d1_nodes = flat.filter(F.col("doc_id") == "d1").collect()
    assert sorted(r["node_id"] for r in d1_nodes) == ["_:b0", "http://n/1"]
    flat_errors = {
        r["doc_id"]: r["error"] for r in flat.where(F.col("error").isNotNull()).collect()
    }
    assert flat_errors.keys() == quarantined.keys()
    for doc_id, prefix in quarantined.items():
        assert flat_errors[doc_id].startswith(prefix)
    # the triple table has no error column: quarantined docs emit no rows
    triple_docs = {r["doc_id"] for r in triples_stage(df).select("doc_id").collect()}
    assert triple_docs == {"d1", "d2"}


def test_doc_stage_fails_job_on_non_jsonld_error(spark):
    """Only JsonLdError and JSON decode errors are quarantined; any other
    exception is a bug and must fail the job, not vanish."""

    def per_doc(doc_id, doc, active, opts):
        raise KeyError("bug")

    df = spark.createDataFrame([("d1", "{}")], "doc_id string, doc string")
    out = _doc_stage(
        df, per_doc, EXPANDED_SCHEMA, None, None, None, "doc", "doc_id",
        lambda msg: (None, msg, 0),
    )
    with pytest.raises(PythonException, match="KeyError"):
        out.collect()


def test_expand_stage_context_registry_not_cached_across_registries(spark):
    """The same context IRI served by different registries must resolve
    per registry, also when a Python worker is reused between jobs."""
    df = spark.createDataFrame(
        [("d", '{"p": "v"}')], "doc_id string, doc string"
    ).coalesce(1)
    for target in ("http://a/p", "http://b/p", "http://a/p"):
        registry = {"http://ex/ctx": {"@context": {"p": target}}}
        row = expand_stage(
            df, context="http://ex/ctx", context_registry=registry
        ).collect()[0]
        assert row["error"] is None
        assert json.loads(row["expanded"]) == [{target: [{"@value": "v"}]}]


def test_jsonld_operator_has_one_doc_stage_kernel():
    """Structural guard: every document stage goes through _doc_stage —
    one mapInPandas call, and no blanket exception handler."""
    from json_ld_spark.operators import jsonld

    with open(jsonld.__file__, encoding="utf-8") as f:
        src = f.read()
    assert src.count("mapInPandas(") == 1
    assert "except Exception" not in src


def test_triples_stage_globalized_bnodes(spark):
    rows = [
        ("dA", '{"http://ex/p": {"http://ex/q": "x"}}'),
        ("dB", '{"http://ex/p": {"http://ex/q": "x"}}'),
    ]
    df = spark.createDataFrame(rows, "doc_id string, doc string")
    t = triples_stage(df).collect()
    subjects = {r["subj"] for r in t}
    # same structure, different docs -> different globalized labels
    labels_a = {r["subj"] for r in t if r["doc_id"] == "dA"}
    labels_b = {r["subj"] for r in t if r["doc_id"] == "dB"}
    assert labels_a.isdisjoint(labels_b)
    assert all(s.startswith("_:g") for s in subjects)
    # the format _CANON_DIST_SQL replays: "_:g" + sha256(doc_id)[:12] + "b<n>"
    for doc_id, labels in (("dA", labels_a), ("dB", labels_b)):
        prefix = "_:g" + hashlib.sha256(doc_id.encode()).hexdigest()[:12]
        assert labels == {prefix + "b0", prefix + "b1"}
    local = triples_stage(df, globalize_bnodes=False).collect()
    assert {r["subj"] for r in local if r["doc_id"] == "dA"} == {"_:b0", "_:b1"}


def test_node_table_merge(spark, transcripts):
    triples = transcript_triples_native(transcripts)
    nodes = node_table(triples)
    row = nodes.filter(F.col("node_id").endswith("/conv-1/turn/0")).collect()[0]
    assert row["types"] == ["https://example.org/transcript#Turn"]
    assert row["out_degree"] >= 6


def test_entity_linking_broadcast_and_salted(spark, sf_dir):
    dictionary = synthesize_entity_dictionary(spark, sf_dir, max_entities=100).cache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    mentions = extract_mentions(
        docs.select(F.col("doc_id").cast("string").alias("subj"), "text")
    )
    broadcast_links = link_entities(mentions, dictionary, strategy="broadcast")
    salted_links = link_entities(mentions, dictionary, strategy="salted", n_salts=4)
    a = {tuple(r) for r in broadcast_links.select("subj", "surface", "entity_id").collect()}
    b = {tuple(r) for r in salted_links.select("subj", "surface", "entity_id").collect()}
    assert a == b and len(a) > 0


def test_entity_linking_ambiguous_dictionary_tf(spark):
    """Regression (round-1 advice): with an AMBIGUOUS dictionary (one
    surface → several candidate entities), tf must count mentions, not
    mention×candidate joined rows, and the top_k=1 fast path must agree
    with the window path's rank-1 rows."""
    mentions_src = spark.createDataFrame(
        [("s1", "apple banana apple apple")], "subj string, text string"
    )
    mentions = extract_mentions(mentions_src)
    dictionary = spark.createDataFrame(
        [
            ("http://e/apple-fruit", "apple", 0.6),
            ("http://e/apple-corp", "apple", 0.3),
            ("http://e/banana", "banana", 0.1),
        ],
        "entity_id string, surface string, prior double",
    )
    fast = link_entities(mentions, dictionary, top_k=1)
    rows = {r["surface"]: r for r in fast.collect()}
    assert rows["apple"]["tf"] == 3  # not 6 (= 3 mentions × 2 candidates)
    assert rows["apple"]["entity_id"] == "http://e/apple-fruit"
    slow_rank1 = (
        link_entities(mentions, dictionary, top_k=2)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("subj", "surface")
                .orderBy(F.desc("score"), F.asc("entity_id"))
            ),
        )
        .filter(F.col("rk") == 1)
    )
    a = {(r["subj"], r["surface"], r["entity_id"], round(r["score"], 9))
         for r in fast.collect()}
    b = {(r["subj"], r["surface"], r["entity_id"], round(r["score"], 9))
         for r in slow_rank1.collect()}
    assert a == b


def test_distributed_canonicalization_blank_predicates(spark):
    """Generalized-RDF parity: blank predicates are relabeled and
    refine identically to the local canonicalizer (round-1 advice)."""
    rows_a = [
        (None, "_:x1", "_:p1", "bnode", "_:x2", None, None),
        (None, "_:x2", "http://ex/q", "literal", "v", None, None),
    ]
    rows_b = [
        (None, "_:z4", "_:w8", "bnode", "_:z5", None, None),
        (None, "_:z5", "http://ex/q", "literal", "v", None, None),
    ]
    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string"
    ca = canonicalize_bnodes_df(spark.createDataFrame(rows_a, schema)).collect()
    cb = canonicalize_bnodes_df(spark.createDataFrame(rows_b, schema)).collect()
    assert {tuple(r) for r in ca} == {tuple(r) for r in cb}
    preds = {r["pred"] for r in ca}
    assert all(p.startswith("_:c") for p in preds if p.startswith("_:"))
    assert any(p.startswith("_:c") for p in preds)  # relabeled, not original


def test_distributed_canonicalization_isomorphism(spark):
    """Two corpora, same structure, different blank labels → identical
    canonical triple sets (the distributed analogue of
    tests/to_rdf.rs:166-170 bnode-bijection isomorphism)."""
    rows_a = [
        (None, "_:x1", "http://ex/p", "bnode", "_:x2", None, None),
        (None, "_:x2", "http://ex/q", "literal", "v", None, None),
    ]
    rows_b = [
        (None, "_:y9", "http://ex/p", "bnode", "_:y7", None, None),
        (None, "_:y7", "http://ex/q", "literal", "v", None, None),
    ]
    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string"
    ca = canonicalize_bnodes_df(spark.createDataFrame(rows_a, schema)).collect()
    cb = canonicalize_bnodes_df(spark.createDataFrame(rows_b, schema)).collect()
    assert {tuple(r) for r in ca} == {tuple(r) for r in cb}
    assert all(r["subj"].startswith("_:c") for r in ca)


def test_distributed_canonicalization_labels_depend_on_other_components(spark):
    """Labels are not component-local: the round count comes from the
    distinct-hash count over ALL components, so a class that A shares
    with B and that splits only in B moves A's labels too. A component
    -local canonicalizer has to find the global round from such
    cross-component splits, not take the max of per-component rounds."""
    p = "http://ex/p"
    a = [(None, "_:a1", p, "bnode", "_:a2", None, None)]
    b = [
        (None, "_:b1", p, "bnode", "_:b2", None, None),
        (None, "_:b2", p, "bnode", "_:b3", None, None),
    ]
    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string"

    def labels(rows):
        out = canonicalize_bnodes_df(spark.createDataFrame(rows, schema)).collect()
        return {v for r in out for v in (r["subj"], r["obj"]) if v.startswith("_:")}

    alone = labels(a)
    assert alone == {"_:c571b381bcaf31100", "_:c9c98b12acf1dfc6d"}
    assert not alone & labels(a + b)


def test_distributed_canonicalization_matches_local_partition(spark):
    """Distributed refinement must distinguish structurally different
    bnodes exactly like the in-UDF version."""
    from json_ld_spark.canonicalize import canonicalize_quads

    quads = [
        (None, "_:a", "http://ex/p", "literal", "1", None, None),
        (None, "_:b", "http://ex/p", "literal", "2", None, None),
        (None, "_:c", "http://ex/p", "literal", "1", None, None),
    ]
    local = canonicalize_quads(quads)
    # _:a and _:c are automorphic -> same hash, disambiguated; _:b distinct
    local_subjects = sorted(q[1] for q in local)
    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string"
    dist = canonicalize_bnodes_df(spark.createDataFrame(quads, schema)).collect()
    dist_subjects = sorted(r["subj"] for r in dist)
    # all three get distinct labels on both sides
    assert len(set(local_subjects)) == 3 and len(set(dist_subjects)) == 3
    # local: the automorphic pair is separated by URDNA-style marking
    # (distinct full hashes, label-independent); re-canonicalizing a
    # relabeled copy must produce the identical quad set
    relabeled = [(g, s.replace("_:a", "_:x").replace("_:c", "_:y"), p, k, o, d, l)
                 for g, s, p, k, o, d, l in quads]
    assert set(canonicalize_quads(relabeled)) == set(local)
    # distributed: twins are disambiguated by the row-local tiebreaker
    # hash (32-hex labels); the structurally unique bnode keeps the pure
    # 16-hex content-hash label
    assert sorted(len(s) for s in dist_subjects) == [19, 35, 35]


def test_distributed_canonicalization_fixpoint_long_chain(spark):
    """Fixpoint refinement separates a chain deeper than the old fixed
    rounds=3 (a 12-element bnode path has diameter 11): every chain
    position must get a distinct label, agreeing with the local
    canonicalizer's partition."""
    from json_ld_spark.canonicalize import canonical_bnode_labels

    n = 12
    quads = [
        (None, f"_:n{i}", "http://ex/next", "bnode", f"_:n{i+1}", None, None)
        for i in range(n - 1)
    ] + [(None, f"_:n{n-1}", "http://ex/end", "literal", "v", None, None)]
    schema = (
        "graph string, subj string, pred string, obj_kind string, "
        "obj string, datatype string, lang string"
    )
    dist = canonicalize_bnodes_df(spark.createDataFrame(quads, schema)).collect()
    labels = {r["subj"] for r in dist} | {
        r["obj"] for r in dist if r["obj_kind"] == "bnode"
    }
    assert len(labels) == n  # fully separated (rounds=3 left middles tied)
    assert all(len(lab) == 19 for lab in labels)  # no tiebreak suffixes
    # partition agrees with the local canonicalizer (all singletons there too)
    local = canonical_bnode_labels(quads)
    assert len(set(local.values())) == n


def test_distributed_canonicalization_duplicate_heavy_no_window(spark):
    """Byte-identical duplicate documents (the pre-dedup crawl norm):
    every duplicate's bnode shares one refinement hash. The
    disambiguation must (a) stay skew-free — no Window operator in the
    plan (a partitionBy(h) row_number would serialize all duplicates
    through one task) — and (b) still emit globally unique labels."""
    n_dup = 5000
    docs = spark.range(n_dup).selectExpr(
        "CAST(NULL AS STRING) AS graph",
        "concat('_:gdoc', id, 'b0') AS subj",
        "'http://ex/p' AS pred",
        "'literal' AS obj_kind",
        "'same' AS obj",
        "CAST(NULL AS STRING) AS datatype",
        "CAST(NULL AS STRING) AS lang",
    )
    out = canonicalize_bnodes_df(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Window" not in plan, "disambiguation must not use a window"
    rows = out.collect()
    labs = [r["subj"] for r in rows]
    assert len(rows) == n_dup
    assert len(set(labs)) == n_dup  # unique despite identical structure
    assert all(len(lab) == 35 for lab in labs)  # all disambiguated


def test_distributed_canonicalization_fuzz_label_independence(spark):
    """Seeded fuzz over random bnode graphs (chains/rings/trees with
    literal leaves), each duplicated once with fresh input labels (the
    duplicate-heavy corpus shape): canonical labels must be (a) unique
    per bnode, (b) for content-unique bnodes (19-char labels) BIT-STABLE
    under a bijective relabeling of the input — the isomorphism contract
    the dataset-diff operator depends on."""
    import random

    schema = (
        "graph string, subj string, pred string, obj_kind string, "
        "obj string, datatype string, lang string"
    )
    rng = random.Random(7)
    for _trial in range(4):
        n = rng.randint(3, 7)
        quads = []
        for i in range(n):
            j = rng.randrange(n)
            if j != i:
                quads.append(
                    (None, f"_:b{i}", "http://ex/e", "bnode", f"_:b{j}", None, None)
                )
            if rng.random() < 0.7:
                quads.append(
                    (None, f"_:b{i}", "http://ex/v", "literal",
                     str(rng.randint(0, 2)), None, None)
                )
        if not quads:
            continue

        def clone(prefix):
            return [
                (g, s.replace("_:b", prefix), p, k,
                 o.replace("_:b", prefix) if k == "bnode" else o, dt, lg)
                for g, s, p, k, o, dt, lg in quads
            ]

        # corpus: original + a near-duplicate component distinguished by
        # one marker quad (so content-unique bnodes EXIST alongside the
        # automorphic/duplicate ones — keeps the stability check
        # non-vacuous); relabeled: the same two components under a
        # bijective input relabeling
        def marker(prefix):
            return [(None, prefix + "0", "http://ex/marker", "literal", "m",
                     None, None)]

        corpus = quads + clone("_:dup") + marker("_:dup")
        relabeled = clone("_:zz9") + clone("_:qq") + marker("_:qq")

        def run(rows):
            out = canonicalize_bnodes_df(
                spark.createDataFrame(rows, schema)
            ).collect()
            labs = set()
            for r in out:
                if r["subj"].startswith("_:"):
                    labs.add(r["subj"])
                if r["obj_kind"] == "bnode" and r["obj"].startswith("_:"):
                    labs.add(r["obj"])
            return labs

        def input_bnodes(rows):
            s = set()
            for g, sj, p, k, o, dt, lg in rows:
                if sj.startswith("_:"):
                    s.add(sj)
                if k == "bnode" and o.startswith("_:"):
                    s.add(o)
            return s

        labs_a, labs_b = run(corpus), run(relabeled)
        # unique canonical label per input bnode, despite duplicates
        assert len(labs_a) == len(input_bnodes(corpus))
        assert len(labs_b) == len(input_bnodes(relabeled))
        stable_a = {x for x in labs_a if len(x) == 19}
        stable_b = {x for x in labs_b if len(x) == 19}
        assert stable_a == stable_b  # content labels are input-label-free


def test_build_kg_and_dedup(spark, transcripts, sf_dir):
    dictionary = synthesize_entity_dictionary(spark, sf_dir, max_entities=50)
    parts = build_kg(transcripts, dictionary)
    t = parts["triples"]
    assert t.count() == t.dropDuplicates(QUAD_COLS).count()
    assert parts["links"].count() > 0
    assert parts["nodes"].count() > 0


def test_checkpoint_resume_exactness(spark, transcripts, tmp_path):
    out = str(tmp_path / "kg_out")
    r1 = materialize_kg(transcripts, out, n_buckets=8)
    assert len(r1["published_buckets"]) > 0
    total1 = cp.read_published(spark, out).count()

    # simulate a failed run: drop two buckets from the manifest + data
    import json as _json
    import shutil

    mpath = os.path.join(out, "_manifest", "manifest.json")
    with open(mpath) as f:
        manifest = _json.load(f)
    dropped = sorted(manifest["buckets"])[:2]
    for b in dropped:
        del manifest["buckets"][b]
        shutil.rmtree(os.path.join(out, "data", f"bucket={b}"))
    with open(mpath, "w") as f:
        _json.dump(manifest, f)

    r2 = materialize_kg(transcripts, out, n_buckets=8)
    assert sorted(str(b) for b in r2["published_buckets"]) == dropped
    assert cp.read_published(spark, out).count() == total1
    # idempotent: third run is a no-op
    r3 = materialize_kg(transcripts, out, n_buckets=8)
    assert r3["published_buckets"] == []


def test_write_audit_publish_one_file_per_bucket(spark, tmp_path):
    """The WAP write is rebalanced by bucket, so rows of one bucket spread
    over several input partitions still land in a single staged file."""
    df = spark.range(400).repartition(4).select(
        F.concat(F.lit("conv-"), (F.col("id") % 40).cast("string")).alias("conv_id"),
        F.col("id"),
    )
    assert df.rdd.getNumPartitions() == 4
    out = str(tmp_path / "wap")
    res = cp.write_audit_publish(df, out, n_buckets=4)
    assert res["total_rows"] == 400
    assert sorted(res["published_buckets"]) == [0, 1, 2, 3]
    for b in res["published_buckets"]:
        files = [
            f for f in os.listdir(os.path.join(out, "data", f"bucket={b}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (b, files)


def test_write_iceberg_gate(spark, transcripts, tmp_path):
    """Iceberg sink is classpath-gated: without the runtime jars it must
    refuse with a clear error (never silently fall back); with jars the
    snapshot-commit append runs (skip-marked here — container has none)."""
    if not cp.iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg Spark runtime"):
            cp.write_iceberg(transcripts, "local.db.triples")
        return
    pytest.skip("Iceberg jars present: exercise the real sink manually")


def test_dedup_triples_set_semantics(spark):
    rows = [
        (None, "http://n/1", "http://ex/p", "literal", "x", None, None, "d1"),
        (None, "http://n/1", "http://ex/p", "literal", "x", None, None, "d2"),
    ]
    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string, doc_id string"
    df = spark.createDataFrame(rows, schema)
    assert dedup_triples(df).count() == 1


def test_dataset_diff_isomorphic_bnodes(spark):
    """dataset_diff with canonicalization: isomorphic bnode datasets diff
    empty; a perturbed dataset shows exactly the changed quads."""
    from json_ld_spark.operators.diff import dataset_diff, diff_summary

    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string"
    a = spark.createDataFrame([
        (None, "_:x1", "http://ex/p", "bnode", "_:x2", None, None),
        (None, "_:x2", "http://ex/q", "literal", "v", None, None),
    ], schema)
    b = spark.createDataFrame([
        (None, "_:y7", "http://ex/p", "bnode", "_:y9", None, None),
        (None, "_:y9", "http://ex/q", "literal", "v", None, None),
    ], schema)
    row = diff_summary(a, b).collect()[0]
    assert (row["n_only_left"], row["n_only_right"], row["n_common"]) == (0, 0, 2)
    c = spark.createDataFrame([
        (None, "_:z1", "http://ex/p", "bnode", "_:z2", None, None),
        (None, "_:z2", "http://ex/q", "literal", "DIFFERENT", None, None),
    ], schema)
    parts = dataset_diff(a, c)
    assert parts["only_left"].count() == 2  # labels differ once content differs
    assert parts["only_right"].count() == 2


def test_salted_linking_under_heavy_skew(spark):
    """One surface covering ~90% of mentions: salted strategy must agree
    with broadcast exactly, and the salt must actually spread the hot
    key across groups."""
    from json_ld_spark.operators.linking import extract_mentions, link_entities

    rows = [(f"s{i}", "hot hot hot hot rare" if i % 10 else "rare word") for i in range(500)]
    mentions = extract_mentions(
        spark.createDataFrame(rows, "subj string, text string")
    )
    dictionary = spark.createDataFrame(
        [("http://e/hot", "hot", 0.9), ("http://e/rare", "rare", 0.1)],
        "entity_id string, surface string, prior double",
    )
    broadcast = link_entities(mentions, dictionary, strategy="broadcast")
    salted = link_entities(mentions, dictionary, strategy="salted", n_salts=8)
    key = ["subj", "surface", "entity_id", "tf", "first_pos"]
    assert {tuple(r) for r in broadcast.select(*key).collect()} == {
        tuple(r) for r in salted.select(*key).collect()
    }
    from pyspark.sql import functions as F2

    salts = (
        mentions.filter(F2.col("surface") == "hot")
        .withColumn("salt", F2.pmod(F2.xxhash64("subj"), F2.lit(8)).cast("int"))
        .groupBy("salt").count()
    )
    assert salts.count() == 8  # hot key spread over all salt groups


def test_dataset_diff_matches_python_sets(spark):
    """diff_summary (canonicalize=False) must equal plain Python set math
    on randomized quad tables, including NULL columns (the null-safe
    join regression class)."""
    import random

    rng = random.Random(77)
    schema = "graph string, subj string, pred string, obj_kind string, obj string, datatype string, lang string"

    def rand_quads(n):
        out = []
        for _ in range(n):
            out.append((
                rng.choice([None, "http://g/1"]),
                f"http://s/{rng.randint(0, 5)}",
                f"http://p/{rng.randint(0, 3)}",
                "literal",
                f"v{rng.randint(0, 4)}",
                rng.choice([None, "http://www.w3.org/2001/XMLSchema#string"]),
                rng.choice([None, "en"]),
            ))
        return out

    from json_ld_spark.operators.diff import diff_summary

    for trial in range(5):
        a, b = rand_quads(30), rand_quads(30)
        row = diff_summary(
            spark.createDataFrame(a, schema),
            spark.createDataFrame(b, schema),
            canonicalize=False,
        ).collect()[0]
        sa, sb = set(a), set(b)
        assert row["n_only_left"] == len(sa - sb), trial
        assert row["n_only_right"] == len(sb - sa), trial
        assert row["n_common"] == len(sa & sb), trial


def test_build_kg_with_linking_engine_parity(spark, transcripts):
    """Full build_kg (extraction + mention linking + dedup) must emit
    the identical KG from the native and generic engines — including
    the mention path, which reads the subj-partitioned extraction of
    whichever engine is active."""
    from json_ld_spark.plans.kg import build_kg

    dictionary = spark.createDataFrame(
        [
            ("https://e/entity/test", "test", 0.4),
            ("https://e/entity/ascii", "ascii", 0.3),
            ("https://e/entity/data", "data", 0.3),
        ],
        "entity_id string, surface string, prior double",
    )
    cols = QUAD_COLS
    a = {
        tuple(r)
        for r in build_kg(transcripts, dictionary, engine="native")["triples"]
        .select(cols)
        .collect()
    }
    b = {
        tuple(r)
        for r in build_kg(transcripts, dictionary, engine="generic")["triples"]
        .select(cols)
        .collect()
    }
    assert a == b and len(a) > 0
    # the mention predicate must actually be present in the output
    assert any(t[2].endswith("#mentions") for t in a)


def _fingerprint(df):
    """(rows, xxhash64 sum over every column as an exact decimal)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _kg_text_rows_from_raw(transcripts, dictionary, engine, link_strategy):
    """build_kg as composed before text rows read the subj-partitioned
    extraction: they came from the unpartitioned extraction, deduped on
    (subj, text) by a shuffle of their own."""
    from json_ld_spark.operators.linking import mention_triples
    from json_ld_spark.plans.kg import transcript_triples

    raw = transcript_triples(transcripts, engine=engine)
    deduped = dedup_triples(raw.repartition("subj"))
    text_rows = (
        raw.filter(F.col("pred") == TEXT_PRED)
        .select("subj", F.col("obj").alias("text"))
        .dropDuplicates(["subj", "text"])
    )
    mentions = extract_mentions(text_rows, text_col="text", subject_col="subj")
    links = link_entities(mentions, dictionary, strategy=link_strategy)
    mention_tr = dedup_triples(
        mention_triples(links).withColumn("doc_id", F.col("subj"))
    )
    cols = QUAD_COLS + ["doc_id"]
    triples = deduped.select(cols).unionByName(mention_tr.select(cols))
    return {"triples": triples, "nodes": node_table(triples), "links": links}


@pytest.mark.parametrize("link_strategy", ["broadcast", "salted"])
@pytest.mark.parametrize("engine", ["native", "generic"])
def test_build_kg_matches_text_rows_from_raw(spark, engine, link_strategy):
    """Reading text rows from the subj-partitioned extraction changes no
    output: triples, nodes and links equal the old composition's. Texts
    repeat across turns, one turn is duplicated (so the (subj, text)
    dedup drops a row), and "alpha" has two entities of equal prior (so
    the min_by tie on entity_id decides the link)."""
    from datetime import datetime

    texts = ["Alpha beta gamma", "beta delta alpha", "Alpha beta gamma"]
    rows = [
        (f"c{c}", i, "user", texts[(c + i) % 3], None, datetime(2026, 1, 1, 0, c, i))
        for c in range(4)
        for i in range(3)
    ]
    transcripts = spark.createDataFrame(
        rows + rows[:1],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    dictionary = spark.createDataFrame(
        [
            ("https://e/entity/alpha-2", "alpha", 0.5),
            ("https://e/entity/alpha-1", "alpha", 0.5),
            ("https://e/entity/beta", "beta", 0.2),
            ("https://e/entity/delta", "delta", 0.3),
        ],
        "entity_id string, surface string, prior double",
    )
    got = build_kg(transcripts, dictionary, engine=engine, link_strategy=link_strategy)
    ref = _kg_text_rows_from_raw(transcripts, dictionary, engine, link_strategy)
    for part in ("triples", "nodes", "links"):
        assert _fingerprint(got[part]) == _fingerprint(ref[part]), part
    alpha = {r["entity_id"] for r in got["links"].filter("surface = 'alpha'").collect()}
    assert alpha == {"https://e/entity/alpha-1"}
    # alpha and beta in each of the 12 turns, delta in the 4 "beta delta alpha" turns
    assert got["links"].count() == 12 * 2 + 4


def test_stage_threads_new_option_fields(spark):
    """Options ship whole into Arrow stages (options_payload): the
    round-3 policy knobs must reach executors, not silently drop."""
    import json

    import pyspark.sql.functions as F

    from json_ld_spark.operators.jsonld import expand_stage
    from json_ld_spark.options import JsonLdOptions

    docs = spark.createDataFrame(
        [("d1", json.dumps({"@context": {"@vocab": "http://v/"},
                            "@id": "http://n/1", "k": "x"}))],
        ["doc_id", "doc"],
    )
    keep = expand_stage(docs, options=JsonLdOptions()).collect()[0]
    assert "http://v/k" in keep.expanded

    dropped = expand_stage(
        docs, options=JsonLdOptions(policy_vocab="drop")
    ).collect()[0]
    assert dropped.error is None and "http://v/k" not in dropped.expanded

    rejected = expand_stage(
        docs, options=JsonLdOptions(policy_vocab="reject")
    ).collect()[0]
    assert rejected.error is not None  # quarantined, not silently kept


def test_fuzzy_link_entities_recall_and_pick(spark):
    """Blocked Levenshtein linking: (1) every surface within distance 1
    of a dictionary entry links, for surfaces >= 2*block_len (the
    pigeonhole guarantee) — verified against an unblocked brute force;
    (2) the documented len-3 middle-edit miss is real; (3) the pick is
    (dist, prior desc, entity_id) and exact matches win."""
    from json_ld_spark.operators.linking import fuzzy_link_entities

    dict_rows = [
        ("e/paris", "paris", 0.5),
        ("e/parts", "parts", 0.3),
        ("e/tokyo", "tokyo", 0.2),
        ("e/abc", "abc", 0.1),
    ]
    d = spark.createDataFrame(
        dict_rows, "entity_id string, surface string, prior double")
    mentions = spark.createDataFrame(
        [
            ("s1", "paris", 0),   # exact
            ("s1", "pariss", 1),  # insertion at end -> paris
            ("s1", "aris", 2),    # deletion at FRONT (prefix block broken,
                                  # suffix block survives) -> paris
            ("s1", "parts", 3),   # exact, also dist-1 from paris: dist wins
            ("s1", "tokyoo", 4),
            ("s1", "axc", 5),     # len-3 middle edit: BOTH blocks broken
            ("s1", "zzzzz", 6),   # no match
        ],
        "subj string, surface string, pos int",
    )
    out = {r.surface: (r.entity_id, r.dist)
           for r in fuzzy_link_entities(mentions, d, max_dist=1).collect()}
    assert out["paris"] == ("e/paris", 0)
    assert out["pariss"] == ("e/paris", 1)
    assert out["aris"] == ("e/paris", 1)
    assert out["parts"] == ("e/parts", 0)  # exact beats paris@1
    assert out["tokyoo"] == ("e/tokyo", 1)
    assert "zzzzz" not in out
    # the documented blocking boundary: len-3 middle edit is missed
    # even though levenshtein('axc','abc') == 1
    assert "axc" not in out

    # brute-force recall check on the >= 4-char surfaces
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[-1]

    for r in mentions.collect():
        if len(r.surface) < 4:
            continue
        want = {e for e, s, _ in dict_rows if lev(r.surface, s) <= 1}
        assert (r.surface in out) == bool(want)


def test_fuzzy_link_recall_property(spark):
    """Hypothesis: for any dictionary of length>=4 surfaces and any
    single-edit corruption (sub/ins/del anywhere), the corrupted
    surface still links — the prefix-OR-suffix pigeonhole guarantee."""
    from hypothesis import given, settings, strategies as st

    from json_ld_spark.operators.linking import fuzzy_link_entities

    alphabet = "abcdefg"
    word = st.text(alphabet, min_size=4, max_size=10)

    @given(st.lists(word, min_size=1, max_size=8, unique=True),
           st.data())
    @settings(max_examples=10, deadline=None)
    def prop(surfaces, data):
        target = data.draw(st.sampled_from(surfaces))
        kind = data.draw(st.sampled_from(["sub", "ins", "del"]))
        pos = data.draw(st.integers(0, len(target) - 1))
        ch = data.draw(st.sampled_from(alphabet + "xyz"))
        if kind == "sub":
            corrupted = target[:pos] + ch + target[pos + 1:]
        elif kind == "ins":
            corrupted = target[:pos] + ch + target[pos:]
        else:
            corrupted = target[:pos] + target[pos + 1:]
        d = spark.createDataFrame(
            [(f"e/{s}", s, 1.0 / (i + 2)) for i, s in enumerate(surfaces)],
            "entity_id string, surface string, prior double")
        m = spark.createDataFrame(
            [("s", corrupted, 0)], "subj string, surface string, pos int")
        out = fuzzy_link_entities(m, d, max_dist=1).collect()
        # the corruption is within distance 1 of `target`, so SOME link
        # must come back (possibly to a different dict word at dist 0)
        assert len(out) == 1 and out[0].dist <= 1

    prop()
