"""Each output check passes on the program's output and fails on a
deliberately perturbed copy of it."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

import checks
import gen
import probes
from json_ld_spark import api
from json_ld_spark.errors import JsonLdError
from json_ld_spark.operators import checkpoint as cp
from json_ld_spark.operators.canonical import canonicalize_bnodes_df
from json_ld_spark.operators.jsonld import node_table, triples_stage
from json_ld_spark.operators.linking import synthesize_entity_dictionary
from json_ld_spark.plans.kg import build_kg, materialize_kg
from json_ld_spark.sources.transcripts import transcripts_from_documents
from spans import ROWS_TO_PYTHON, Tracer, read_event_log

N_BUCKETS = 4


def _bump_one(df, col, pick):
    """``df`` with ``col`` changed on exactly the row where ``pick`` holds."""
    return df.withColumn(col, F.when(pick, F.concat(F.col(col), F.lit("x"))).otherwise(F.col(col)))


@pytest.fixture(scope="module")
def transcript_inputs(spark, tmp_path_factory):
    sf = gen.write_documents(str(tmp_path_factory.mktemp("sf")), 60, seed=5)
    transcripts = transcripts_from_documents(spark, sf, amplify=2).cache()
    dictionary = synthesize_entity_dictionary(spark, sf, gen.DICT_ENTRIES).cache()
    return transcripts, dictionary, checks.reference_triples(transcripts, dictionary).cache()


def test_same_seed_same_documents(tmp_path):
    a = gen.write_documents(str(tmp_path / "a"), 30, seed=9)
    b = gen.write_documents(str(tmp_path / "b"), 30, seed=9)
    c = gen.write_documents(str(tmp_path / "c"), 30, seed=10)
    read = lambda d: open(os.path.join(d, "documents.parquet"), "rb").read()  # noqa: E731
    assert read(a) == read(b) != read(c)


def test_documents_have_the_sf_text_shape(tmp_path):
    import pyarrow.parquet as pq

    n = 400
    texts = pq.read_table(gen.write_documents(str(tmp_path), n, seed=3) + "/documents.parquet")
    texts = texts.column("text").to_pylist()
    dups = [t for t in texts if t.endswith(gen.DUP_MARK)]
    assert len(dups) == round(n * gen.DUP_SHARE)
    assert all(t[: -len(gen.DUP_MARK)] in texts for t in dups)
    lo, hi = gen.WORDS_PER_TEXT
    assert all(lo <= len(t.split(" ")) <= hi for t in texts if t not in dups)
    assert {w for t in texts for w in t.split(" ")} == set(gen.VOCAB) | {"dup"}


def test_native_manifest_check(spark, transcript_inputs, tmp_path):
    transcripts, dictionary, ref = transcript_inputs
    expected = checks.reference_buckets(ref, N_BUCKETS)
    good = str(tmp_path / "good")
    materialize_kg(transcripts, good, entity_dictionary=dictionary, n_buckets=N_BUCKETS)
    assert checks.manifest_buckets(good) == expected

    bucketed = ref.withColumn(cp.BUCKET_COL, checks.bucket_of(N_BUCKETS))
    victim = ref.select("subj", "pred", "obj").orderBy("subj", "pred", "obj").first()
    pick = (F.col("subj") == victim["subj"]) & (F.col("pred") == victim["pred"]) & (
        F.col("obj") == victim["obj"]
    )
    changed = str(tmp_path / "changed")
    cp.write_audit_publish(_bump_one(bucketed, "obj", pick), changed, N_BUCKETS)
    assert checks.manifest_buckets(changed) != expected
    dropped = str(tmp_path / "dropped")
    cp.write_audit_publish(bucketed.where(~pick), dropped, N_BUCKETS)
    assert checks.manifest_buckets(dropped) != expected


def test_generic_node_check(spark, transcript_inputs):
    transcripts, dictionary, ref = transcript_inputs
    expected = checks.agg_row(node_table(ref), checks.node_aggs())
    nodes = build_kg(transcripts, dictionary, engine="generic")["nodes"].cache()
    assert checks.agg_row(nodes, checks.node_aggs()) == expected
    assert expected["turn_nodes"] == transcripts.count()

    victim = nodes.orderBy("node_id").first()["node_id"]
    pick = F.col("node_id") == victim
    degree = nodes.withColumn(
        "out_degree", F.when(pick, F.col("out_degree") + 1).otherwise(F.col("out_degree"))
    )
    assert checks.agg_row(degree, checks.node_aggs()) != expected
    assert checks.agg_row(nodes.where(~pick), checks.node_aggs()) != expected


@pytest.fixture(scope="module")
def nested_inputs(spark, tmp_path_factory):
    n = 60
    sf = gen.write_documents(str(tmp_path_factory.mktemp("nested")), n, seed=5)
    bad = gen.bad_doc_ids(n, seed=5)
    docs = gen.nested_docs(spark, sf, bad).cache()
    rows = [(r["doc_id"], r["doc"]) for r in docs.collect()]
    bad_ids = {str(d) for d in bad}
    return docs, rows, bad_ids, checks.nested_reference(spark, rows, bad_ids)


def test_nested_docs_fail_exactly_where_injected(nested_inputs):
    _docs, rows, bad_ids, _ref = nested_inputs
    assert len(bad_ids) == 3
    for doc_id, doc in rows:
        if doc_id in bad_ids:
            with pytest.raises(JsonLdError):
                api.to_rdf(json.loads(doc))
        else:
            assert api.to_rdf(json.loads(doc))


def test_nested_failed_set_and_triple_checks(nested_inputs):
    docs, _rows, bad_ids, ref = nested_inputs
    triples = triples_stage(docs).cache()
    assert checks.failed_docs(docs, triples, bound=len(bad_ids)) == bad_ids
    assert checks.agg_row(triples, checks.masked_triple_aggs()) == ref

    good_doc = sorted({r["doc_id"] for r in docs.collect()} - bad_ids)[0]
    missing = triples.where(F.col("doc_id") != good_doc)
    assert checks.failed_docs(docs, missing, bound=len(bad_ids) + 1) != bad_ids
    literal = triples.where(F.col("obj_kind") == "literal").orderBy("doc_id", "obj").first()
    pick = (F.col("doc_id") == literal["doc_id"]) & (F.col("obj") == literal["obj"])
    assert checks.agg_row(_bump_one(triples, "obj", pick), checks.masked_triple_aggs()) != ref


def test_canonical_relabel_check(nested_inputs):
    docs, _rows, _bad, ref = nested_inputs
    raw = triples_stage(docs).cache()
    canon = canonicalize_bnodes_df(raw).cache()
    assert checks.agg_row(canon, checks.masked_triple_aggs()) == ref
    assert checks.bnode_labels(canon) == checks.bnode_labels(raw) > 0

    # two blank nodes merged into one label: rows and masked content are
    # unchanged, only the blank-node count shows it
    a, b = [r["subj"] for r in canon.where(F.col("subj").startswith("_:"))
            .select("subj").distinct().orderBy("subj").limit(2).collect()]
    merged = canon.withColumn("subj", F.when(F.col("subj") == b, a).otherwise(F.col("subj")))
    merged = merged.withColumn(
        "obj", F.when((F.col("obj_kind") == "bnode") & (F.col("obj") == b), a).otherwise(F.col("obj"))
    )
    assert checks.agg_row(merged, checks.masked_triple_aggs()) == ref
    assert checks.bnode_labels(merged) != checks.bnode_labels(raw)
    dropped = canon.where(~(F.col("subj") == a))
    assert checks.agg_row(dropped, checks.masked_triple_aggs()) != ref


def test_failed_docs_is_bounded(nested_inputs):
    docs, _rows, bad_ids, _ref = nested_inputs
    empty = triples_stage(docs).limit(0)
    with pytest.raises(RuntimeError):
        checks.failed_docs(docs, empty, bound=len(bad_ids))


def test_cpu_delta_charges_ended_process_once():
    before = {1: 10.0, 2: 4.0}  # pid 2 ends; pid 1 reaps it (its 4 s + 1 s more)
    after = {1: 10.0 + 2.0 + 5.0, 3: 1.5}
    assert probes.cpu_delta(before, after) == pytest.approx(2.0 + 1.0 + 1.5)


def test_self_time_subtracts_children(spark):
    tr = Tracer(spark.sparkContext)
    with tr.span("root"):
        with tr.span("a"):
            spark.range(10).collect()
        with tr.span("b"):
            pass
    root, a, b = tr.spans
    assert a["parent"] == b["parent"] == root["id"]
    assert tr.self_time(root) == pytest.approx(tr.wall(root) - tr.wall(a) - tr.wall(b))
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_rows_into_python_are_read_below_map_in_pandas(tmp_path):
    scan = {"nodeName": "InMemoryTableScan", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": 7}]}
    wrapper = {"nodeName": "WholeStageCodegen (1)", "metrics": [], "children": [
        {"nodeName": "Project", "metrics": [], "children": [scan]}]}
    plan = {"nodeName": "MapInPandas", "children": [wrapper], "metrics": [
        {"name": "number of output rows", "accumulatorId": 8}]}
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
    ] + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 1000, "JVM GC Time": 0,
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": "50"}, {"ID": 8, "Update": "3"}]}}
        for _ in range(2)
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    g = read_event_log(str(tmp_path))["g"]
    assert g["sql"][ROWS_TO_PYTHON] == 100  # rows in, not the 6 rows out
    assert g["sql"]["MapInPandas/number of output rows"] == 6
    assert g["task_s"] == 2
