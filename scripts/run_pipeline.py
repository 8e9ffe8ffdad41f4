"""spark-submit entry point for the KG pipeline (north_rule: "runs via
spark-submit --py-files on a multi-executor cluster").

Example:
  spark-submit --master 'local-cluster[8,4,12288]' \\
      --py-files /tmp/json_ld_spark.zip \\
      scripts/run_pipeline.py --sf-dir /root/testdata/sf0.1 \\
      --amplify 400 --job canonical --timed-runs 2

Jobs:
  triples    Catalyst-native extraction → dedup → node merge
  generic    full JSON-LD engine toRdf (Arrow mapInPandas)
  canonical  generic + hash-canonical bnode labels (the scaling job)
  kg         full build_kg incl entity linking
  graph      turn-adjacency CC (conversation membership) + BGP query
  materialize resumable WAP write to --out

Prints one JSON metrics line (docs, triples, per-run seconds,
triples/sec of the best timed run).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

from pyspark.sql import SparkSession

# run from a checkout without --py-files: the package sits next to scripts/
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--amplify", type=int, default=1)
    ap.add_argument("--job", default="canonical",
                    choices=["triples", "generic", "canonical", "kg", "graph",
                             "materialize"])
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--timed-runs", type=int, default=2)
    ap.add_argument("--out", default="/tmp/kg_out")
    args = ap.parse_args()

    # master/executor conf come from spark-submit; only job-level conf here
    spark = (
        SparkSession.builder.appName(f"kg-{args.job}")
        .config("spark.sql.shuffle.partitions", str(args.partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from json_ld_spark.operators.jsonld import dedup_triples, node_table, triples_stage
    from json_ld_spark.operators.native import transcript_triples_native
    from json_ld_spark.operators.linking import synthesize_entity_dictionary
    from json_ld_spark.options import JsonLdOptions
    from json_ld_spark.plans.kg import build_kg, materialize_kg
    from json_ld_spark.sources.transcripts import (
        TRANSCRIPT_CONTEXT, transcripts_from_documents, turns_to_jsonld,
    )

    transcripts = (
        transcripts_from_documents(spark, args.sf_dir, amplify=args.amplify)
        .repartition(args.partitions)
    )

    if args.job in ("generic", "canonical"):
        inp = turns_to_jsonld(transcripts).cache()
        n_docs = inp.count()
        canon = args.job == "canonical"
        run = lambda: triples_stage(  # noqa: E731
            inp, context=TRANSCRIPT_CONTEXT, options=JsonLdOptions(),
            canonical_bnodes=canon,
        ).count()
    elif args.job == "triples":
        inp = transcripts.cache()
        n_docs = inp.count()
        run = lambda: node_table(  # noqa: E731
            dedup_triples(transcript_triples_native(inp).repartition("subj"))
        ).count()
    elif args.job == "graph":
        from json_ld_spark.operators.bgp import bgp_query
        from json_ld_spark.operators.graphops import connected_components
        from json_ld_spark.operators.native import transcript_adjacency_native
        from json_ld_spark.sources.transcripts import TRANSCRIPT_VOCAB

        inp = transcripts.cache()
        n_docs = inp.count()

        def run():  # noqa: E731 kept as def: two counted stages
            adj = transcript_adjacency_native(inp, with_doc_id=False)
            n_comp = connected_components(adj, src="subj", dst="obj").count()
            q = bgp_query(
                transcript_triples_native(inp),
                [
                    ("?t", TRANSCRIPT_VOCAB + "role", "assistant"),
                    ("?t", TRANSCRIPT_VOCAB + "conversation", "?c"),
                ],
            )
            return n_comp + q.count()
    elif args.job == "kg":
        inp = transcripts.cache()
        n_docs = inp.count()
        dictionary = synthesize_entity_dictionary(spark, args.sf_dir).cache()
        dictionary.count()
        run = lambda: build_kg(inp, entity_dictionary=dictionary)[  # noqa: E731
            "triples"
        ].count()
    else:  # materialize
        inp = transcripts.cache()
        n_docs = inp.count()
        t0 = time.time()
        res = materialize_kg(inp, args.out)
        sec = round(time.time() - t0, 3)
        print(json.dumps({"job": "materialize", "n_docs": n_docs, "sec": sec, **{
            k: v for k, v in res.items() if k != "manifests"}}))
        spark.stop()
        return

    run()  # full-width warm: codegen + python worker pools on every executor
    secs = []
    n_out = 0
    for _ in range(args.timed_runs):
        t0 = time.time()
        n_out = run()
        secs.append(round(time.time() - t0, 3))
    best = min(secs)
    print(json.dumps({
        "job": args.job,
        "master": spark.sparkContext.master,
        "n_docs": n_docs,
        "n_out": n_out,
        "secs": secs,
        "sec": best,
        "triples_per_sec": round(n_out / best, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
