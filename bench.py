"""Headline benchmark. Runs the flagship KG pipeline + the heavy
operator families at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS], printing ONE JSON line:

  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "derived": {"triples_per_sec_native": ..., "triples_per_sec_generic": ...}}

Scaling evidence (N vs 4N cores) is produced by scripts/scaling_bench.py
and recorded in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)
sys.path.insert(0, os.path.join(_HERE, "perfbench"))

from pyspark import SparkContext
from pyspark.sql import functions as F, types as T

import probes
from run import stop_spark

from json_ld_spark.operators import dedup as dd
from json_ld_spark.operators import linking as lk
from json_ld_spark.operators import similarity as sim
from json_ld_spark.operators import textops as tx
from json_ld_spark.operators.jsonld import dedup_triples, node_table, triples_stage
from json_ld_spark.operators.native import transcript_triples_native
from json_ld_spark.options import JsonLdOptions
from json_ld_spark.plans.kg import build_kg
from json_ld_spark.session import get_spark
from json_ld_spark.sources.transcripts import (
    TRANSCRIPT_CONTEXT,
    transcripts_from_documents,
    turns_to_jsonld,
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    amplify = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "40"))
    probes.adopt_orphans()  # so stop_spark can wait for the worker daemon too
    spark = get_spark("bench", cores=cores)
    jvm_pid = SparkContext._gateway.proc.pid
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    transcripts = (
        transcripts_from_documents(spark, sf_dir, amplify=amplify)
        .repartition(max(cores * 2, 16), "conv_id")
        .cache()
    )
    n_turns = transcripts.count()  # warm the cache outside the timers
    # small parquet files arrive as one partition — spread them so the
    # per-row-heavy operators (minhash, simhash, cosine) use every core,
    # exactly as a real 100 TB scan would arrive pre-partitioned
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(cores * 2).cache()
    docs.count()
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast(T.ArrayType(T.DoubleType())).alias("embedding"))
        .repartition(cores * 2)
        .cache()
    )
    dim = len(emb.first()[1])

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}
    quality: dict[str, dict] = {}

    # --- dirty-sample detection (round-2 advice): this host shows
    # episodic hypervisor CPU steal that exceeds run length, so best-of-N
    # alone cannot be trusted. Each timed sample also records (a) the
    # host steal fraction across the sample window and (b) JVM
    # process-CPU utilization (executor threads live in the one
    # local-mode JVM). A sample is dirty when steal > 5% of host CPU
    # time; dirty samples are re-run (up to 4 attempts) and flagged in
    # the output so a later reader can adjudicate from the artifact.
    # Steal, load and process-tree CPU come from perfbench/probes.py.
    def _host_busy():
        # (busy, total) jiffies over all host CPUs, busy = total - idle -
        # iowait: how much CPU the WHOLE HOST burned, not just hypervisor
        # steal (the r3 run showed co-tenant processes invisible to the
        # steal counter alone). The one /proc read kept here:
        # probes.host_sample() has no busy field, and probes.py changes
        # only with the benchmark.
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals) - vals[3] - vals[4], sum(vals)

    _ncpu = os.cpu_count() or cores

    # Memory-subsystem contention probe (round-5 root-cause work, see
    # PLANS.md "kg_linked_pipeline variance"): co-tenant episodes on this
    # host slow memory-heavy Spark tasks 10-30x while /proc/stat steal
    # stays 0 and no external PROCESS burns CPU — the only guest-visible
    # symptom is that random-stride memory reads dilate (measured up to
    # 122x while an ALU-bound loop stayed at ~1.3x). A fixed random-gather
    # over a 128 MB array, timed before/after each sample, flags those
    # otherwise-invisible episodes.
    import numpy as _np

    _mem_arr = _np.arange(16_000_000, dtype=_np.int64)
    _mem_idx = _np.random.default_rng(7).integers(0, 16_000_000, 2_000_000)

    def _mem_probe() -> float:
        t0 = time.monotonic()
        _mem_arr[_mem_idx].sum()
        return time.monotonic() - t0

    _mem_base = min(_mem_probe() for _ in range(7))

    def run(name: str, thunk, warm=None):
        if warm is not None:
            warm()  # compile codegen + spin python workers outside the timer
        samples = []
        for _ in range(6):
            h0, (busy0, tot0), c0 = probes.host_sample(), _host_busy(), probes.tree_cpu()
            m0 = _mem_probe()
            t0 = time.time()
            counts[name] = thunk()
            wall = time.time() - t0
            m1 = _mem_probe()
            mem_x = round(min(m0, m1) / _mem_base, 1)
            h1, (busy1, tot1), c1 = probes.host_sample(), _host_busy(), probes.tree_cpu()
            steal_pct = probes.host_noise(h0, h1)["steal_frac"]
            host_busy_pct = (busy1 - busy0) / max(tot1 - tot0, 1)
            # CPU-seconds the host burned that were NOT this bench's
            # process tree: the co-tenant signal the steal counter is
            # blind to (proved by the r3 driver artifact). Normalized by
            # HOST cores so the flag means "someone else held >25% of
            # this machine during the sample".
            host_busy_sec = host_busy_pct * _ncpu * wall
            ours_sec = probes.cpu_delta(c0, c1)
            ext_cpu_frac = max(host_busy_sec - ours_sec, 0.0) / max(wall * _ncpu, 1e-9)
            # JVM-only CPU: every executor thread lives in the one
            # local-mode JVM (the worker daemon it started lives as long
            # as the JVM, so its CPU never lands in the JVM's entry)
            util = (
                round((c1[jvm_pid] - c0[jvm_pid]) / max(wall * cores, 1e-9), 3)
                if jvm_pid in c0 and jvm_pid in c1
                else None
            )
            samples.append({
                "sec": round(wall, 3),
                "steal_pct": round(steal_pct, 4),
                "host_busy_pct": round(host_busy_pct, 4),
                "ext_cpu_frac": round(ext_cpu_frac, 4),
                "loadavg1": h1["load"][0],
                "cpu_util": util,
                "mem_probe_x": mem_x,
                "dirty": steal_pct > 0.05 or ext_cpu_frac > 0.25
                or mem_x > 3.0,
            })
            if len([x for x in samples if not x["dirty"]]) >= 3:
                break
        clean = [x for x in samples if not x["dirty"]]
        best = min(clean or samples, key=lambda x: x["sec"])
        timings[name] = best["sec"]
        quality[name] = {**best, "n_samples": len(samples), "all_dirty": not clean}

    # warmup slices spread over every core: limit() alone collapses to a
    # single partition and would warm exactly one python worker
    small_t = transcripts.limit(2048).repartition(cores).cache()
    small_t.count()
    small_d = docs.limit(512).repartition(cores).cache()
    small_d.count()

    # flagship: Catalyst-native triple extraction → dedup → node merge
    run(
        "kg_native_e2e",
        lambda: node_table(dedup_triples(transcript_triples_native(transcripts))).count(),
        warm=lambda: node_table(dedup_triples(transcript_triples_native(small_t))).count(),
    )
    n_triples = transcript_triples_native(transcripts).count()

    # full JSON-LD engine (context → expand → node map → toRdf) via Arrow UDF
    run(
        "kg_generic_triples",
        lambda: triples_stage(
            turns_to_jsonld(transcripts),
            context=TRANSCRIPT_CONTEXT,
            options=JsonLdOptions(),
        ).count(),
        warm=lambda: triples_stage(
            turns_to_jsonld(small_t),
            context=TRANSCRIPT_CONTEXT,
            options=JsonLdOptions(),
        ).count(),
    )

    # entity linking (mentions → broadcast dict join → scored top-1)
    dictionary = lk.synthesize_entity_dictionary(spark, sf_dir, max_entities=2000).cache()
    dictionary.count()
    run(
        "kg_linked_pipeline",
        lambda: build_kg(transcripts, entity_dictionary=dictionary, engine="native")[
            "triples"
        ].count(),
        warm=lambda: build_kg(small_t, entity_dictionary=dictionary, engine="native")[
            "triples"
        ].count(),
    )

    run("dedup_minhash_lsh", lambda: dd.jaccard_pairs(
        docs, dd.minhash_lsh_candidates(docs), threshold=0.7).count(),
        warm=lambda: dd.jaccard_pairs(
            small_d, dd.minhash_lsh_candidates(small_d), threshold=0.7).count())
    run("dedup_simhash", lambda: dd.simhash_near_duplicates(docs).count(),
        warm=lambda: dd.simhash_near_duplicates(small_d).count())
    small_e = emb.limit(512).repartition(cores).cache()
    small_e.count()
    run(
        "ann_lsh_topk",
        lambda: sim.lsh_topk(
            emb.filter(F.col("vec_id") % 100 == 0), emb, dim=dim, k=5
        ).count(),
        warm=lambda: sim.lsh_topk(
            small_e.filter(F.col("vec_id") % 100 == 0), small_e, dim=dim, k=5
        ).count(),
    )
    run("text_stats", lambda: tx.analyze_documents(docs).count(),
        warm=lambda: tx.analyze_documents(small_d).count())

    # SPARQL text over the multi-graph corpus (round-3 advice #8):
    # FROM NAMED dataset construction + GRAPH ?g + aggregation at sf0.1,
    # per-conversation named graphs over the amplified corpus
    from json_ld_spark.sparql import sparql as sparql_text

    def _mg_quads(src):
        return (
            transcript_triples_native(src)
            .select(
                F.regexp_extract(F.col("subj"), r"^(.*)/turn/", 1).alias("graph"),
                "subj", "pred", "obj",
            )
            .dropDuplicates()
        )

    _mg_names = [
        r[0]
        for r in _mg_quads(small_t).select("graph").distinct()
        .orderBy("graph").limit(24).collect()
    ]
    _mg_query = (
        "PREFIX t: <https://example.org/transcript#>\n"
        "SELECT ?g (COUNT(*) AS ?n)\n"
        + "\n".join(f"FROM NAMED <{g}>" for g in _mg_names)
        + '\nWHERE { GRAPH ?g { ?turn t:role "assistant" } }\n'
        "GROUP BY ?g ORDER BY DESC(?n) ?g LIMIT 20"
    )
    run(
        "sparql_multigraph",
        lambda: sparql_text(_mg_quads(transcripts), _mg_query).count(),
        warm=lambda: sparql_text(_mg_quads(small_t), _mg_query).count(),
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    run(
        "rel_agg_pricing",
        lambda: li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count(F.lit(1)))
        .count(),
        warm=lambda: li.limit(1024).groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count(F.lit(1)))
        .count(),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    run(
        "rel_join_topnations",
        lambda: orders.join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)))
        .count(),
        warm=lambda: orders.limit(1024)
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)))
        .count(),
    )

    total = round(sum(timings.values()), 3)
    # The final stdout line must stay compact: the grading driver captures a
    # bounded tail of stdout, and round 4's full steal-guard telemetry grew
    # the line past that window (BENCH_r04.json arrived truncated,
    # `parsed: null`). Headline numbers only on stdout; the full per-sample
    # steal-guard detail goes to BENCH_LATEST.json next to this script.
    out = {
        "metric": "kg_headline_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cores,
        "amplify": amplify,
        "clean": not any(q["all_dirty"] for q in quality.values()),
        "derived": {
            "n_turns": n_turns,
            "n_triples_native": n_triples,
            "triples_per_sec_native": round(n_triples / max(timings["kg_native_e2e"], 1e-9), 1),
            "triples_per_sec_generic": round(n_triples / max(timings["kg_generic_triples"], 1e-9), 1),
        },
    }
    detail = {
        **out,
        "steal_guard": {
            "steal_threshold": 0.05,
            "ext_cpu_threshold": 0.25,
            "host_ncpu": os.cpu_count(),
            "samples": quality,
        },
    }
    try:
        side = os.path.join(_HERE, "BENCH_LATEST.json")
        with open(side, "w") as f:
            json.dump(detail, f, indent=1)
    except OSError:
        pass
    stop_spark(spark)
    line = json.dumps(out)
    assert len(line) < 2000, f"headline bench line too long ({len(line)} bytes)"
    print(line)


if __name__ == "__main__":
    main()
