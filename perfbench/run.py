#!/usr/bin/env python3
"""KG-construction benchmark for json_ld_spark.

    python3 perfbench/run.py --workload kg_native --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Workloads (see workloads.py), both over
seeded transcripts shaped like the sf0.1 corpus, with the entity
dictionary the program derives from them:

- ``kg_native``: ``materialize_kg(engine="native")``, published into a
  fresh output dir per iteration;
- ``kg_generic``: ``build_kg(engine="generic")["nodes"]`` sunk to noop.

One run starts Spark at ``local[<nproc>]``, builds the inputs from the
seed SETUP_REPS times, runs the workload's warm-up iterations, then times
iterations for ``--seconds`` (MIN_ITERS at least) and checks every
output outside the timed region. With ``--trace 0`` the last stdout line holds the end-to-end
metrics; with ``--trace 1`` the Spark event log is on, the timed loop is
followed by spans around each layer's entry point (every layer, those
the workload's own pipeline skips included), and the last line holds
the per-layer metrics. The line before it records the run's
iterations, CPU steal and load average. Temporary files live under
``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from pyspark import SparkContext

import probes
from spans import ROWS_TO_PYTHON, Tracer, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_ITERS = 3  # timed iterations at least: the median then outvotes one slowed by the host
HEAP = "2g"
E2E_GROUP = "perfbench-e2e"

END_TO_END = {
    "build_s": "s",
    "quads_per_s": "1/s",
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "docs_ok_frac": "ratio",
    "iter_ok_frac": "ratio",
}

# layer spans whose time, task time, jobs and shuffle bytes come from
# the tracer and the event log
SPAN_FIELDS = {
    "operators.native": ("s", "task_s"),
    "operators.jsonld.triples_stage": ("s", "task_s"),
    "operators.jsonld.dedup_triples": ("s", "shuffle_write_bytes"),
    "operators.jsonld.node_table": ("s", "shuffle_write_bytes"),
    "operators.linking.extract_mentions": ("s",),
    "operators.linking.link_entities": ("s", "shuffle_write_bytes"),
    "operators.canonical.canonicalize_bnodes_df": ("s", "task_s", "jobs", "shuffle_write_bytes"),
    "operators.checkpoint.write_audit_publish": ("s",),
    "plans.kg.build_kg": ("s",),
    "plans.kg.materialize_kg": ("s",),
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "sources.transcripts.s": "s",
    "sources.transcripts.rows": "count",
    "operators.native.s": "s",
    "operators.native.task_s": "s",
    "operators.native.quads_out": "count",
    "operators.jsonld.triples_stage.s": "s",
    "operators.jsonld.triples_stage.task_s": "s",
    "operators.jsonld.triples_stage.docs_in": "count",
    "operators.jsonld.triples_stage.docs_out": "count",
    "operators.jsonld.triples_stage.quads_out": "count",
    "operators.jsonld.triples_stage.python_rows_per_doc": "ratio",
    "operators.jsonld.arrow_boundary_s": "s",
    "operators.jsonld.globalize_s": "s",
    "context.process_context.us": "us",
    "expand.expand_document.us_per_doc": "us",
    "rdf.expanded_to_quads.us_per_doc": "us",
    "operators.jsonld.parse_us_per_doc": "us",
    "operators.jsonld.dedup_triples.s": "s",
    "operators.jsonld.dedup_triples.quads_in": "count",
    "operators.jsonld.dedup_triples.quads_out": "count",
    "operators.jsonld.dedup_triples.shuffle_write_bytes": "bytes",
    "operators.jsonld.node_table.s": "s",
    "operators.jsonld.node_table.nodes": "count",
    "operators.jsonld.node_table.shuffle_write_bytes": "bytes",
    "operators.linking.extract_mentions.s": "s",
    "operators.linking.extract_mentions.mentions": "count",
    "operators.linking.link_entities.s": "s",
    "operators.linking.link_entities.links": "count",
    "operators.linking.link_entities.links_per_mention": "ratio",
    "operators.linking.link_entities.shuffle_write_bytes": "bytes",
    "operators.canonical.canonicalize_bnodes_df.s": "s",
    "operators.canonical.canonicalize_bnodes_df.task_s": "s",
    "operators.canonical.canonicalize_bnodes_df.jobs": "count",
    "operators.canonical.canonicalize_bnodes_df.bnodes": "count",
    "operators.canonical.canonicalize_bnodes_df.shuffle_write_bytes": "bytes",
    "operators.checkpoint.write_audit_publish.s": "s",
    "operators.checkpoint.write_audit_publish.bytes_written": "bytes",
    "operators.checkpoint.write_audit_publish.bytes_per_quad": "bytes",
    "operators.checkpoint.write_audit_publish.buckets_published": "count",
    "plans.kg.build_kg.s": "s",
    "plans.kg.materialize_kg.s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["kg_native", "kg_generic"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> int:
    """Pin the session to this host's cores and a bounded JVM heap, put
    the repo on the Python workers' path, and keep Spark's temporary files
    inside the work dir. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # same dict/set layout in every worker and run
    # a sys.path insert reaches this process only; workers read PYTHONPATH
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts: temp files in the work dir, no
    # hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    for d in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    sys.path.insert(0, ROOT)
    return cores


def start_spark(work: str, trace: bool):
    from json_ld_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: no run-to-run variance from heap resizing
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the whole process
    tree (JVM, Python worker daemon and workers) has ended, also when
    the session can no longer be stopped cleanly (a signal cut a call
    into the JVM short)."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    killed = probes.end_tree(grace=30)
    if killed:
        print(f"killed processes left after Spark stopped: {killed}", file=sys.stderr)


def measure(wl, seconds: float, group: str | None = None) -> list[dict]:
    """Closed loop, one iteration at a time, until ``seconds`` have passed
    and MIN_ITERS iterations ran, its jobs in Spark job ``group`` if given.
    The outputs are checked after the loop, outside the group, so that no
    check's Spark job, nor the JIT work it sets off, runs between timed
    iterations."""
    iters: list[dict] = []
    handles = []
    sc = wl.spark.sparkContext
    if group:
        sc.setJobGroup(group, "timed iterations")
    start = time.perf_counter()
    while len(iters) < MIN_ITERS or time.perf_counter() - start < seconds:
        rec = {"ok": False, "wall_s": None, "cpu_s": None, "docs_ok_frac": None}
        i = len(iters)
        iters.append(rec)
        try:
            cpu0 = probes.tree_cpu()
            t0 = time.perf_counter()
            handle = wl.iterate(i)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = probes.cpu_delta(cpu0, probes.tree_cpu())
            handles.append((rec, handle))
        except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
            traceback.print_exc()
    if group:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    for rec, handle in handles:
        try:
            rec["ok"], rec["docs_ok_frac"] = wl.check(handle)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
    return iters


def end_to_end(wl, iters, setup_s: float, peak_rss_mb: float) -> dict:
    good = [r for r in iters if r["ok"]]
    timed = good or [r for r in iters if r["wall_s"] is not None]
    if not timed:
        raise RuntimeError("no iteration completed")
    build_s = statistics.median(r["wall_s"] for r in timed)
    return {
        "build_s": build_s,
        "quads_per_s": wl.quads / build_s,
        "setup_s": setup_s,
        "cpu_s": statistics.median(r["cpu_s"] for r in timed),
        "peak_rss_mb": peak_rss_mb,
        "docs_ok_frac": min((r["docs_ok_frac"] for r in good), default=0.0),
        "iter_ok_frac": len(good) / len(iters),
    }


def per_layer(wl, tracer, groups, get_spark_s: float, build_s: float, n_iters: int, kernels) -> dict:
    """Every PER_LAYER metric; each workload's traced run calls every layer."""
    out = {"session.get_spark_s": get_spark_s, **kernels}
    out.update((name, float(v)) for name, v in wl.counts.items() if name in PER_LAYER)
    for name, fields in SPAN_FIELDS.items():
        sp = tracer.find(name)
        g = groups.get(sp["group"], {})
        for f in fields:
            out[f"{name}.{f}"] = tracer.self_time(sp) if f == "s" else float(g.get(f, 0.0))

    # the program's own work: the timed iterations, per iteration
    e2e = groups.get(E2E_GROUP, {})
    out["operators.jsonld.triples_stage.python_rows_per_doc"] = (
        e2e.get("sql", {}).get(ROWS_TO_PYTHON, 0.0) / n_iters / wl.docs_in
    )
    out["spark.gc_s"] = e2e.get("gc_s", 0.0) / n_iters
    out["spark.spill_bytes"] = e2e.get("spill_bytes", 0.0) / n_iters
    root = tracer.find("trace.pass")
    persist = sum(
        tracer.wall(s) for s in tracer.spans if s["parent"] == root["id"] and s["name"] == "trace.persist"
    )
    out["trace.unattributed_s"] = tracer.self_time(root)
    out["trace.overhead_s"] = tracer.wall(root) - persist - build_s
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "json_ld_spark")):
        print(f"json_ld_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cores = configure_env(work)
    probes.adopt_orphans()
    # on SIGTERM, leave through the finally blocks, which end the tree
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        return run(args, work, cores)
    finally:
        probes.end_tree(grace=10)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def run(args, work: str, cores: int) -> int:
    from workloads import WORKLOADS, kernel_costs  # needs the repo on sys.path

    host0 = probes.host_sample()
    t0 = time.perf_counter()
    spark = start_spark(work, bool(args.trace))
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer(sc)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t0)
        wl.prepare_check()
        t0 = time.perf_counter()
        warm = [wl.iterate(-1 - i) for i in range(wl.warmup)]
        warm_s = time.perf_counter() - t0
        setup_s = get_spark_s + statistics.median(reps) + warm_s

        iters = measure(wl, args.seconds, E2E_GROUP if args.trace else None)
        peak_rss_mb = probes.tree_peak_rss_mb()
        warm_ok = all([wl.check(h)[0] for h in warm])  # checked after the timed loop too
        if args.trace:
            wl.early_spans(tracer)
            with tracer.span("trace.pass"):
                wl.traced_pass(tracer)
            wl.side_spans(tracer)
            wl.drop_layer_inputs()
            kernels = kernel_costs(wl.kernel_sample())
    finally:
        stop_spark(spark)
    host1 = probes.host_sample()

    e2e = end_to_end(wl, iters, setup_s, peak_rss_mb)
    if args.trace:
        groups = read_event_log(os.path.join(work, "eventlog"))
        metrics = per_layer(
            wl, tracer, groups, get_spark_s, e2e["build_s"], len(iters), kernels
        )
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    failed = sum(not r["ok"] for r in iters)
    print(
        json.dumps(
            {
                "workload": args.workload,
                "seed": args.seed,
                "cores": cores,
                "docs_in": wl.docs_in,
                "quads": wl.quads,
                "setup_reps_s": reps,
                "warm_s": warm_s,
                "iterations": iters,
                "host": probes.host_noise(host0, host1),
                "spans": tracer.spans,
            }
        )
    )
    print(
        json.dumps(
            {
                "correct": bool(warm_ok and wl.trace_ok and failed == 0),
                "attempted": len(iters),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
