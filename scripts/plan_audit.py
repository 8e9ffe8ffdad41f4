"""Automated physical-plan audit over every registered driver query.

Builds each queries() DataFrame at sf0.001 and counts the plan nodes
that matter for the 100 TB argument: shuffles (Exchange), join
strategies, cartesian products (must be zero outside the documented
brute-force baselines), and Python evaluation nodes (must be Arrow
mapInPandas, never row-at-a-time PythonUDF). Writes PLANS_AUDIT.md.

Iterative operators execute their loop probes while the DataFrame is
being built — that is by design (the audit doubles as a smoke run).
"""

from __future__ import annotations

import importlib.util
import re
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO)

MARKERS = [
    ("BroadcastHashJoin", "bhj"),
    ("SortMergeJoin", "smj"),
    ("ShuffledHashJoin", "shj"),
    ("CartesianProduct", "cartesian"),
    ("BroadcastNestedLoopJoin", "bnlj"),
    ("MapInPandas", "map_in_pandas"),
    ("ArrowEvalPython", "arrow_eval"),
    ("BatchEvalPython", "row_python"),
    ("TakeOrderedAndProject", "take_ordered"),
]

# ---------------------------------------------------------------------------
# structural plan parsing — shared by the audit and tests/test_plan_shapes.py
# ---------------------------------------------------------------------------

_LINE = re.compile(r"^(?P<tree>[\s:+-]*)(?P<gen>\*\(\d+\)\s*)?(?P<node>\S.*)$")


def plan_nodes(plan: str) -> list[tuple[int, str]]:
    """Parse a physical-plan string into (indent, node_text) pairs.

    The indent is the width of the tree-drawing prefix (spaces, ``:``,
    ``+-``), which encodes tree depth; the codegen marker ``*(n)`` is
    stripped so whole-stage-codegen'd nodes compare at the same depth.
    """
    out: list[tuple[int, str]] = []
    for line in plan.splitlines():
        m = _LINE.match(line)
        if m is None:
            continue
        out.append((len(m.group("tree")), m.group("node")))
    return out


def _top_level_bracket_groups(s: str) -> list[str]:
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth > 0:
            buf.append(ch)
    return groups


_ORDER_SPEC = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)")


def partitionless_windows(plan: str) -> list[str]:
    """Window nodes whose partition spec is EMPTY — Spark funnels the
    entire input through one task ("No Partition Defined for Window
    operation" condition), the single worst plan shape at scale.

    Spark prints up to three top-level bracket groups: ``Window
    [exprs], [partition], [order]`` — but OMITS empty specs, so a
    partitioned-unordered window also prints two groups (``[exprs],
    [partition]``). Disambiguate by content: an order spec always
    carries ``ASC/DESC NULLS FIRST/LAST`` markers, a partition spec
    never does."""
    hits = []
    for _, node in plan_nodes(plan):
        if not node.startswith(("Window [", "WindowInPandas [")):
            continue
        groups = _top_level_bracket_groups(node)
        if len(groups) >= 3:
            continue  # [exprs], [partition], [order]
        if len(groups) == 2 and not _ORDER_SPEC.search(groups[1]):
            continue  # [exprs], [partition] — partitioned, unordered
        hits.append(node)
    return hits


_SP_OK_PARENT = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[\]"  # scalar agg
    r"|GlobalLimit |CollectLimit "  # row flow bounded by the limit itself
)


def single_partition_exchanges(plan: str) -> list[str]:
    """``Exchange SinglePartition`` nodes whose structural parent is NOT
    a global (grouping-key-less) aggregate or a global limit. A scalar
    agg legitimately funnels its map-side partials into one reducer and
    a limit bounds the rows that cross; anything else moving a whole
    relation into one partition (partition-less windows,
    repartition(1), global collects) is a scale violation."""
    nodes = plan_nodes(plan)
    hits = []
    for i, (indent, node) in enumerate(nodes):
        if not node.startswith("Exchange SinglePartition"):
            continue
        parent = ""
        for j in range(i - 1, -1, -1):
            if nodes[j][0] < indent:
                parent = nodes[j][1]
                break
        if not _SP_OK_PARENT.match(parent):
            hits.append(f"{node}  <- parent: {parent[:80]}")
    return hits


def shuffle_exchange_count(plan: str) -> int:
    """Shuffle Exchanges only — a bare ``plan.count("Exchange")`` also
    matches every BroadcastExchange and inflates the shuffle column."""
    return sum(1 for _, n in plan_nodes(plan) if n.startswith("Exchange "))


def broadcast_exchange_count(plan: str) -> int:
    return sum(1 for _, n in plan_nodes(plan) if n.startswith("BroadcastExchange"))

# documented exceptions: queries whose PLAN legitimately contains a
# BNLJ/cartesian, each with a bounded build side by construction
CARTESIAN_OK = {
    "ann_topk_bruteforce",      # the exact baseline the LSH rows beat
    "ann_semantic_clusters",    # same brute kNN baseline feeding the CC stage
    "ann_margin_pairs",         # brute kNN twin in BOTH directions (margin algebra)
    "dedup_ngram_jaccard",      # brute-force pairs over a bounded sample
    "dedup_containment",        # same bounded-sample brute-force twin
    "kg_transe_rank",           # broadcast(hash-sampled test) x entities
    "kg_graph_metrics",         # one-row scalar crossJoins (3x)
    "kg_modularity",            # one-row broadcast of the edge total m
    "kg_ppmi_edges",            # one-row broadcast of the event total D
    "text_kn_bigrams",          # one-row broadcast of (btypes, n1, n2)
    "text_kn_perplexity",       # same KN totals broadcast inside scoring
    "kg_louvain_move",          # one-row broadcast of the edge total m
    "text_hybrid_rrf",          # dense list = the brute-force twin
                                # (broadcast 1-query cross join)
    "ann_knn_classify",         # same brute twin (leave-one-out eval)
    "ann_classifier_report",    # confusion algebra OVER the knn brute twin
    "sketch_histogram_quantiles",  # build side = the 3-row quantile list
    "kg_bgp_values_minus",      # SPARQL VALUES compatibility join: the
    "kg_sparql_select",         # null-OR-equal predicate is non-equi by
                                # spec; build side = the inline VALUES
                                # table, bounded by the query text
    "kg_kge_eval",              # broadcast(hash-sampled test) x entities
                                # (the transe_rank shape) + 1-row z total
    "kg_distmult_rank",         # same broadcast(test) x entities shape
                                # with the multiplicative kernel
    "kg_kge_compare",           # both rank shapes feeding the scoreboard
    "data_doremi_weights",      # one-row broadcasts of the global
                                # loss/size totals and the normalizer z
    "kg_degree_profile",        # one-row broadcast of the Hill alpha
                                # scalar onto the bin histogram
    "dedup_lsh_pr",             # brute-force all-pairs TRUTH over the
                                # bounded eval sample (the measurement
                                # needs exact ground truth by design)
    "ann_recall_curve",         # per-probe 1-row count x 1-row count
                                # crossJoins (3x) + the brute-force
                                # exact-truth twin (documented baseline)
}

# documented exceptions for the single-partition detectors: queries
# whose ordered-global window / SinglePartition exchange runs over an
# input BOUNDED by construction (not the corpus), so one task is the
# correct plan — the same justification as a scalar aggregate.
SINGLE_PARTITION_OK = {
    "sketch_histogram_quantiles",  # cumulative sum over the BUCKET
                                   # histogram: <= n_buckets rows by
                                   # construction (the corpus pass is
                                   # the groupBy that built it)
    "text_hybrid_rrf",             # sparse-list rank window runs over
                                   # the top-20 rows a
                                   # TakeOrderedAndProject already cut
                                   # — k-bounded by construction
}


def main() -> None:
    spec = importlib.util.spec_from_file_location("entry", f"{REPO}/__spark_entry__.py")
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    sf = "/root/testdata/sf0.001"
    rows, bad = [], []
    for name, fn in m.queries().items():
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            rows.append((name, {"error": f"{type(ex).__name__}"}))
            bad.append((name, f"build error {type(ex).__name__}: {ex}"))
            continue
        c = {key: plan.count(marker) for marker, key in MARKERS}
        c["exchanges"] = shuffle_exchange_count(plan)
        c["bcast_exchanges"] = broadcast_exchange_count(plan)
        pw = partitionless_windows(plan)
        spx = single_partition_exchanges(plan)
        c["partitionless_windows"] = len(pw)
        c["bad_single_partition"] = len(spx)
        rows.append((name, c))
        if c["row_python"]:
            bad.append((name, "row-at-a-time Python eval in plan"))
        if (c["cartesian"] or c["bnlj"]) and name not in CARTESIAN_OK:
            bad.append((name, "undocumented cartesian/BNLJ"))
        if pw and name not in SINGLE_PARTITION_OK:
            bad.append((name, f"partition-less Window: {pw[0][:100]}"))
        if spx and name not in SINGLE_PARTITION_OK:
            bad.append((name, f"SinglePartition Exchange outside scalar agg: {spx[0][:120]}"))

    with open(f"{REPO}/PLANS_AUDIT.md", "w") as f:
        f.write(
            "# PLANS_AUDIT — automated physical-plan node counts, every "
            "driver query\n\nGenerated by `python scripts/plan_audit.py` "
            "(sf0.001, local[8], AQE initial plans). Gates: zero "
            "`BatchEvalPython` anywhere (no row-at-a-time Python); "
            "cartesian/BNLJ only in the documented brute-force/scalar "
            f"rows ({', '.join(sorted(CARTESIAN_OK))}); zero Window "
            "nodes with an EMPTY partition spec (the whole-input-"
            "through-one-task shape); zero `Exchange SinglePartition` "
            "outside scalar-aggregate/global-limit roots — except the "
            "documented bounded-input rows "
            f"({', '.join(sorted(SINGLE_PARTITION_OK))}: the global "
            "window runs over a table bounded by construction, e.g. "
            "the <=n_buckets histogram, never the corpus). The ShuffleX "
            "column counts SHUFFLE exchanges only (BroadcastExchange "
            "has its own column).\n\n"
            "Caveat: iterative operators cut lineage with lazy\n"
            "localCheckpoints, so their per-round shuffles do NOT appear\n"
            "in the final plan counted here (a low Exchange count on\n"
            "e.g. text_textrank or kg_kcore means the loop state was\n"
            "checkpointed, not that the rounds were free — per-round\n"
            "shapes are documented in PLANS.md).\n\n"
        )
        f.write("| query | ShuffleX | BcastX | BHJ | SMJ | cartesian | BNLJ | "
                "mapInPandas | ArrowEval | rowPython | TakeOrdered | plWin | badSPX |\n")
        f.write("|---|---|---|---|---|---|---|---|---|---|---|---|---|\n")
        for name, c in rows:
            if "error" in c:
                f.write(f"| {name} | build error: {c['error']} | | | | | | | | | | | |\n")
                continue
            f.write(
                f"| {name} | {c['exchanges']} | {c['bcast_exchanges']} | "
                f"{c['bhj']} | {c['smj']} | "
                f"{c['cartesian']} | {c['bnlj']} | {c['map_in_pandas']} | "
                f"{c['arrow_eval']} | {c['row_python']} | {c['take_ordered']} | "
                f"{c['partitionless_windows']} | {c['bad_single_partition']} |\n"
            )
        f.write(f"\n**Violations: {len(bad)}**\n")
        for name, why in bad:
            f.write(f"- {name}: {why}\n")
    print(f"{len(rows)} queries audited, {len(bad)} violations")
    for name, why in bad:
        print("VIOLATION", name, why)
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
