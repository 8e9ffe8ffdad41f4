"""Distributed graph analytics over the constructed knowledge graph.

The reference stops at emitting a canonical triple set (toRdf,
`crates/core/src/rdf/mod.rs`); a corpus-scale KG pipeline additionally
needs the graph-shaped follow-ons: dedup **group assignment**
(connected components over near-duplicate pairs), **k-hop
reachability** (neighborhood materialization for context windows),
**triangle counting** (entity co-mention cohesion), and **PageRank**
(entity salience for dictionary pruning). Each operator here is a pure
DataFrame composition — no RDDs, no driver-side graph, no collect —
and each is designed around its known scale bottleneck:

- `connected_components`: alternating Large-Star / Small-Star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14) — converges in O(log^2 n) rounds *independent of component
  diameter*, unlike min-label propagation whose round count is the
  graph diameter. Every round is one groupBy + one join on node id;
  lineage is truncated per round (localCheckpoint) exactly like the
  canonicalizer's fixpoint loop (canonical.py).
- `k_hop`: frontier BFS with a bounded hop count; the frontier is
  deduplicated per hop so the join fan-out is |frontier| x avg-degree,
  never the transitive closure.
- `triangle_count`: degree-ordered edge orientation (each edge points
  from the lower-degree endpoint to the higher, ties by id) bounds the
  per-node join fan-out by graph arboricity — the standard trick that
  makes wedge-joins survive power-law degree skew.
- `pagerank`: fixed-iteration power method; the only per-node state is
  one double, contributions are an equi-join on src + one groupBy sum,
  and dangling mass is folded back analytically (one scalar agg per
  iteration, not a broadcast of vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _symmetrize(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected view: both orientations, self-loops dropped, deduped."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src) != F.col(dst)
    )
    return e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).dropDuplicates()


def _edge_fingerprint(e: DataFrame) -> int:
    """Order-independent fingerprint of an edge set (sum of per-edge
    hashes + count) — one cheap agg job, used as the fixpoint test."""
    row = e.agg(
        # decimal accumulator: a long sum of xxhash64 overflows under ANSI
        F.sum(F.xxhash64("u", "v").cast("decimal(28,0)")).alias("h"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return (row["h"] or 0, row["n"])


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) with component = min node id reachable from
    `node` (min is numeric or lexicographic per the id type — identical
    ordering in DuckDB, so the result is oracle-exact).

    Alternating Large-Star / Small-Star. Invariant maintained: the
    edge set always connects the same components as the input. Each
    Large-Star hangs every node's greater neighbors off its local
    minimum; Small-Star then contracts the remaining small edges onto
    the minimum. Both stars are (groupBy node -> min) + (join back) —
    two shuffles per round keyed on node id, no skew amplification
    because a hot node's neighbor list is never collected, only
    min-aggregated and re-joined.
    """
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    nodes = e.select("u").dropDuplicates()  # isolated nodes handled by caller
    # fingerprint of the INPUT edge set: materializes the checkpoint,
    # seeds the fixpoint test (an already-star-shaped input converges
    # one round earlier), and its row count gates the loop conf — the
    # rounds are latency-bound on small graphs (alias chains, dedup
    # clusters), so they run narrow without AQE re-planning there;
    # corpus-scale edge sets keep the caller's width + AQE skew joins.
    prev = _edge_fingerprint(e)
    spark = edges.sparkSession
    _SP = "spark.sql.shuffle.partitions"
    _AQE = "spark.sql.adaptive.enabled"
    sp_old, aqe_old = spark.conf.get(_SP), spark.conf.get(_AQE, "true")
    if prev[1] <= 2_000_000:
        spark.conf.set(_AQE, "false")
        spark.conf.set(_SP, str(max(1, min(int(sp_old), 8))))
    try:
        for _ in range(max_iter):
            # Large-Star: for each u, m = min(N(u) + {u}); emit (v, m) for v > u
            mins = (
                e.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("u", "mn").alias("m"))
            )
            # (no dedup here: `oriented`'s dropDuplicates below subsumes it —
            # an extra exchange per round was a pure loss, measured)
            large = (
                e.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
                .where(F.col("a") != F.col("b"))
            )
            # Small-Star on the large-star output: orient (big, small), then
            # for each a, m = min(N(a)); emit (v, m) for v in N(a)+{a}, v != m
            oriented = large.select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            ).dropDuplicates()
            smins = oriented.groupBy("u").agg(F.min("v").alias("m"))
            # (likewise no dedup on `small`: _symmetrize dedups after the union)
            small = (
                oriented.join(smins, "u")
                .select(
                    F.explode(F.array(F.col("u"), F.col("v"))).alias("a"),
                    F.col("m").alias("b"),
                )
                .where(F.col("a") != F.col("b"))
            )
            # lazy: the fingerprint aggregation right below is the
            # materializing action — one job per round instead of two
            e2 = _symmetrize(small, "a", "b").localCheckpoint(eager=False)
            fp = _edge_fingerprint(e2)
            if fp == prev:
                e = e2
                break
            prev, e = fp, e2
    finally:
        spark.conf.set(_SP, sp_old)
        spark.conf.set(_AQE, aqe_old)
    # after convergence the edge set is a union of stars centered on
    # each component's minimum: component(v) = min neighbor (or v)
    comp = e.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        nodes.join(comp, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.coalesce("mn", "u")).alias("component"),
        )
        # node-sized (the operator's own output): lazily materialized so
        # the common two-consumer pattern (rewrite subjects AND objects,
        # merge_same_as; split train/test, leakage_safe_split) does not
        # re-derive the input scan + star groupBy per consumer
        .localCheckpoint(eager=False)
    )


def k_hop(
    triples: DataFrame,
    seeds: DataFrame,
    k: int = 3,
    src: str = "subj",
    dst: str = "obj",
) -> DataFrame:
    """(node, depth) for every node within k directed hops of a seed
    (depth = shortest hop distance, seeds at 0). Frontier BFS: hop i
    joins only the *new* frontier against the edge table, so total work
    is sum(|frontier_i| x deg) rather than closure size. `seeds` is one
    column named `node`."""
    edges = triples.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(dst).isNotNull()
    ).dropDuplicates()
    visited = seeds.select("node").dropDuplicates().withColumn("depth", F.lit(0))
    frontier = visited.select("node")
    for depth in range(1, k + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "u"), "u")
            .select(F.col("v").alias("node"))
            .dropDuplicates()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(depth))
        )
        # lazy checkpoint + count: ONE job per hop materializes the
        # frontier (truncating lineage) and probes emptiness
        nxt = nxt.localCheckpoint(eager=False)
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt)
        frontier = nxt.select("node")
    return visited


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle participation counts (node, n_triangles) over
    the undirected simple graph. Degree orientation: each undirected
    edge {a,b} is directed from the endpoint with (degree, id) smaller
    to the larger, so every wedge join fans out by at most the graph's
    arboricity (O(sqrt(m)) even on power-law graphs) instead of the max
    degree — the difference between a runnable and a hopeless plan at
    web scale. Each triangle is counted exactly once as (a<b<c in the
    orientation order) then re-attributed to all three corners."""
    und = _symmetrize(edges, src, dst)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient by (degree, id): canonical per-edge direction
    e = (
        und.where(F.col("u") < F.col("v"))  # one row per undirected edge
        .join(deg.select(F.col("u").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
    )
    # wedges: a->b, a->c with b != c; closed iff oriented edge b->c or c->b
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.a") == F.col("e2.a"))
        .where(F.col("e1.b") < F.col("e2.b"))
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    closer = e.select(F.col("a").alias("y"), F.col("b").alias("z")).unionByName(
        e.select(F.col("b").alias("y"), F.col("a").alias("z"))
    ).dropDuplicates()
    tri = w.join(closer, ["y", "z"])  # one row per triangle
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) after `iters` synchronous power-method iterations
    on the directed graph, uniform init 1/n, dangling mass
    redistributed uniformly each iteration so sum(rank) == 1 up to
    float error. Per-iteration plan: one equi-join of the rank vector
    against the (src-partitioned) edge list + one groupBy(dst) sum +
    one scalar agg for dangling mass — per-node state is a single
    double, never a vector, so the iteration is memory-flat at any
    node count. Fixed iteration count (not convergence) keeps the job
    deterministic and the oracle replayable as unrolled SQL."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropDuplicates()
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).dropDuplicates()
    ).select(F.col("u").alias("node"))
    n = nodes.count()
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outd"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contribs = (
            ranks.join(outdeg, ranks["node"] == outdeg["u"], "inner")
            .join(e, "u")
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("outd")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = (
            ranks.join(outdeg, ranks["node"] == outdeg["u"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
            .first()["d"]
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            # lazy: next round's dangling probe (or the caller's final
            # action) materializes it — one job per round, not two
            .localCheckpoint(eager=False)
        )
    return ranks


def _walk_hash(hash_fn: str, seed: str, walk_id, step: int, cur) -> F.Column:
    """Deterministic per-(walk, step, node) choice value, >= 0.

    'xxhash64' is the production path (JVM hash, no string building).
    'md5' is the cross-engine bridge — Spark
    conv(substring(md5(x),1,8),16,10) equals DuckDB
    ('0x'||substr(md5(x),1,8))::BIGINT, so an oracle can replay every
    choice bit-for-bit (the simhash/fingerprint pattern)."""
    if hash_fn == "md5":
        payload = F.concat_ws(":", F.lit(seed), walk_id, F.lit(str(step)), cur)
        return F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")
    return F.abs(F.xxhash64(F.lit(seed), walk_id, F.lit(step), cur))


def random_walks(
    edges: DataFrame,
    starts: DataFrame | None = None,
    walks_per_node: int = 1,
    walk_len: int = 8,
    seed: str = "",
    hash_fn: str = "xxhash64",
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Deterministic DeepWalk-style random walks over the directed
    edge set — the KG → skip-gram-corpus generator (walks feed
    word2vec-style embedding training; Perozzi et al., DeepWalk,
    KDD'14). Returns long-format rows ``(walk_id, step, node)``
    (step 0 = the start node); a walk that reaches a node with no
    out-edges simply ends early.

    Determinism instead of RNG state: the step-t choice from node u on
    walk w is ``hash(seed, w, t, u) mod out_degree(u)`` into the
    neighbor list sorted by destination id. Identical across runs,
    partitionings and cluster sizes — resumable and oracle-able, which
    per-partition RNG streams are not.

    Scale shape: neighbors are indexed once with one row_number window
    partitioned by source (per-key sort; hot nodes bound by
    ``max_degree``, which truncates the candidate list — the standard
    skew dial for power-law graphs). Each step is then two equi-joins
    keyed on the current node — frontier × degree, frontier ×
    (node, index) — with per-step localCheckpoint so the plan stays
    depth-1 over ``walk_len`` iterations (the pagerank/k_hop loop
    shape). No collect, no per-node adjacency lists in agg state.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(dst).isNotNull())
        .dropDuplicates()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("u").orderBy("v")
    adj = e.withColumn("nbr_idx", F.row_number().over(w) - F.lit(1))
    if max_degree is not None:
        adj = adj.filter(F.col("nbr_idx") < max_degree)
    # the neighbor index and degree table are probed once PER STEP:
    # materialize them once (otherwise every step re-runs the edge-scan
    # + per-key sort, multiplying the dominant cost by walk_len; at
    # cluster scale this is the table you'd persist to storage once)
    adj = adj.localCheckpoint(eager=False)
    deg = (
        adj.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .localCheckpoint(eager=False)
    )

    if starts is None:
        starts = deg.select(F.col("u").alias("node"))
    start_nodes = starts.select("node").dropDuplicates()
    frontier = (
        start_nodes.select(
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("wi"),
            "node",
        )
        .select(
            F.concat_ws("#", "node", "wi").alias("walk_id"),
            F.col("node").alias("cur"),
        )
    )
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("cur").alias("node")
    )
    for t in range(1, walk_len + 1):
        choice = _walk_hash(hash_fn, seed, F.col("walk_id"), t, F.col("cur"))
        # lazy checkpoint + count = ONE job per step that both
        # materializes the frontier (truncating lineage) and probes
        # emptiness — eager-checkpoint-then-isEmpty paid two
        nxt = (
            frontier.join(deg.withColumnRenamed("u", "cur"), "cur")
            .withColumn("nbr_idx", F.pmod(choice, F.col("degree")).cast("int"))
            .join(adj.withColumnRenamed("u", "cur"), ["cur", "nbr_idx"])
            .select("walk_id", F.col("v").alias("cur"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        out = out.unionByName(
            nxt.select("walk_id", F.lit(t).alias("step"),
                       F.col("cur").alias("node"))
        )
        frontier = nxt
    return out


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts from a walk
    corpus — the step between random_walks and word2vec-style
    embedding training (DeepWalk §4.2). For every pair of positions on
    the same walk within ``window`` steps of each other, count the
    ordered (center, context) occurrence: ``(center, context, n)``.

    One self-equi-join keyed on walk_id (fan-out bounded by
    walk_len × 2·window per walk, independent of graph degree) and one
    map-side-combinable count aggregation — two shuffles total,
    both on bounded keys."""
    a = walks.select("walk_id", F.col("step").alias("s_a"),
                     F.col("node").alias("center"))
    b = walks.select("walk_id", F.col("step").alias("s_b"),
                     F.col("node").alias("context"))
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("s_a") != F.col("s_b"))
            & (F.abs(F.col("s_b") - F.col("s_a")) <= window)
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame | None = None,
    walks_per_node: int = 1,
    walk_len: int = 8,
    seed: str = "",
    hash_fn: str = "xxhash64",
    src: str = "src",
    dst: str = "dst",
    w_return: int = 1,
    w_in: int = 1,
    w_out: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Deterministic node2vec walks (Grover & Leskovec, KDD'16): the
    2nd-order bias is expressed with INTEGER weights instead of the
    paper's 1/p, 1, 1/q — ``w_return`` for stepping back to the
    previous node, ``w_in`` for a candidate adjacent to the previous
    node (BFS-ish), ``w_out`` otherwise (DFS-ish); scale all three by
    a common factor to realize any rational p, q. Integer weights make
    every choice exact: the step-t pick is the candidate whose
    cumulative-weight interval (neighbors ordered by id) contains
    ``hash(seed, walk, t, node) mod total_weight`` — reproducible
    across partitionings and SQL-replayable (no float cumsums to
    drift). The first step has no previous node and is uniform.
    Returns ``(walk_id, step, node)``; dead ends end the walk early.

    Scale shape per step: one equi-join frontier × adjacency (fan-out
    = out-degree, capped by ``max_degree``), one edge-keyed left join
    marking candidates adjacent to the previous node (the 2nd-order
    term), and one walk-partitioned window over ≤ degree candidate
    rows for the cumulative pick — never a global sort, state never
    exceeds the frontier, lineage cut per step."""
    from pyspark.sql.window import Window

    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(dst).isNotNull())
        .dropDuplicates()
    )
    if max_degree is not None:
        w0 = Window.partitionBy("u").orderBy("v")
        e = (
            e.withColumn("__idx", F.row_number().over(w0))
            .filter(F.col("__idx") <= max_degree)
            .drop("__idx")
        )
    mark = e.select(
        F.col("u").alias("prev"), F.col("v").alias("v"),
        F.lit(1).alias("__tri"),
    )
    if starts is None:
        starts = e.select(F.col("u").alias("node")).dropDuplicates()
    frontier = (
        starts.select("node").dropDuplicates()
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("wi"),
            "node",
        )
        .select(
            F.concat_ws("#", "node", "wi").alias("walk_id"),
            F.lit(None).cast(starts.schema["node"].dataType).alias("prev"),
            F.col("node").alias("cur"),
        )
    )
    out = frontier.select(
        "walk_id", F.lit(0).alias("step"), F.col("cur").cast("string").alias("node")
    )
    wspec = Window.partitionBy("walk_id")
    for t in range(1, walk_len + 1):
        cand = (
            frontier.join(e.withColumnRenamed("u", "cur"), "cur")
            .join(mark, ["prev", "v"], "left")
            .withColumn(
                "w",
                F.when(F.col("prev").isNull(), F.lit(1))
                .when(F.col("v") == F.col("prev"), F.lit(w_return))
                .when(F.col("__tri").isNotNull(), F.lit(w_in))
                .otherwise(F.lit(w_out))
                .cast("long"),
            )
        )
        cum = F.sum("w").over(
            wspec.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        )
        tot = F.sum("w").over(
            wspec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        r = F.pmod(_walk_hash(hash_fn, seed, F.col("walk_id"), t, F.col("cur")), tot)
        nxt = (
            cand.withColumn("__cum", cum)
            .withColumn("__r", r)
            .filter(
                (F.col("__cum") > F.col("__r"))
                & (F.col("__cum") - F.col("w") <= F.col("__r"))
            )
            .select("walk_id", F.col("cur").alias("prev"), F.col("v").alias("cur"))
            .localCheckpoint(eager=False)
        )
        # lazy checkpoint + count: one job per step
        if nxt.count() == 0:
            break
        out = out.unionByName(
            nxt.select("walk_id", F.lit(t).alias("step"),
                       F.col("cur").cast("string").alias("node"))
        )
        frontier = nxt
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (random walk with restart): salience as
    seen FROM a seed entity set — the related-entity / recommendation
    ranking next to global pagerank. Identical per-iteration shape to
    `pagerank` (one equi-join on src + one groupBy sum + one scalar
    dangling agg; per-node state is one double), except the teleport
    AND the dangling mass return to the seeds (uniformly) instead of
    to all nodes:

        rank' = (1-d)·restart + d·(inflow + dangling·restart)

    ``seeds`` is one column ``node``; seeds absent from the edge set
    still hold restart mass. Deterministic given the input (no RNG)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col(dst).isNotNull())
        .dropDuplicates()
    )
    sd = seeds.select("node").dropDuplicates()
    k = sd.count()
    if k == 0:
        raise ValueError("personalized_pagerank needs at least one seed")
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .unionByName(sd)
        .dropDuplicates()
    )
    base = nodes.join(
        sd.withColumn("__s", F.lit(1)), "node", "left"
    ).select(
        "node",
        F.when(F.col("__s").isNotNull(), F.lit(1.0 / k))
        .otherwise(F.lit(0.0))
        .alias("restart"),
    ).localCheckpoint(eager=True)
    outdeg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outd"))
    omd = 1.0 - damping
    ranks = base.select("node", F.col("restart").alias("rank"))
    for _ in range(iters):
        contribs = (
            ranks.join(outdeg, ranks["node"] == outdeg["u"], "inner")
            .join(e, "u")
            .select(F.col("v").alias("node"), (F.col("rank") / F.col("outd")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = (
            ranks.join(outdeg, ranks["node"] == outdeg["u"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
            .first()["d"]
        )
        ranks = (
            base.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(omd) * F.col("restart")
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0))
                       + F.lit(dangling) * F.col("restart"))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)  # materialized by next probe/action
        )
    return ranks


def link_prediction_features(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int | None = None,
) -> DataFrame:
    """Topological link-prediction features over the undirected simple
    graph: for every node pair with at least one common neighbor,
    ``(u, v, n_common, jaccard_r, adamic_adar_r)`` — common-neighbor
    count, Jaccard overlap of neighborhoods, and the Adamic–Adar index
    Σ 1/ln(deg(w)) over shared neighbors w (the classic feature set
    for KG completion / edge-recommendation training labels).

    Plan shape: one wedge self-join through the middle node (fan-out
    deg(w)² per middle — the hub hazard; cap with ``max_degree``,
    which drops wedges through the hottest middles, the same
    truncation dial as the walks), then one pair-keyed aggregation,
    then one broadcast-free degree join per endpoint for the union
    size. Pairs with zero common neighbors are absent by construction
    (their features are 0 — materializing the quadratic zero set at
    corpus scale is exactly what this avoids)."""
    und = _symmetrize(edges, src, dst)  # (u, v), both orientations
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    adj = und
    if max_degree is not None:
        adj = adj.join(
            deg.filter(F.col("deg") <= max_degree).select("u"), "u"
        )
    # wedges u - w - v with u < v: one self-join keyed on the middle
    left = adj.select(F.col("u").alias("w"), F.col("v").alias("a"))
    right = adj.select(F.col("u").alias("w"), F.col("v").alias("b"))
    wedges = (
        left.join(right, "w")
        .filter(F.col("a") < F.col("b"))
        .join(deg.select(F.col("u").alias("w"), F.col("deg").alias("wdeg")), "w")
    )
    pairs = wedges.groupBy(F.col("a").alias("u"), F.col("b").alias("v")).agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.lit(1.0) / F.log(F.col("wdeg"))).alias("aa"),
    )
    return (
        pairs.join(deg.select(F.col("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("u").alias("v"), F.col("deg").alias("dv")), "v")
        .select(
            "u", "v", "n_common",
            F.round(
                F.col("n_common")
                / (F.col("du") + F.col("dv") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard_r"),
            F.round("aa", 6).alias("adamic_adar_r"),
        )
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Seeded (semi-supervised) label propagation over the undirected
    graph — the KG type-inference workhorse: a few labeled entities
    per class, labels spread to neighbors by majority vote. Fully
    deterministic: each round a node adopts the most frequent label
    among its labeled neighbors (ties broken by the SMALLER label
    string), seed nodes stay clamped to their seed label, and a node
    once labeled always has a labeled neighbor, so labeled-ness only
    grows — after k rounds every node within k hops of a seed is
    labeled. Returns ``(node, label)`` for labeled nodes.

    Per round: one edge⋈labels join (fan-in = labeled-neighbor count),
    one (node, label) count agg, one per-node argmax window over label
    counts (≤ distinct-labels rows per node), lineage cut per round —
    the k_hop/pagerank loop shape, no collect."""
    from pyspark.sql.window import Window

    und = _symmetrize(edges, src, dst)  # (u, v)
    sd = seeds.select("node", "label").dropDuplicates().localCheckpoint(eager=True)
    labels = sd
    w = Window.partitionBy("u").orderBy(F.desc("n"), F.asc("label"))
    for _ in range(iters):
        votes = (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy("u", "label")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        picks = (
            votes.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(F.col("u").alias("node"), "label")
        )
        labels = sd.unionByName(
            picks.join(sd.select("node"), "node", "left_anti")
        ).localCheckpoint(eager=False)  # materialized by the final action
    return labels


def cooccurrence_graph(
    pairs: DataFrame,
    group_col: str = "doc_id",
    item_col: str = "item",
    max_group_size: int | None = None,
) -> DataFrame:
    """Co-occurrence graph construction from (group, item) membership
    pairs — entity co-mention edges from documents, co-purchase edges
    from orders: an undirected edge ``(u, v, n_groups)`` for every
    item pair sharing a group, u < v, weighted by the number of
    shared groups. The scale hazard is quadratic per-group fan-out
    (C(k,2) wedges from a k-item group): ``max_group_size`` DROPS
    groups larger than the cap before the self-join — the standard
    mega-document guard, disclosed rather than silently truncated
    (count the dropped groups from group_sizes if you need the
    audit). One group-keyed self-join + one pair-count agg."""
    p = pairs.select(
        F.col(group_col).alias("g"), F.col(item_col).alias("i")
    ).dropDuplicates()
    if max_group_size is not None:
        sizes = p.groupBy("g").agg(F.count(F.lit(1)).alias("k"))
        p = p.join(
            sizes.filter(F.col("k") <= max_group_size).select("g"), "g"
        )
    a = p.select("g", F.col("i").alias("u"))
    b = p.select("g", F.col("i").alias("v"))
    return (
        a.join(b, "g")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 64,
) -> DataFrame:
    """k-core membership (Seidman 1983, "Network structure and minimum
    degree"): iteratively peel nodes whose undirected degree is < k
    until the fixpoint, returning ``(node, degree)`` for the survivors
    (degree measured INSIDE the core). The standard dense-region /
    graph-cleanup primitive run before expensive graph ML — walks,
    embeddings, triangle-heavy features.

    Per-round work: ONE degree aggregation + two left-semi joins that
    keep only edges between surviving nodes. The surviving-node count
    is the round's single job — it materializes the lazily
    checkpointed slice AND probes the fixpoint (PLANS §26 shape).
    Round count = peel depth of the cascade (degeneracy-ordering
    bounded; a pure k-1-degree chain peels from the ends, two nodes
    per round — the worst case). Small inputs run the narrow loop conf
    like connected_components; corpus-scale slices keep the caller's
    width and AQE skew handling.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    spark = edges.sparkSession
    _SP = "spark.sql.shuffle.partitions"
    _AQE = "spark.sql.adaptive.enabled"
    sp_old, aqe_old = spark.conf.get(_SP), spark.conf.get(_AQE, "true")
    n_edges = e.count()  # materializes the checkpoint + gates the conf
    if n_edges <= 2_000_000:
        spark.conf.set(_AQE, "false")
        spark.conf.set(_SP, str(max(1, min(int(sp_old), 8))))
    try:
        keep = None
        prev_nodes = -1
        for _ in range(max_iter):
            deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
            keep = deg.where(F.col("degree") >= k)
            n = keep.count()
            if n == prev_nodes or n == 0:
                break
            prev_nodes = n
            kn = keep.select("u")
            e = (
                e.join(kn, "u", "left_semi")
                .join(kn.select(F.col("u").alias("v")), "v", "left_semi")
                .localCheckpoint(eager=False)
            )
        assert keep is not None
        return keep.select(
            F.col("u").alias("node"), F.col("degree").cast("long").alias("degree")
        )
    finally:
        spark.conf.set(_SP, sp_old)
        spark.conf.set(_AQE, aqe_old)


def hits(
    edges: DataFrame,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    in a hyperlinked environment") with ``iters`` synchronous update
    rounds and L1 (sum) normalization, returning
    ``(node, hub, auth)``. KG use: surface entities that *curate*
    (hubs — e.g. survey conversations linking many canonical
    entities) vs entities that are *cited* (authorities).

    Per-round plan: auth half-step = one equi-join of the hub vector
    against the src-keyed edge list + one groupBy(dst) sum; hub
    half-step mirrors it on dst. Each normalizer is a scalar agg
    pulled to the driver (a single double, like pagerank's dangling
    mass — broadcast of a 1-row DF measured slower, see pagerank).
    Per-node state is two doubles, so memory is flat at any node
    count; fixed iteration count keeps the oracle replayable as an
    unrolled SQL CTE chain (6-dp round absorbs SUM-order drift).
    Lineage is cut per round with a lazy localCheckpoint (the
    normalizer agg is the job that materializes it), preventing the
    2^n tree-plan blow-up documented for pagerank. Small graphs run
    the narrow loop conf (sp=8, AQE off) like connected_components —
    the 8 scalar probes per run are otherwise pure round latency at
    200-partition widths.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropDuplicates()
    e = e.localCheckpoint(eager=False)
    spark = edges.sparkSession
    _SP = "spark.sql.shuffle.partitions"
    _AQE = "spark.sql.adaptive.enabled"
    sp_old, aqe_old = spark.conf.get(_SP), spark.conf.get(_AQE, "true")
    n_edges = e.count()  # materializes the checkpoint + gates the conf
    if n_edges <= 2_000_000:
        spark.conf.set(_AQE, "false")
        spark.conf.set(_SP, str(max(1, min(int(sp_old), 8))))
    try:
        return _hits_loop(e, iters)
    finally:
        spark.conf.set(_SP, sp_old)
        spark.conf.set(_AQE, aqe_old)


def _hits_loop(e: DataFrame, iters: int) -> DataFrame:
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).dropDuplicates()
    ).select(F.col("u").alias("node"))
    vec = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    for _ in range(iters):
        auth_raw = (
            vec.join(e, vec["node"] == e["u"], "inner")
            .select(F.col("v").alias("node"), F.col("hub").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("araw"))
        )
        half = (
            vec.select("node", "hub")
            .join(auth_raw, "node", "left")
            .select("node", "hub", F.coalesce("araw", F.lit(0.0)).alias("araw"))
            .localCheckpoint(eager=False)
        )
        asum = half.agg(F.sum("araw").alias("s")).first()["s"] or 1.0
        half = half.select("node", "hub", (F.col("araw") / F.lit(asum)).alias("auth"))
        hub_raw = (
            half.join(e, half["node"] == e["v"], "inner")
            .select(F.col("u").alias("node"), F.col("auth").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("hraw"))
        )
        vec = (
            half.select("node", "auth")
            .join(hub_raw, "node", "left")
            .select("node", F.coalesce("hraw", F.lit(0.0)).alias("hraw"), "auth")
            .localCheckpoint(eager=False)
        )
        hsum = vec.agg(F.sum("hraw").alias("s")).first()["s"] or 1.0
        vec = vec.select("node", (F.col("hraw") / F.lit(hsum)).alias("hub"), "auth")
    return vec


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Hop-bounded single/multi-source weighted shortest paths:
    ``(node, dist)`` where dist = minimum total edge weight over any
    directed path of <= ``max_hops`` edges from a seed (seeds at 0).
    The hop bound makes the semantics finite and exactly replayable
    (DuckDB recursive CTE with a depth counter); with integer weights
    every distance is integer-exact across engines and partitionings.
    Unbounded SSSP = raise max_hops to the graph diameter; each round
    is idempotent once converged and the loop exits early on a
    fixpoint.

    Per-round plan (Bellman-Ford frontier relaxation): one equi-join
    of the *frontier only* (nodes improved last round) against the
    src-keyed edge list, one groupBy(dst) MIN, one full-outer merge
    into the running dist table. The merge is lazily checkpointed and
    the improved-count probe is the single job that materializes it
    (PLANS §26 shape). Per-node state is one long; no global sort, no
    collect. At 100 TB the frontier shrinks geometrically after the
    first rounds, so late rounds touch a vanishing slice.
    """
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    dist = seeds.select(F.col(seeds.columns[0]).alias("node")).dropDuplicates()
    dist = dist.select("node", F.lit(0).cast("long").alias("dist"))
    frontier = dist
    for _ in range(max_hops):
        cand = (
            frontier.join(e, frontier["node"] == e["u"], "inner")
            .select(F.col("v").alias("node"), (F.col("dist") + F.col("w")).alias("nd"))
            .groupBy("node")
            .agg(F.min("nd").alias("nd"))
        )
        merged = (
            dist.join(cand, "node", "full_outer")
            .select("node", F.col("dist").alias("old"), F.col("nd"))
            .localCheckpoint(eager=False)
        )
        improved = merged.where(
            F.col("nd").isNotNull() & (F.col("old").isNull() | (F.col("nd") < F.col("old")))
        )
        n_improved = improved.count()  # materializes the checkpoint + probes
        dist = merged.select("node", F.least("old", "nd").alias("dist"))
        if n_improved == 0:
            break
        frontier = improved.select("node", F.col("nd").alias("dist"))
    return dist.select("node", F.col("dist").cast("long").alias("dist"))


def k_truss(
    edges: DataFrame,
    k: int = 4,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss peeling (Cohen 2008, "Trusses: cohesive subgraphs for
    social network analysis"): after each round, keep only edges whose
    triangle support (common-neighbor count among surviving edges) is
    >= k-2. Returns surviving ``(src, dst, support)`` canonical
    (src < dst) edges after ``rounds`` synchronous rounds — a FIXED
    round count, not a fixpoint probe, so the oracle replays as an
    unrolled CTE chain; peeling is idempotent at the fixpoint, so any
    rounds >= the cascade depth gives the fixpoint itself. Sparse
    graphs can cascade longer than ``rounds`` — bounded-round peeling
    is then the standard big-graph compromise (the tail of a peel
    cascade is long and thin; each extra round touches a shrinking
    edge set), and the result is still a deterministic
    support-filtered subgraph.

    Per-round plan: triangle enumeration as two equi-joins over the
    id-ordered canonical edge list (a<b<c — every triangle counted
    once), support = union of the triangle's three edge projections +
    one groupBy count, then one semi filter. Per-round lineage is cut
    with a lazy localCheckpoint; the round's single job is the next
    round's first action. Id-ordering (not degree-ordering like
    triangle_count) keeps the enumeration identical to ANSI SQL; for
    hub-heavy graphs swap in the degree orientation — same plan
    shape."""
    if k < 3:
        raise ValueError("k must be >= 3")
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    sup = None
    for _ in range(rounds):
        tri = (
            e.alias("e1")
            .join(
                e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2"),
                "b",
            )
            .join(
                e.select(F.col("a"), F.col("b").alias("c")).alias("e3"),
                ["a", "c"],
                "left_semi",
            )
            .select("a", "b", "c")
        )
        sup = (
            tri.select(F.col("a").alias("x"), F.col("b").alias("y"))
            .unionByName(tri.select(F.col("b").alias("x"), F.col("c").alias("y")))
            .unionByName(tri.select(F.col("a").alias("x"), F.col("c").alias("y")))
            .groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= k - 2)
            .localCheckpoint(eager=False)
        )
        e = sup.select(F.col("x").alias("a"), F.col("y").alias("b"))
    assert sup is not None
    return sup.select(
        F.col("x").alias("src"),
        F.col("y").alias("dst"),
        F.col("support").cast("long").alias("support"),
    )


def graph_metrics(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One-row structural profile of an undirected graph — the
    numbers a capacity review wants before running expensive graph ML:
    node/edge counts, mean degree, GLOBAL CLUSTERING COEFFICIENT
    (3 x triangles / wedges — transitivity) and DEGREE ASSORTATIVITY
    (Newman 2002: Pearson correlation of endpoint degrees over the
    directed-both-ways edge list; negative = hub-leaf structure).

    Plan: canonicalize + dedup edges once (one shuffle), one degree
    agg, triangles via the id-ordered two-join enumeration
    (k_truss's), then scalar aggregations — every statistic is an
    exact integer sum until the final few divisions, so the oracle
    replays to 6 dp with no accumulation ambiguity beyond SUM order.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    tri = (
        e.alias("e1")
        .join(e.select(F.col("a").alias("b"), F.col("b").alias("c")).alias("e2"), "b")
        .join(e.select("a", F.col("b").alias("c")).alias("e3"), ["a", "c"], "left_semi")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    counts = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("d") * (F.col("d") - 1)).alias("wedges2"),  # 2x wedges
        )
    ).crossJoin(tri)
    # assortativity over the symmetrized edge list: for each directed
    # edge (u,v), x = d(u), y = d(v); r = Pearson corr(x, y).
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    dd = (
        sym.join(deg.select(F.col("n").alias("a"), F.col("d").alias("dx")), "a")
        .join(deg.select(F.col("n").alias("b"), F.col("d").alias("dy")), "b")
    )
    assort = dd.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.col("dx").cast("long")).alias("sx"),
        F.sum(F.col("dy").cast("long")).alias("sy"),
        F.sum((F.col("dx") * F.col("dy")).cast("long")).alias("sxy"),
        F.sum((F.col("dx") * F.col("dx")).cast("long")).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast("long")).alias("syy"),
    )
    # try_divide everywhere: empty graphs (n_nodes=0), wedge-free
    # graphs (perfect matchings) and degree-regular graphs (zero
    # assortativity variance) yield NULL instead of an ANSI
    # DIVIDE_BY_ZERO — the driver graph has all three denominators
    # nonzero, so the oracle needs no mirroring branch.
    # Pearson terms go through double BEFORE the products: m*sxy etc.
    # overflow int64 on large graphs (m ~ 2|E|, sxy up to |E|*maxdeg^2)
    # and would raise ARITHMETIC_OVERFLOW under ANSI mode; each double
    # product/subtraction is correctly rounded, so the 6-dp oracle
    # replay (same casts in SQL) stays bit-exact.
    def _dbl(c: str):
        return F.col(c).cast("double")

    return counts.crossJoin(assort).select(
        F.col("n_nodes").cast("long").alias("n_nodes"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.round(
            F.try_divide(F.lit(2.0) * F.col("n_edges"), F.col("n_nodes")), 6
        ).alias("avg_degree_r"),
        F.round(
            F.try_divide(F.lit(6.0) * F.col("n_tri"), F.col("wedges2")), 6
        ).alias("clustering_r"),
        F.round(
            F.try_divide(
                _dbl("m") * _dbl("sxy") - _dbl("sx") * _dbl("sy"),
                F.sqrt(
                    (_dbl("m") * _dbl("sxx") - _dbl("sx") * _dbl("sx"))
                    * (_dbl("m") * _dbl("syy") - _dbl("sy") * _dbl("sy"))
                ),
            ),
            6,
        ).alias("assortativity_r"),
    )


def betweenness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled hop-bounded betweenness centrality (Brandes 2001, "A
    faster algorithm for betweenness centrality"; source-sampling per
    Brandes & Pich 2007): run the Brandes forward/backward pass from
    the ``seeds`` only, over shortest paths of <= ``max_hops`` edges
    (k-betweenness; == exact Brandes whenever max_hops >= diameter),
    on the undirected view. Returns ``(node, betweenness_r)`` for
    every node reached from any seed — the per-seed dependency
    delta(v) = sum_{w in succ(v)} sigma(v)/sigma(w) * (1 + delta(w))
    summed over seeds, 6-dp rounded. Source sampling is THE standard
    way betweenness is computed at scale (exact all-sources is
    O(V*E)); the hop bound keeps the state finite and the oracle
    replayable as an unrolled CTE chain.

    Plan shape: forward pass = one frontier equi-join + one left-anti
    (against the assigned set) + one groupBy SUM per level — sigma
    stays an exact integer; state is (seed, node)-keyed, bounded by
    seeds x reachable. Backward pass = one three-way equi-join +
    groupBy SUM per level, walking levels deepest-first. Every level
    is lazily checkpointed; the frontier-size probe is each forward
    level's single job (PLANS §26 shape).
    """
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    s0 = seeds.select(F.col(seeds.columns[0]).alias("s"))
    lvl = s0.select(
        "s",
        F.col("s").alias("v"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=False)
    levels = [lvl]
    assigned = lvl.select("s", "v")
    for _ in range(1, max_hops + 1):
        prev = levels[-1]
        cand = prev.join(e, prev["v"] == e["u"]).select(
            "s", e["v"].alias("w"), "sigma"
        )
        nxt = (
            cand.join(
                assigned.select("s", F.col("v").alias("w")), ["s", "w"], "left_anti"
            )
            .groupBy("s", "w")
            .agg(F.sum("sigma").alias("sigma"))
            .select("s", F.col("w").alias("v"), "sigma")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        assigned = assigned.unionByName(nxt.select("s", "v")).localCheckpoint(
            eager=False
        )
    deltas = [None] * len(levels)
    deltas[-1] = levels[-1].select("s", "v", F.lit(0.0).alias("delta"))
    for d in range(len(levels) - 1, 0, -1):
        child = (
            levels[d]
            .join(deltas[d], ["s", "v"])
            .select(
                "s",
                F.col("v").alias("w"),
                F.col("sigma").alias("sw"),
                "delta",
            )
        )
        par = levels[d - 1]
        contrib = (
            par.join(e, par["v"] == e["u"])
            .select("s", par["v"].alias("v"), "sigma", e["v"].alias("w"))
            .join(child, ["s", "w"])
            .select(
                "s",
                "v",
                (F.col("sigma") / F.col("sw") * (F.lit(1.0) + F.col("delta"))).alias(
                    "c"
                ),
            )
            .groupBy("s", "v")
            .agg(F.sum("c").alias("delta"))
        )
        deltas[d - 1] = (
            par.select("s", "v")
            .join(contrib, ["s", "v"], "left")
            .select("s", "v", F.coalesce("delta", F.lit(0.0)).alias("delta"))
            .localCheckpoint(eager=False)
        )
    alld = deltas[0]
    for dd in deltas[1:]:
        alld = alld.unionByName(dd)
    return (
        alld.where(F.col("v") != F.col("s"))
        .groupBy("v")
        .agg(F.round(F.sum("delta"), 6).alias("betweenness_r"))
        .select(F.col("v").alias("node"), "betweenness_r")
    )


def weighted_pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """PageRank over a WEIGHTED directed graph: contributions split
    proportional to edge weight (rank(u) * w(u,v) / wdeg(u)) instead
    of uniformly — co-occurrence counts, interaction frequencies and
    link confidences feed straight in (textrank_keywords is this loop
    on the word graph). Same plan shape as pagerank: one equi-join +
    one groupBy SUM per round, one scalar dangling probe, per-node
    state a single double, lazy checkpoint per round. Parallel edges
    collapse by SUMMING weights (deterministic); integer weights keep
    every fraction an exact-integer ratio."""
    e = (
        edges.select(
            F.col(src).alias("u"),
            F.col(dst).alias("v"),
            F.col(weight).cast("long").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    nodes = (
        e.select("u").unionByName(e.select(F.col("v").alias("u"))).dropDuplicates()
    ).select(F.col("u").alias("node"))
    n = nodes.count()
    wdeg = e.groupBy("u").agg(F.sum("w").alias("wd"))
    frac = e.join(wdeg, "u").select(
        "u", "v", (F.col("w") / F.col("wd")).alias("frac")
    ).localCheckpoint(eager=False)
    if n == 0:
        # empty edge list: mirror textrank_keywords' guard — 1/n below
        # would raise ZeroDivisionError on the driver
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iters):
        contribs = (
            ranks.join(frac, ranks["node"] == frac["u"], "inner")
            .select(F.col("v").alias("node"), (F.col("rank") * F.col("frac")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = (
            ranks.join(wdeg, ranks["node"] == wdeg["u"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
            .first()["d"]
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.lit(dangling / n))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def harmonic_closeness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Sampled harmonic closeness centrality (Boldi & Vigna 2014,
    "Axioms for centrality"; sampling per Eppstein & Wang 2004):
    ``H(v) = sum over seeds s of 1 / d(s, v)`` over shortest paths of
    <= ``max_hops`` edges on the undirected view — the centrality
    that, unlike classic closeness, handles disconnected graphs
    gracefully (unreachable pairs contribute 0, no infinite mean).
    Source sampling + hop bound are the standard scale treatment and
    make the oracle an unrolled CTE chain.

    Plan: the betweenness forward pass WITHOUT sigma — per level one
    frontier equi-join + left-anti against the assigned set + one
    dedup; the closeness sum is one groupBy(v) over the level union
    with literal 1/d weights (d <= max_hops, so the float set is tiny
    and exact). State is (seed, node)-keyed, frontier-only per round.
    """
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    s0 = seeds.select(F.col(seeds.columns[0]).alias("s"))
    lvl = s0.select("s", F.col("s").alias("v")).localCheckpoint(eager=False)
    assigned = lvl
    contribs = []
    for d in range(1, max_hops + 1):
        nxt = (
            lvl.join(e, lvl["v"] == e["u"])
            .select("s", e["v"].alias("w"))
            .dropDuplicates()
            .join(assigned.select("s", F.col("v").alias("w")), ["s", "w"], "left_anti")
            .select("s", F.col("w").alias("v"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        contribs.append(nxt.select("v", F.lit(1.0 / d).alias("c")))
        assigned = assigned.unionByName(nxt).localCheckpoint(eager=False)
        lvl = nxt
    if not contribs:
        return s0.select(F.col("s").alias("node"), F.lit(0.0).alias("harmonic_r")).limit(0)
    allc = contribs[0]
    for c in contribs[1:]:
        allc = allc.unionByName(c)
    return allc.groupBy("v").agg(
        F.round(F.sum("c"), 6).alias("harmonic_r")
    ).select(F.col("v").alias("node"), "harmonic_r")


def hyperball(
    edges: DataFrame,
    max_t: int = 3,
    p: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013, "In-core computation of geometric
    centralities with HyperBall"): the neighbourhood function
    ``N(t) = sum over v of |B(v, t)|`` estimated by keeping ONE
    HyperLogLog counter per node and, each round, merging every
    neighbour's counter into it (register-wise max) — the standard
    big-graph distance profile, from which effective diameter falls
    out (:func:`effective_diameter`).

    Composition of the repo's two deterministic primitives: the
    md5-bridge HLL registers (sketches.hll_registers math, here
    per-node at ``m = 2**p`` registers) and the §26 frontier-loop shape
    (per round ONE node-keyed equi-join + one (node, bucket) groupBy
    MAX, lazy localCheckpoint, a single probe job). State is at most
    ``nodes x m`` register rows — HyperBall's documented memory bound —
    and every register is INTEGER, so the whole loop replays exactly
    in SQL; the only floats are the final estimator divisions.

    Returns one row per radius: ``(t, sum_s_scaled, sum_n_zero,
    npairs_r)`` for t = 0..max_t — the two integer columns are
    order-independent exact aggregates (the verification anchor), and
    ``npairs_r`` is the neighbourhood-function estimate (per-node HLL
    estimate summed, 4-dp round absorbing float sum order).
    """
    from .sketches import _HASH_BITS, _alpha

    m = 1 << p
    q = _HASH_BITS - p
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    nodes = e.select(F.col("u").alias("node")).dropDuplicates()
    h = F.conv(
        F.substring(F.md5(F.col("node").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    w = h % F.lit(1 << q)
    regs = nodes.select(
        "node",
        (h / F.lit(1 << q)).cast("bigint").alias("bucket"),
        F.when(w == 0, F.lit(q + 1))
        .otherwise(F.lit(q) + 1 - F.length(F.bin(w)))
        .cast("int")
        .alias("rho"),
    ).localCheckpoint(eager=False)

    num = float(_alpha(m)) * float(m * m) * float(1 << _HASH_BITS)

    def nf(regs_t: DataFrame, t: int) -> DataFrame:
        per = regs_t.groupBy("node").agg(
            F.count(F.lit(1)).alias("n_present"),
            F.sum(
                F.expr(f"shiftleft(cast(1 as bigint), {_HASH_BITS} - rho)")
            ).alias("s_present"),
        )
        vals = per.select(
            (F.lit(m) - F.col("n_present")).cast("long").alias("n_zero"),
            (
                F.col("s_present")
                + (F.lit(m) - F.col("n_present")) * F.lit(1 << _HASH_BITS)
            ).cast("long").alias("s_scaled"),
        )
        est = F.when(
            (F.lit(num) / F.col("s_scaled") <= F.lit(2.5 * m))
            & (F.col("n_zero") > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("n_zero")),
        ).otherwise(F.lit(num) / F.col("s_scaled"))
        return vals.agg(
            F.lit(t).cast("long").alias("t"),
            F.coalesce(F.sum("s_scaled"), F.lit(0)).cast("long").alias("sum_s_scaled"),
            F.coalesce(F.sum("n_zero"), F.lit(0)).cast("long").alias("sum_n_zero"),
            F.coalesce(F.round(F.sum(est), 4), F.lit(0.0)).alias("npairs_r"),
        )

    out = nf(regs, 0)
    for t in range(1, max_t + 1):
        prop = e.join(regs, e["u"] == regs["node"]).select(
            e["v"].alias("node"), "bucket", "rho"
        )
        regs = (
            regs.unionByName(prop)
            .groupBy("node", "bucket")
            .agg(F.max("rho").alias("rho"))
            .localCheckpoint(eager=False)
        )
        regs.count()  # one probe job materializes the round
        out = out.unionByName(nf(regs, t))
    return out


def effective_diameter(nf_rows: list, q: float = 0.9) -> int:
    """Smallest radius t with N(t) >= q * N(max_t), from the COLLECTED
    (max_t + 1)-row neighbourhood function — bounded driver state by
    construction."""
    byt = sorted((r["t"], r["npairs_r"]) for r in nf_rows)
    target = q * byt[-1][1]
    for t, n in byt:
        if n >= target:
            return int(t)
    return int(byt[-1][0])


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Per-community Newman–Girvan modularity contributions over an
    undirected simple graph (``edges`` as canonical ``src < dst``
    pairs): for each community c,

        Q_c = m_c / m  -  (d_c / 2m)^2

    where m = |edges|, m_c = edges with BOTH endpoints labeled c, and
    d_c = sum of degrees of c's nodes; sum(Q_c) is the graph's
    modularity (Newman & Girvan 2004) — the standard objective for
    judging a community assignment (e.g. label-propagation output)
    before using it to partition a KG.

    Scale shape: two node-keyed equi-joins of the edge table against
    the node-sized label table, two map-side-combinable aggregations,
    and one 1-row totals broadcast crossJoin — no all-pairs step, no
    window, no collect. Nodes the labeling never reached fall into the
    '_unlabeled' community so the partition is total (modularity is
    only defined over a full partition of the nodes).

    Every intermediate is an exact long; the single double expression
    (q_contrib_r) is reproduced verbatim by the DuckDB oracle.
    """
    e = edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v"))
    lab = labels.select(
        F.col(node_col).alias("__n"), F.col(label_col).alias("__l")
    )
    und = e.unionByName(
        e.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
    )
    deg = und.groupBy("__u").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.join(lab, deg["__u"] == lab["__n"], "left").select(
        F.col("__u").alias("node"),
        F.coalesce(F.col("__l"), F.lit("_unlabeled")).alias("community"),
        "deg",
    )
    lu = nodes.select(F.col("node").alias("__u"), F.col("community").alias("cu"))
    lv = nodes.select(F.col("node").alias("__v"), F.col("community").alias("cv"))
    inc = (
        e.join(lu, "__u")
        .join(lv, "__v")
        .filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    dsum = nodes.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("deg").alias("degree_sum"),
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))
    return (
        dsum.join(inc, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce(F.col("in_edges"), F.lit(0)).cast("long").alias("in_edges"),
            F.col("degree_sum").cast("long").alias("degree_sum"),
            F.round(
                F.coalesce(F.col("in_edges"), F.lit(0))
                / F.col("m").cast("double")
                - F.pow(
                    F.col("degree_sum") / (F.lit(2.0) * F.col("m")),
                    F.lit(2.0),
                ),
                6,
            ).alias("q_contrib_r"),
        )
    )


def louvain_move(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """One synchronized Louvain node-move round (Blondel et al. 2008;
    the synchronous variant is the standard distributed adaptation,
    e.g. GraphX/Grappolo): every node i evaluates moving to each
    NEIGHBOR community c and keeps the argmax of

        gain(i -> c)  ∝  2m * k_{i,c}  -  k_i * Σtot'(c)

    where m = |edges|, k_{i,c} = links from i into c, k_i = degree,
    and Σtot'(c) = degree mass of c with i itself removed — the
    standard ΔQ numerator scaled by 2m² so the comparison is EXACT
    integer arithmetic (decimal(38,0) lattice; no float ordering,
    no cross-engine ulp risk). Ties prefer staying put, then the
    smaller community label. Nodes the input labeling never reached
    start in singleton communities ('_n<id>'), Louvain's classic
    initial state.

    Scale shape: one neighbor-community count agg, one community
    degree-mass agg, a per-NODE argmax window (partitioned — never
    global), and a 1-row totals broadcast. No all-pairs, no collect;
    the same shapes as label_propagation's vote round.
    """
    from pyspark.sql.window import Window

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("k"))
    lab = labels.select(
        F.col(node_col).alias("node"), F.col(label_col).alias("label")
    )
    comm = deg.join(lab, deg["u"] == lab["node"], "left").select(
        F.col("u").alias("node"),
        F.coalesce(
            F.col("label"), F.concat(F.lit("_n"), F.col("u").cast("string"))
        ).alias("community"),
        "k",
    )
    tot = comm.groupBy("community").agg(F.sum("k").alias("tot"))
    nbr = (
        und.join(
            comm.select(
                F.col("node").alias("v"), F.col("community").alias("c")
            ),
            "v",
        )
        .groupBy(F.col("u").alias("node"), "c")
        .agg(F.count(F.lit(1)).alias("k_ic"))
    )
    cur = comm.select("node", F.col("community").alias("cur"), "k")
    cand = (
        nbr.unionByName(
            cur.select(
                "node",
                F.col("cur").alias("c"),
                F.lit(0).cast("long").alias("k_ic"),
            )
        )
        .groupBy("node", "c")
        .agg(F.sum("k_ic").alias("k_ic"))
    )
    m = e.agg(F.count(F.lit(1)).alias("m"))

    def d38(c):
        return c.cast("decimal(19,0)")

    scored = (
        cand.join(cur, "node")
        .join(tot, cand["c"] == tot["community"])
        .drop("community")
        .crossJoin(F.broadcast(m))
        .withColumn(
            "tot_adj",
            F.col("tot")
            - F.when(F.col("c") == F.col("cur"), F.col("k")).otherwise(
                F.lit(0)
            ),
        )
        .withColumn(
            "gain",
            F.lit(2).cast("decimal(19,0)") * d38(F.col("m")) * d38(F.col("k_ic"))
            - d38(F.col("k")) * d38(F.col("tot_adj")),
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.desc("gain"), F.desc(F.col("c") == F.col("cur")), F.asc("c")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "node",
            F.col("cur").alias("old_label"),
            F.col("c").alias("new_label"),
            (F.col("c") != F.col("cur")).alias("moved"),
        )
    )


def local_clustering(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node LOCAL clustering coefficient over the undirected simple
    graph: ``(node, deg, n_triangles, lcc_r)`` with
    lcc = 2*tri(v) / (deg(v)*(deg(v)-1)), 0 when deg < 2 — Watts &
    Strogatz (1998). graph_metrics reports the GLOBAL transitivity;
    this is the node-grained version a KG curation pass thresholds on
    (low-LCC high-degree nodes are the classic spam/hub signature in
    web and citation graphs).

    Plan shape: reuses triangle_count's degree-oriented enumeration
    (arboricity-bounded wedge fan-out — the only triangle strategy
    that survives power-law degree at 100 TB), one degree agg, one
    node-keyed left join; the division is the only double. Nodes in no
    triangle get n_triangles = 0 via the left join, so the output is a
    TOTAL profile over nodes, not just triangle participants."""
    und = _symmetrize(edges, src, dst)
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    tri = triangle_count(edges, src, dst)
    return (
        deg.withColumnRenamed("u", "node")
        .join(tri, "node", "left")
        .select(
            "node",
            F.col("deg").cast("long").alias("deg"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.round(
                    2.0 * F.coalesce(F.col("n_triangles"), F.lit(0))
                    / (F.col("deg").cast("double") * (F.col("deg") - F.lit(1))),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc_r"),
        )
    )


def ppmi_edges(
    cooc: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    weight_col: str = "n_groups",
) -> DataFrame:
    """Positive pointwise mutual information reweighting of a weighted
    undirected co-occurrence edge list — the Levy & Goldberg (NeurIPS
    2014) result that word2vec/DeepWalk skip-gram factorizes exactly
    this matrix, so PPMI edges are the cheap closed-form stand-in for
    a trained embedding's similarity graph. Each undirected edge of
    weight n contributes n directed events per orientation:
    D = 2*sum(n), #(u) = sum of incident n, and
    ppmi(u,v) = max(0, ln(n * D / (#(u) * #(v)))).

    Plan shape: one edge-keyed agg for marginals (map-side
    combinable), one 1-row totals broadcast, two node-keyed equi-joins
    — marginal tables are node-sized, never all-pairs; every
    intermediate is an exact long, one ln at the end (oracle-stable
    to 6 dp)."""
    e = cooc.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v"),
        F.col(weight_col).cast("long").alias("n"),
    )
    marg = (
        e.select(F.col("u").alias("node"), "n")
        .unionByName(e.select(F.col("v").alias("node"), "n"))
        .groupBy("node")
        .agg(F.sum("n").alias("m"))
    )
    tot = e.agg((F.lit(2) * F.sum("n")).alias("d_total"))
    return (
        e.join(marg.select(F.col("node").alias("u"), F.col("m").alias("mu")), "u")
        .join(marg.select(F.col("node").alias("v"), F.col("m").alias("mv")), "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "u", "v", "n",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        F.col("n").cast("double") * F.col("d_total")
                        / (F.col("mu").cast("double") * F.col("mv"))
                    ),
                ),
                6,
            ).alias("ppmi_r"),
        )
    )


def wl_refinement(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weisfeiler-Leman (1-WL) color refinement with hashed-multiset
    neighbor aggregation — the classical graph-isomorphism refinement
    (Weisfeiler & Leman 1968; Shervashidze et al. JMLR'11 WL kernels)
    and the exact distributed analogue of URDNA2015's blank-node
    degree-then-neighborhood partitioning (canonicalize.py): two nodes
    share a round-r color iff their r-hop neighborhood trees agree
    (up to the documented hash-multiset collision bound).

    Per round every node's color becomes
    ``md5(round | old_color | SUM over neighbors of
    bridge(old_neighbor_color) mod p)``. The multiset of neighbor
    colors is folded through a COMMUTATIVE modular sum of per-color
    hashes instead of a sorted concat: the sum is map-side combinable
    and hub-safe (a sorted collect_list would hold max-degree strings
    per group — the 100 TB hub killer), at the standard sketching
    collision risk (p = 1e9+7; per-pair collision ~1e-9, documented).
    Round-0 color is the degree. Each round is ONE equi-join
    (colors onto the symmetrized edge list) + ONE map-side-combinable
    groupBy sum — no windows, no collects; per-round lineage is
    truncated like every fixpoint loop here.

    Output: (node, wl_color VARCHAR(16), class_size BIGINT) — class
    size via one final color-keyed agg, the partition-refinement
    histogram a canonical labeller or isomorphism test consumes.
    """
    # the symmetrized edge list feeds 1 + rounds consumers (degree agg
    # plus one neighbor join per round) — no cross-consumer CSE in
    # Spark, so materialize it once (shared-input pattern, cf. hits)
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    deg = e.groupBy(F.col("u").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    colors = deg.select(
        "node",
        F.substring(
            F.md5(F.concat(F.lit("wl0|"), F.col("deg").cast("string"))), 1, 16
        ).alias("c"),
    )
    p = F.lit(1_000_000_007)
    for r in range(1, int(rounds) + 1):
        nbr = (
            e.join(colors.withColumnRenamed("node", "v"), "v")
            .select(
                F.col("u").alias("node"),
                (
                    F.conv(F.substring(F.md5(F.concat(F.lit("wlh|"), F.col("c"))), 1, 12), 16, 10)
                    .cast("long") % p
                ).alias("h"),
            )
            .groupBy("node")
            .agg(F.sum("h").alias("sig"))
        )
        colors = (
            colors.join(nbr, "node", "left")
            .select(
                "node",
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"wl{r}|"), F.col("c"), F.lit("|"),
                            F.coalesce(F.col("sig"), F.lit(0)).cast("string"),
                        )
                    ),
                    1, 16,
                ).alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    sizes = colors.groupBy("c").agg(F.count(F.lit(1)).alias("class_size"))
    return colors.join(sizes, "c").select(
        "node", F.col("c").alias("wl_color"), "class_size"
    )


def neighbor_sample(
    edges: DataFrame,
    fanouts: tuple = (3, 2),
    root_filter=None,
    seed: str = "",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic GraphSAGE-style fan-out neighbor sampling
    (Hamilton et al. NeurIPS'17): for each root, keep at most
    ``fanouts[0]`` 1-hop neighbors, then at most ``fanouts[1]``
    neighbors of EACH sampled neighbor (keyed by root, so the sampled
    computation trees are independent across roots), and so on — the
    minibatch-construction primitive of every distributed GNN trainer.

    The "sample" is the md5-bridge top-k: rank neighbors of n within
    (root, hop, n) by ``md5(seed|hop|root|n|neighbor)`` and keep
    rank <= fanout. Reproducible across reruns / partitionings /
    engines, and resumable — a re-run selects the identical trees, so
    a failed epoch's minibatches can be rebuilt exactly.

    Plan shape per hop: ONE equi-join of the current frontier against
    the symmetrized edge list + ONE window partitioned by (root,
    parent) — a PARTITIONED window (max group size = max degree, the
    audited-safe shape; never a global sort). Frontier rows carry only
    (root, node), so state is O(sum of fanout products), not
    O(graph).

    Output: (root, hop, parent, child) — every sampled tree edge.
    """
    from pyspark.sql.window import Window

    # one consumer per hop plus the root derivation — materialize the
    # symmetrized adjacency once (no cross-consumer CSE in Spark)
    e = _symmetrize(edges, src, dst).localCheckpoint(eager=False)
    roots = e.select(F.col("u").alias("root")).dropDuplicates()
    if root_filter is not None:
        roots = roots.where(root_filter(F.col("root")))
    frontier = roots.select("root", F.col("root").alias("node"))
    out = None
    for hop, k in enumerate(fanouts, start=1):
        cand = frontier.join(e.withColumnRenamed("u", "node"), "node").select(
            "root", F.col("node").alias("parent"), F.col("v").alias("child")
        )
        key = F.md5(
            F.concat_ws(
                "|", F.lit(seed), F.lit(str(hop)),
                F.col("root").cast("string"), F.col("parent").cast("string"),
                F.col("child").cast("string"),
            )
        )
        w = Window.partitionBy("root", "parent").orderBy(key.asc(), F.col("child").asc())
        picked = (
            cand.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= int(k))
            .select("root", F.lit(hop).cast("int").alias("hop"), "parent", "child")
        )
        out = picked if out is None else out.unionByName(picked)
        frontier = picked.select("root", F.col("child").alias("node")).dropDuplicates()
    return out


def _fresh_ckpt(df: DataFrame, eager: bool = False) -> DataFrame:
    """localCheckpoint + Catalyst-stats reset for iterative loop state.

    LogicalRDD (what localCheckpoint produces) PRESERVES the origin
    Dataset's statistics, and SizeInBytesOnlyStatsPlanVisitor
    MULTIPLIES child sizeInBytes through every join — so a loop that
    checkpoints a join of previous checkpoints inflates sizeInBytes
    exponentially (measured: 4,566 digits after ~6 generations at
    fan-in 3; planning then drowns in BigInteger.multiply — Karatsuba/
    ToomCook frames dominate the driver thread). Rebuilding the
    checkpointed Dataset from its JavaRDD drops originStats, so every
    generation restarts from defaultSizeInBytes (19 digits) and stats
    arithmetic stays O(1) per round. JVM-side only (toJavaRDD →
    createDataFrame(JavaRDD[Row], schema)); no Python round-trip, and
    the wrapped RDD still scans the checkpoint-persisted blocks.
    Safe for flat-typed loop state (longs/strings); exotic types
    should verify encoder round-trip first.
    """
    from pyspark.sql.dataframe import DataFrame as _PyDF

    ck = df.localCheckpoint(eager=eager)
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(ck._jdf.toJavaRDD(), ck._jdf.schema())
    return _PyDF(jdf, spark)


def _min_prop(nodes: DataFrame, e: DataFrame, forward: bool, max_iter: int = 40) -> DataFrame:
    """Fixpoint min-label propagation over a DIRECTED edge set.

    forward=True computes lab(v) = min(ancestors(v) + {v}) (labels flow
    along s->d); forward=False the descendant min (labels flow d->s).

    Each round combines a 1-hop spread (frontier equi-join + map-side
    combinable MIN) with a pointer-jumping shortcut lab' = lab(lab(v))
    — sound because lab(v) is a known ancestor of v, so any known
    ancestor of lab(v) is also an ancestor of v, and it collapses the
    propagation distance geometrically (hash-to-min style), so rounds
    are O(log diameter) instead of O(diameter). Fixpoint is detected
    by the order-independent label fingerprint; one probe job per
    round, lineage cut with lazy localCheckpoint.
    """
    s, d = ("s", "d") if forward else ("d", "s")
    lab = nodes.select("node", F.col("node").alias("lab")).transform(_fresh_ckpt)
    prev = _edge_fingerprint(lab.select(F.col("node").alias("u"), F.col("lab").alias("v")))
    for _ in range(max_iter):
        hop = (
            e.join(lab.withColumnRenamed("node", s), s)
            .groupBy(F.col(d).alias("node"))
            .agg(F.min("lab").alias("m1"))
        )
        jump = (
            lab.alias("a")
            .join(lab.alias("b"), F.col("a.lab") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.lab").alias("m2"))
        )
        lab2 = (
            lab.join(hop, "node", "left")
            .join(jump, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("lab"), F.coalesce("m1", "lab"), F.coalesce("m2", "lab")
                ).alias("lab"),
            )
            .transform(_fresh_ckpt)
        )
        fp = _edge_fingerprint(
            lab2.select(F.col("node").alias("u"), F.col("lab").alias("v"))
        )
        lab = lab2
        if fp == prev:
            break
        prev = fp
    return lab


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_outer: int = 12,
) -> DataFrame:
    """(node, scc) with scc = min node id in the node's strongly
    connected component — the directed-graph twin of
    connected_components, used to find cyclic clusters (mutual
    sameAs/derivedFrom loops, tool-call cycles) a KG curation pass
    must collapse or break.

    Coloring algorithm (Orzan 2004 / the Hong, Rodia & Olukotun
    PPoPP'13 "color propagation" phase, re-expressed as DataFrame
    joins). Each outer round over the remaining subgraph:

    1. color(v) = min(ancestors(v) + {v}) — forward fixpoint
       min-propagation (`_min_prop`, pointer-jumping, O(log d)
       rounds). Every class root c has color(c) == c and is its
       class's minimum.
    2. Restrict edges to same-color endpoints. Any v→c path from a
       color-c node to its root stays inside the class (an
       intermediate with a smaller-min ancestor set would have forced
       color(v) < c), so backward class-restricted reachability from
       c is exactly SCC(c): run `_min_prop` backward over the
       restricted edges — b(v) == color(v) certifies v reaches its
       own root, i.e. v ∈ SCC(color(v)).
    3. Assign those nodes, peel them and their incident edges. A
       cycle through an assigned node would itself be in an assigned
       SCC, so peeling preserves every remaining SCC.

    Every round assigns AT LEAST every class root's SCC — in
    particular every self-colored node — so pure-DAG regions collapse
    in ONE round (each DAG node is its own color and trivially
    reaches itself) rather than the O(chain) rounds a naive
    f==b MultiStep peel needs; rounds = nesting depth of SCCs under
    smaller-id ancestors, a handful in practice.

    Scale shape: all steps are node- or edge-keyed equi-joins +
    map-side-combinable MINs — no collect, no window, no all-pairs;
    state per round is one (node, lab) table.
    """
    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .where(F.col(src) != F.col(dst))
        .dropDuplicates()
        .transform(_fresh_ckpt)
    )
    nodes = (
        e0.select(F.col("s").alias("node"))
        .unionByName(e0.select(F.col("d").alias("node")))
        .dropDuplicates()
        .transform(_fresh_ckpt)
    )
    spark = edges.sparkSession
    _SP = "spark.sql.shuffle.partitions"
    _AQE = "spark.sql.adaptive.enabled"
    sp_old, aqe_old = spark.conf.get(_SP), spark.conf.get(_AQE, "true")
    if _edge_fingerprint(e0.select(F.col("s").alias("u"), F.col("d").alias("v")))[1] <= 2_000_000:
        spark.conf.set(_AQE, "false")
        spark.conf.set(_SP, str(max(1, min(int(sp_old), 8))))
    try:
        assigned = None
        remaining, e = nodes, e0
        for _ in range(max_outer):
            color = _min_prop(remaining, e, forward=True).withColumnRenamed(
                "lab", "color"
            ).transform(_fresh_ckpt)
            ec = (
                e.join(
                    color.select(F.col("node").alias("s"), F.col("color").alias("cs")),
                    "s",
                )
                .join(
                    color.select(F.col("node").alias("d"), F.col("color").alias("cd")),
                    "d",
                )
                .where(F.col("cs") == F.col("cd"))
                .select("s", "d")
                .transform(_fresh_ckpt)
            )
            b = _min_prop(remaining, ec, forward=False).withColumnRenamed("lab", "blab")
            both = color.join(b, "node").transform(_fresh_ckpt)
            done = both.where(F.col("color") == F.col("blab")).select(
                "node", F.col("color").alias("scc")
            )
            assigned = done if assigned is None else assigned.unionByName(done)
            assigned = assigned.transform(_fresh_ckpt)
            remaining = (
                both.where(F.col("color") != F.col("blab"))
                .select("node")
                .transform(_fresh_ckpt)
            )
            if remaining.count() == 0:
                break
            e = (
                e.join(remaining.withColumnRenamed("node", "s"), "s")
                .join(remaining.withColumnRenamed("node", "d"), "d")
                .select("s", "d")
                .transform(_fresh_ckpt)
            )
        else:
            raise RuntimeError(
                "strongly_connected_components did not converge in "
                f"{max_outer} outer rounds"
            )
    finally:
        spark.conf.set(_SP, sp_old)
        spark.conf.set(_AQE, aqe_old)
    return assigned


def square_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 64,
) -> DataFrame:
    """4-cycle (square) census over an undirected graph — the motif one
    step past triangles, the standard bipartite-community / link-farm
    signal (two nodes sharing many common neighbors ⇒ C(c,2) squares on
    their diagonal). Counting is wedge-based: for every diagonal pair
    (a, b) the number of common LOW-DEGREE middles c_ab is aggregated,
    and Σ C(c_ab, 2) counts each square once per eligible diagonal
    (exactly twice when uncapped — the returned incidence sum halves to
    the square count in that case; with the cap it is the documented
    hub-deflated census, same contract as the triangle query's cap).

    Scale shape: middles above ``max_degree`` are dropped BEFORE the
    quadratic wedge fan-out (per-middle cost ≤ max_degree², never
    hub²); the rest is two equi-joins + two integer aggregations —
    map-side-combinable, no windows, no Python, no floats.
    """
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates()
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    mids = deg.where(F.col("d") <= max_degree).select(F.col("a").alias("m"))
    # mids is O(|V|): no broadcast hint, AQE picks the join from its size
    legs = sym.select(F.col("a").alias("m"), "b").join(mids, "m")
    wedges = (
        legs.select("m", F.col("b").alias("x"))
        .join(legs.select("m", F.col("b").alias("y")), "m")
        .where(F.col("x") < F.col("y"))
    )
    diag = wedges.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c"))
    return diag.agg(
        F.count(F.lit(1)).cast("long").alias("n_diagonal_pairs"),
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_wedges"),
        F.coalesce(
            F.sum(F.expr("c * (c - 1) DIV 2")),  # integer-exact C(c,2)
            F.lit(0),
        ).cast("long").alias("n_square_incidences"),
    )


def degree_distribution(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    tail_min_degree: int = 4,
) -> DataFrame:
    """Log-binned degree histogram + Hill power-law tail estimate — the
    standard at-scale graph health profile (is this KG scale-free? where
    do the hubs start?). Bin id is the INTEGER bit length of the degree
    (length of its binary representation: 1→1, 2-3→2, 4-7→3, …), so
    binning is integer-exact on every engine — no float log2 at bin
    edges. The Hill estimator over the tail d ≥ tail_min_degree,

        alpha = 1 + n_tail / Σ ln(d / d_min),

    uses the repo's micro-unit trick (per-node ln quantized to 1e-6
    BIGINT before the sum) so the oracle replays it bit-for-bit.

    Scale shape: one degree aggregation + one bin aggregation, both
    map-side combinable; the alpha scalar joins back as a broadcast
    1-row cross join. No windows, no Python.
    """
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).where(
        F.col("a") != F.col("b")
    )
    sym = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates()
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    hist = deg.groupBy(
        F.length(F.bin(F.col("d"))).cast("int").alias("bin_id")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("d_min"),
        F.max("d").cast("long").alias("d_max"),
    )
    tail = deg.where(F.col("d") >= tail_min_degree).agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.sum(
            F.round(
                F.log(F.col("d").cast("double") / F.lit(float(tail_min_degree)))
                * F.lit(1e6),
                0,
            ).cast("long")
        ).alias("lsum_micro"),
    )
    alpha = tail.select(
        F.when(
            F.col("lsum_micro") > 0,
            F.round(
                F.lit(1.0)
                + F.col("n_tail").cast("double")
                / (F.col("lsum_micro").cast("double") / F.lit(1e6)),
                6,
            ),
        ).alias("hill_alpha_r")
    )
    return hist.crossJoin(F.broadcast(alpha)).select(
        "bin_id", "n_nodes", "d_min", "d_max", "hill_alpha_r"
    )
