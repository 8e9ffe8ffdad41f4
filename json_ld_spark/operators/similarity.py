"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k, fully JVM-side (zip_with/aggregate —
codegen'd, no Python). Scale paths:

- **Banded multi-table hyperplane LSH**: B independent signature tables
  of `band_bits` sign-bits each. A pair is a candidate if it collides in
  ANY band. Per-band expected bucket size is N/2^band_bits, so
  candidate fan-in is ~B * N^2 / 2^band_bits — `band_bits` bounds the
  per-bucket blow-up while extra bands restore recall
  (P[candidate] = 1 - (1 - s^band_bits)^B for per-plane agreement
  probability s = 1 - theta/pi). A single wide table (the round-1
  design) had unbounded per-bucket fan-in ~(N/2^planes)^2 with no way
  to raise planes without killing recall.
- **IVF** (inverted file): deterministic hash-seeded coarse codebook
  refined by Lloyd assignment passes; search probes the n_probe nearest
  cells per query, so the candidate join is an equi-join on cell id.
  Centroid means are computed component-wise (posexplode +
  groupBy(cell, idx)) — per-group aggregation state is ONE double, never
  a list of vectors, so the plan is memory-bounded at any corpus size.

An embedding-cosine near-duplicate detector reuses the banded-LSH
kernel. No reference analogue (training-data ops beyond
timothee-haudebourg/json-ld's scope, per the task brief).
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine. Broadcast the (small)
    query side; the corpus streams through one codegen stage. The only
    shuffle is the per-query top-k window. broadcast_queries=False
    drops the hint for large query sets (plain cross join; AQE/the
    optimizer pick the strategy)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q) if broadcast_queries else q)
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            cosine(F.col("qv"), F.col("cv")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def _hyperplane(dim: int, plane_no: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (hash-based; no RNG
    state, reproducible across cluster sizes)."""
    import hashlib
    import struct

    vals = []
    for i in range(dim):
        h = hashlib.sha256(f"plane:{plane_no}:{i}".encode()).digest()[:8]
        (u,) = struct.unpack(">Q", h)
        # map to (-1, 1)
        vals.append((u / 2**63) - 1.0)
    n = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / n for v in vals]


def lsh_band_keys(
    vec_col: Column, dim: int, n_bands: int = 4, band_bits: int = 8
) -> Column:
    """Banded multi-table LSH keys: array<struct<band:int, sig:int>> —
    one signature per independent table. Plane (band b, bit i) is the
    deterministic hyperplane #(b*band_bits + i), so tables share no
    planes. Join key is (band, sig): per-band expected bucket size
    N/2^band_bits bounds fan-in; recall is restored by the OR over
    bands.

    Implementation: one Arrow-batched pandas UDF doing a single numpy
    matmul (batch × planes^T) and packing sign bits — one pass over the
    vectors regardless of plane count. The pure-column alternative
    (n_bands*band_bits separate aggregate/zip_with dot products)
    re-traverses every array once per plane and measured ~4x slower at
    24 planes."""
    sigs = _band_sigs_udf(dim, n_bands, band_bits)(vec_col)
    return F.transform(
        sigs,
        lambda sig, b: F.struct(b.cast("int").alias("band"), sig.alias("sig")),
    )


def _band_sigs_udf(dim: int, n_bands: int, band_bits: int):
    """pandas UDF: embedding array<double> → array<int> of per-band
    signatures. The plane matrix is rebuilt deterministically per
    executor (hash-based, no broadcast needed) and cached per process."""
    import numpy as np
    from pyspark.sql import types as T

    n_planes = n_bands * band_bits
    key = (dim, n_bands, band_bits)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def band_sigs(vecs: pd.Series) -> pd.Series:
        planes = _PLANES_CACHE.get(key)
        if planes is None:
            planes = np.array(
                [_hyperplane(dim, p) for p in range(n_planes)]
            ).T  # dim × n_planes
            _PLANES_CACHE[key] = planes
        if len(vecs) == 0:  # empty Arrow batch: matmul on shape (0,) throws
            return pd.Series([], dtype=object)
        mat = np.array(
            [v if v is not None else [0.0] * dim for v in vecs], dtype=np.float64
        )  # batch × dim (NULL vectors hash as the zero vector)
        bits = (mat @ planes) >= 0  # batch × n_planes
        weights = np.fromiter(
            ((1 << (i % band_bits)) for i in range(n_planes)), dtype=np.int64
        )
        weighted = bits * weights  # batch × n_planes
        sigs = weighted.reshape(len(mat), n_bands, band_bits).sum(axis=2)
        return pd.Series([row.astype(np.int32).tolist() for row in sigs])

    return band_sigs


_PLANES_CACHE: dict = {}


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """Approximate top-k via banded multi-table LSH: candidates are
    corpus rows sharing ANY band signature with the query. `n_planes`
    is the bits-per-band (bucket granularity → fan-in bound); `n_bands`
    independent tables trade extra (bounded) candidates for recall.
    The equi-join on (band, sig) replaces the cross join — the 100 TB
    shape; per-band bucket keys are uniform by construction.

    broadcast_queries=True fits the asymmetric API contract (queries ≪
    corpus). Pass False for self-search / large query sets: the forced
    broadcast becomes a plain shuffle equi-join and AQE picks the
    strategy from actual sizes (round-2 advice: an all-corpus
    self-search must not attempt an over-limit broadcast).

    Recall/candidate-rate trade-off is corpus-dependent: on UNIFORM
    random embeddings (no cluster structure — LSH's worst case, and
    what the synthetic bench corpus is) the driver config measures
    recall 0.20 at ~6 % candidate rate, 0.84 at ~50 % (see BENCH.md
    "Approximate-operator quality"); clusterable real corpora sit far
    to the better side. Dial: band_bits down / n_bands up = recall up,
    fan-in up. The exactness gate for this operator is plan
    REPRODUCIBILITY (the DuckDB oracle replays the plane family), not
    recall; use ivf_topk when the corpus has exploitable structure.
    """
    keys = lambda c: F.explode(lsh_band_keys(c, dim, n_bands, n_planes))  # noqa: E731
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        keys(F.col(vec_col)).alias("bk"),
    ).select("query_id", "qv", "bk.band", "bk.sig")
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cv"),
        keys(F.col(vec_col)).alias("bk"),
    ).select("cand_id", "cv", "bk.band", "bk.sig")
    q_side = F.broadcast(q) if broadcast_queries else q
    cands = (
        c.join(q_side, ["band", "sig"])
        .filter(F.col("cand_id") != F.col("query_id"))
        # a pair colliding in several bands appears once per band —
        # dedup BEFORE the cosine so the kernel runs once per pair
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cands.select(
        "query_id", "cand_id", cosine(F.col("qv"), F.col("cv")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def embedding_near_duplicates(
    vectors: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold: banded
    multi-table LSH self-join on (band, sig), pair-dedup before the
    cosine verify, id< dedup. Identical vectors agree on every plane, so
    exact duplicates are found with recall 1.0 at any band setting; the
    per-band fan-in bound is N²/2^n_planes (see module docstring)."""
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.explode(lsh_band_keys(F.col(vec_col), dim, n_bands, n_planes)).alias("bk"),
    ).select("vid", "vec", "bk.band", "bk.sig")
    l, r = v.alias("l"), v.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(
            F.col("l.vid").alias("vec_a"),
            F.col("r.vid").alias("vec_b"),
            F.col("l.vec").alias("va"),
            F.col("r.vec").alias("vb"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cands.select(
            "vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos")
        )
        .filter(F.col("cos") >= threshold)
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: hash-seeded codebook + Lloyd refinement,
# cell-equi-join search (task brief: "IVF or LSH-bucketed variant as the
# scale path")
# --------------------------------------------------------------------------

def _centroid_means(assigned: DataFrame, quantize: int | None = None) -> DataFrame:
    """Component-wise centroid means with BOUNDED aggregation state:
    posexplode each vector, average per (cell, component) — the partial
    aggregate holds one double per group, and the final reassembly
    collects exactly `dim` (idx, mean) structs per cell. No
    collect_list of whole vectors anywhere in the plan.
    quantize=d rounds each mean to d decimals (engine-reproducible
    codebooks — see ivf_centroids)."""
    comp = assigned.select("cell", F.posexplode("vec").alias("idx", "x"))
    mean = F.avg("x") if quantize is None else F.round(F.avg("x"), quantize)
    return (
        comp.groupBy("cell", "idx")
        .agg(mean.alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("im"))
        .select("cell", F.transform("im", lambda s: s["m"]).alias("centroid"))
    )


def ivf_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    lloyd_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic IVF codebook.

    Seeds are the `n_cells` vectors with the smallest
    xxhash64(vec_id) — a uniform, reproducible sample (top-k on the
    hash; no RNG state, stable across cluster sizes). Each of
    `lloyd_rounds` Lloyd passes then (1) assigns every vector to its
    nearest current centroid with the codegen'd cosine kernel against
    literal centroids, and (2) recomputes centroids as component-wise
    means via `_centroid_means` (bounded state, see above). The codebook
    (n_cells × dim doubles) is collected to the driver between rounds —
    the same driver-resident-codebook shape as Spark ML KMeans; data
    never leaves executors.

    Returns a DataFrame (cell int, centroid array<double>); cells whose
    assignment emptied out are dropped (queries simply never probe
    them)."""
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    # seed hash is the md5 bridge (conv(substring(md5(x),1,8),16,10) ==
    # DuckDB ('0x'||substr(md5(x),1,8))::BIGINT) rather than xxhash64,
    # so the whole codebook derivation is replayable in the DuckDB
    # oracle; 32-bit keyspace is ample for a seed SAMPLE (ties broken
    # by vid either way)
    seed_rows = (
        v.withColumn(
            "h",
            F.conv(F.substring(F.md5(F.col("vid").cast("string")), 1, 8), 16, 10)
            .cast("long"),
        )
        .orderBy("h", "vid")
        .limit(n_cells)
        .select("vec")
        .collect()
    )
    cents = [(i, [float(x) for x in r["vec"]]) for i, r in enumerate(seed_rows)]
    for _ in range(max(0, lloyd_rounds)):
        assigned = v.select(
            _nearest_cells(F.col("vec"), cents, 1)[0].alias("cell"), "vec"
        )
        # centroid components are quantized to 1e-6 (Spark-side round,
        # half-up) so the codebook is reproducible across engines and
        # summation orders: F.avg's partial-aggregation order is
        # partitioning-dependent at the last ulp, and the oracle's AVG
        # sums in yet another order — quantizing between Lloyd rounds
        # stops that ulp from compounding into different assignments
        cents = [
            (int(r["cell"]), [float(x) for x in r["centroid"]])
            for r in _centroid_means(assigned, quantize=6).collect()
        ]
    spark = vectors.sparkSession
    return spark.createDataFrame(
        [(c, vec) for c, vec in sorted(cents)], "cell int, centroid array<double>"
    )


def _nearest_cells(vec_col: Column, centroids: list, n_probe: int) -> Column:
    """Array of the n_probe nearest centroid cell ids. The codebook is
    ONE literal array-of-arrays probed inside a transform() lambda —
    n_cells separately-unrolled cosine folds made whole-stage codegen
    compile time the dominant cost of every IVF stage (same lesson as
    the PQ codebooks). Cell ids are the row positions of the sorted
    codebook, so the (neg_cos, cell-asc) tie order is unchanged."""
    cells = sorted(centroids)
    cent_mat = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for _, c in cells])
    id_arr = F.array(*[F.lit(int(i)) for i, _ in cells])
    scored = F.zip_with(
        cent_mat, id_arr,
        lambda c, i: F.struct(
            (-cosine(vec_col, c)).alias("neg_cos"), i.alias("cell")
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, n_probe), lambda s: s["cell"]
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    n_assign: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF search: corpus rows are indexed under their n_assign nearest
    cells (n_assign > 1 = the standard replication/spilling trick for
    cell-boundary neighbors — index size grows by the same factor);
    each query probes its n_probe nearest cells. The candidate join is
    an equi-join on cell id (the 100 TB shape; recall tuned by
    n_probe × n_assign, candidate fraction ≈ n_probe·n_assign/n_cells).
    Centroids are collected to the driver (coarse codebook ≪ data) and
    inlined as literals so assignment stays in whole-stage codegen.
    broadcast_queries=False turns the forced query broadcast into a
    plain equi-join on cell (self-search / large query sets; AQE
    decides the physical strategy)."""
    cents = [(int(r["cell"]), list(r["centroid"])) for r in centroids.collect()]
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"),
        F.explode(_nearest_cells(F.col(vec_col), cents, n_assign)).alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(_nearest_cells(F.col(vec_col), cents, n_probe)).alias("cell"),
    )
    q_side = F.broadcast(q) if broadcast_queries else q
    scored = (
        c.join(q_side, "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
        .dropDuplicates(["query_id", "cand_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


# --------------------------------------------------------------------------
# IVF-PQ: product-quantized residual encoding + ADC shortlist + exact
# re-rank (FAISS IndexIVFPQR shape; Jégou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011)
# --------------------------------------------------------------------------


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sub(a: Column, b: Column) -> Column:
    return F.zip_with(a, b, lambda x, y: x - y)


def _lit_matrix(rows: list[list[float]]) -> Column:
    """Literal array<array<double>> — ONE constant-folded data value, so
    per-entry math runs inside a single transform() lambda instead of an
    unrolled per-entry expression tree (k entries as separate aggregate
    lambdas made Catalyst codegen the bottleneck: ~24 s compile for
    8 x 32 codebooks)."""
    return F.array(*[F.array(*[F.lit(float(x)) for x in r]) for r in rows])


def _argmin_code(codebook_col: Column, vec_col: Column) -> Column:
    """Argmin-L2 code id against a codebook array (ties -> lower code,
    matching the oracle's ROW_NUMBER ORDER BY d2, code)."""
    scored = F.transform(
        codebook_col,
        lambda c, i: F.struct(_l2sq(vec_col, c).alias("d2"), i.alias("code")),
    )
    return F.array_sort(scored)[0]["code"]


def pq_codebooks(
    vectors: DataFrame,
    centroids: DataFrame,
    m_subspaces: int = 8,
    n_codes: int = 32,
    lloyd_rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks over IVF residuals.

    Each vector's residual against its PRIMARY (nearest) coarse
    centroid is split into ``m_subspaces`` contiguous slices; every
    subspace trains its own ``n_codes``-entry codebook with the same
    hash-seeded Lloyd discipline as :func:`ivf_centroids` (md5-bridge
    seed sample so the whole derivation replays in the DuckDB oracle;
    L2 assignment — PQ quantizes Euclidean residual space; means
    quantized to 1e-6 between rounds so cross-engine summation-order
    ulps cannot flip assignments). ALL subspaces train in the same
    jobs: the residual explodes into (subspace, subvector) rows once
    and each Lloyd round is one assignment + one bounded-state mean
    aggregation keyed (subspace, code) — 2 jobs per round total, not
    2 x m. Returns driver-resident codebooks
    ``[subspace][code] -> centroid`` (m x n_codes x dim/m doubles, the
    broadcast-sized model every consumer inlines as one literal)."""
    cents = [(int(r["cell"]), list(r["centroid"])) for r in centroids.collect()]
    dim = len(cents[0][1])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub_d = dim // m_subspaces
    v = vectors.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
    cent_mat = _lit_matrix([c for _, c in sorted(cents)])
    res = v.select(
        "vid",
        _sub(
            F.col("vec"),
            F.element_at(cent_mat, _nearest_cells(F.col("vec"), cents, 1)[0] + 1),
        ).alias("res"),
    )
    # one seed ordering shared by all subspaces (md5 bridge, ties by id)
    seed_rows = (
        res.withColumn(
            "h",
            F.conv(F.substring(F.md5(F.col("vid").cast("string")), 1, 8), 16, 10)
            .cast("long"),
        )
        .orderBy("h", "vid")
        .limit(n_codes)
        .select("res")
        .collect()
    )
    books = [
        [
            [float(x) for x in r["res"][j * sub_d:(j + 1) * sub_d]]
            for r in seed_rows
        ]
        for j in range(m_subspaces)
    ]
    # (subspace, subvector) long form — trained once, reused every round
    sub = res.select(
        F.posexplode(
            F.array(*[
                F.slice(F.col("res"), j * sub_d + 1, sub_d)
                for j in range(m_subspaces)
            ])
        ).alias("j", "vec")
    ).localCheckpoint(eager=False)
    for _ in range(max(0, lloyd_rounds)):
        cb_all = F.array(*[_lit_matrix(b) for b in books])  # [j][code][dim]
        assigned = sub.select(
            "j",
            _argmin_code(F.element_at(cb_all, F.col("j") + 1), F.col("vec"))
            .alias("code"),
            "vec",
        )
        comp = assigned.select("j", "code", F.posexplode("vec").alias("idx", "x"))
        rows = (
            comp.groupBy("j", "code", "idx")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .groupBy("j", "code")
            .agg(F.array_sort(F.collect_list(F.struct("idx", "m"))).alias("im"))
            .select("j", "code", F.transform("im", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        books = [
            [list(map(float, r["centroid"]))
             for r in sorted(
                 (r for r in rows if r["j"] == j), key=lambda r: r["code"]
             )]
            for j in range(m_subspaces)
        ]
    return books


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 6,
    n_assign: int = 2,
    rerank: int = 80,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """IVF-PQ search with exact re-ranking.

    Index shape (the 100 TB story): each corpus row is stored under its
    ``n_assign`` nearest cells as ``(cand_id, cell, codes)`` — m
    uint8-range ints instead of dim doubles, a ~16x cut in candidate
    bytes, which at scale is what dominates the probe shuffle. The
    candidate stage is the same cell equi-join as :func:`ivf_topk`;
    scoring is ADC (asymmetric distance: per probed cell the query
    residual builds an m x n_codes lookup table, summed over each
    candidate's codes), rounded to 1e-6 with cand_id tiebreak so the
    shortlist is engine-reproducible; the top-``rerank`` shortlist per
    query then joins raw vectors BY ID (k-bounded, cheap) for exact
    cosine top-k. Codebooks/LUTs live in transform() lambdas over one
    literal matrix — constant data, not unrolled expression trees.
    Recall >= the raw-IVF gate is asserted in tests."""
    cents = [(int(r["cell"]), list(r["centroid"])) for r in centroids.collect()]
    dim = len(cents[0][1])
    m = len(books)
    sub_d = dim // m
    cent_mat = _lit_matrix([c for _, c in sorted(cents)])
    cb_all = F.array(*[_lit_matrix(b) for b in books])  # [j][code][dim]

    def residual(vcol: Column, cell_col: Column) -> Column:
        return _sub(vcol, F.element_at(cent_mat, cell_col + 1))

    def subslices(rescol: Column) -> Column:
        return F.array(*[
            F.slice(rescol, j * sub_d + 1, sub_d) for j in range(m)
        ])

    # ---- index side: (cand_id, cell, codes) — no raw vectors ----
    c = corpus.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"),
        F.explode(_nearest_cells(F.col(vec_col), cents, n_assign)).alias("cell"),
    )
    codes = c.select(
        "cand_id", "cell",
        F.zip_with(
            subslices(residual(F.col("cv"), F.col("cell"))),
            F.sequence(F.lit(1), F.lit(m)),
            lambda sv, jj: _argmin_code(F.element_at(cb_all, jj), sv),
        ).alias("codes"),
    )

    # ---- query side: per probed cell, the m x n_codes ADC table ----
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"),
        F.explode(_nearest_cells(F.col(vec_col), cents, n_probe)).alias("cell"),
    )
    lut = q.select(
        "query_id", "cell",
        F.zip_with(
            subslices(residual(F.col("qv"), F.col("cell"))),
            F.sequence(F.lit(1), F.lit(m)),
            lambda sv, jj: F.transform(
                F.element_at(cb_all, jj), lambda cc: _l2sq(sv, cc)
            ),
        ).alias("lut"),
    )
    q_side = F.broadcast(lut) if broadcast_queries else lut

    adc = F.aggregate(
        F.zip_with(
            F.col("codes"), F.col("lut"),
            lambda code, row: F.element_at(row, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        codes.join(q_side, "cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.round(adc, 6).alias("adc"))
        .groupBy("query_id", "cand_id")
        .agg(F.min("adc").alias("adc"))  # best cell per multi-assigned pair
    )
    ws = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("cand_id"))
    shortlist = (
        scored.withColumn("srk", F.row_number().over(ws))
        .filter(F.col("srk") <= rerank)
        .select("query_id", "cand_id")
    )

    # ---- exact re-rank: raw vectors fetched by id for the shortlist ----
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    cv = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    exact = (
        shortlist.join(F.broadcast(qv) if broadcast_queries else qv, "query_id")
        .join(cv, "cand_id")
        .select("query_id", "cand_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "cos", "rank")
    )


def margin_pairs(
    x: DataFrame,
    y: DataFrame,
    k: int = 4,
    threshold: float = 1.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    knn=None,
) -> DataFrame:
    """Margin-based pair mining between two embedding collections
    (Artetxe & Schwenk 2019, "Margin-based parallel corpus mining with
    multilingual sentence embeddings" — the bitext-mining scorer): for
    each x, its best y by the RATIO margin

        margin(x, y) = cos(x, y) / ((avgNN_k(x->Y) + avgNN_k(y->X)) / 2)

    which normalizes raw cosine by both points' local neighborhood
    density (hubs score high against everything; the margin deflates
    them). Returns ``(x_id, y_id, margin_r)`` for pairs whose 6-dp
    margin clears ``threshold``.

    Determinism: the k-NN average is an ORDER-PINNED fold (neighbors
    summed in rank order), so the margin is a fixed composition of
    IEEE ops — bit-identical across engines/partitionings, replayable
    by list_reduce over ``list(cos ORDER BY rank)`` in SQL.

    ``knn`` swaps the candidate generator (default
    :func:`brute_force_topk` — the sampled baseline twin; pass
    ``ivf_topk``/``lsh_topk`` closures at scale — the margin algebra
    only needs (query_id, cand_id, cos, rank) rows).
    """
    gen = knn or (lambda q, c: brute_force_topk(q, c, k=k, id_col=id_col, vec_col=vec_col))
    kxy = gen(x, y)
    kyx = gen(y, x)

    def _avg(t: DataFrame, out: str) -> DataFrame:
        return t.groupBy("query_id").agg(
            (
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("rank", "cos"))),
                        lambda s: s["cos"],
                    ),
                    F.lit(0.0),
                    lambda a, c: a + c,
                )
                / F.count(F.lit(1))
            ).alias(out)
        )

    ax = _avg(kxy, "ax")
    ay = _avg(kyx, "ay")
    m = (
        kxy.join(ax, "query_id")
        .join(ay.withColumnRenamed("query_id", "cand_id"), "cand_id")
        .withColumn(
            "margin",
            F.col("cos") / ((F.col("ax") + F.col("ay")) / F.lit(2.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("margin"), F.asc("cand_id")
    )
    return (
        m.withColumn("mr", F.row_number().over(w))
        .filter((F.col("mr") == 1) & (F.round("margin", 6) >= threshold))
        .select(
            F.col("query_id").alias("x_id"),
            F.col("cand_id").alias("y_id"),
            F.round("margin", 6).alias("margin_r"),
        )
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    labels: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """k-NN majority-vote classification over an embedding column —
    the standard label-propagation / eval primitive (predict a doc's
    topic/quality class from its nearest labeled neighbors). The
    candidate generator is pluggable exactly as in margin_pairs: pass
    ``neighbors`` (query_id, cand_id, rank) from ivf_topk / lsh_topk
    at scale; the default is the exact :func:`brute_force_topk` twin.

    Vote resolution is fully deterministic: per query, labels rank by
    (vote count DESC, best neighbor rank ASC, label ASC) — the
    best-rank tiebreak means a 2-2 split goes to the label owning the
    NEAREST neighbor, and the final label tiebreak is total. One
    neighbor-label equi-join + one (query,label) agg + one
    query-partitioned window; nothing corpus-shaped after the
    candidate stage.

    Output: (query_id, pred_label, n_votes, best_rank).
    """
    nn = (
        neighbors
        if neighbors is not None
        else brute_force_topk(queries, corpus, k=k, id_col=id_col, vec_col=vec_col)
    )
    lab = labels.select(
        F.col(id_col).alias("cand_id"), F.col(label_col).alias("__lab")
    )
    votes = (
        nn.join(lab, "cand_id")
        .groupBy("query_id", "__lab")
        .agg(
            F.count("*").cast("long").alias("n_votes"),
            F.min("rank").cast("long").alias("best_rank"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("best_rank"), F.asc("__lab")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id",
            F.col("__lab").alias("pred_label"),
            "n_votes",
            "best_rank",
        )
    )


def quantize_int8(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    levels: int = 256,
) -> DataFrame:
    """Scalar int8 quantization of an embedding column with per-
    dimension global [min, max] calibration — the standard 4x
    index-compression step before an ANN index is built (FAISS
    ScalarQuantizer / SQ8): code = floor((x - mn_d) * (levels-1) /
    (mx_d - mn_d)) clamped to [0, levels-1], reconstruction
    x' = mn_d + code * (mx_d - mn_d) / (levels-1).

    Output per vector: ``(id, n_dims, code_sum, max_abs_err_r)`` —
    code_sum is the exact-integer fingerprint of the code vector (the
    value a re-implementation must reproduce bit-for-bit), max_abs_err
    the reconstruction quality gate. floor (not round) keeps the code
    a pure IEEE-expression function of the input, portable across
    engines; max/sum-of-int per vector are order-independent, so the
    whole operator is hash-stable under any partitioning.

    Plan shape: one posexplode (xD fan-out, map-side only), one
    dim-keyed agg for calibration (output is d rows — broadcast back),
    one broadcast join, one vector-keyed agg. Calibration state is
    dimension-sized, never driver-collected; constant per-executor
    memory at any corpus size."""
    ex = embs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    stats = ex.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    lv = float(levels - 1)
    q = (
        ex.join(F.broadcast(stats), "pos")
        .withColumn(
            "code",
            F.when(
                F.col("mx") > F.col("mn"),
                F.least(
                    F.lit(levels - 1),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col("x") - F.col("mn")) * F.lit(lv)
                            / (F.col("mx") - F.col("mn"))
                        ).cast("int"),
                    ),
                ),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "err",
            F.abs(
                F.col("x")
                - (
                    F.col("mn")
                    + F.col("code") * (F.col("mx") - F.col("mn")) / F.lit(lv)
                )
            ),
        )
    )
    return q.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dims"),
        F.sum("code").cast("long").alias("code_sum"),
        F.round(F.max("err"), 6).alias("max_abs_err_r"),
    )


def pca_power_project(
    emb: DataFrame,
    dim: int = 64,
    rounds: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal component of the embedding corpus via MATRIX-FREE
    power iteration, then per-vector projection scores — the whitening/
    decorrelation front end of SemDeDup-style curation (Abbas et al.
    2023 cluster in PCA space) without ever materializing the dim×dim
    covariance: each iteration computes C·v directly as ONE map-side-
    combinable aggregation, using

        (C v)_j = (1/n) Σ_i x_ij (x_i · v)  −  m_j (m · v)

    so the per-round shuffled state is dim+1 longs per executor, never
    dim² — the shape that survives 100 TB and dim in the thousands.
    The iterate v lives on the driver between rounds (dim doubles,
    FAISS-codebook-style bounded state).

    Cross-engine determinism: per-row contributions are quantized to
    integer micros before summation (exact BIGINT adds in any order);
    means, C·v entries and normalized iterates are rounded INSIDE the
    engine (6 dp) so the DuckDB oracle unrolling the same rounds gets
    bit-identical literals; every dot product is a fixed left-to-right
    fold over the dimension index. v0 = e_0 (deterministic start).
    """
    n_col = F.count(F.lit(1)).cast("double")
    x = [F.col(vec_col).getItem(j).cast("double") for j in range(dim)]
    # corpus means, micro-exact
    mrow = emb.agg(
        *[
            F.sum(F.round(x[j] * F.lit(1e6), 0).cast("long")).alias(f"s{j}")
            for j in range(dim)
        ],
        F.count(F.lit(1)).alias("n"),
    ).select(
        *[
            F.round(
                F.col(f"s{j}").cast("double") / F.lit(1e6) / F.col("n").cast("double"),
                6,
            ).alias(f"m{j}")
            for j in range(dim)
        ],
        "n",
    ).collect()[0]
    m = [mrow[f"m{j}"] for j in range(dim)]
    n = mrow["n"]
    v = [1.0] + [0.0] * (dim - 1)
    for _ in range(max(0, rounds)):
        # fixed-order fold for x·v (index order, left-assoc)
        d = x[0] * F.lit(v[0])
        for j in range(1, dim):
            d = d + x[j] * F.lit(v[j])
        mv = 0.0
        for j in range(dim):
            mv = mv + m[j] * v[j]
        trow = emb.agg(
            *[
                F.sum(F.round(x[j] * d * F.lit(1e6), 0).cast("long")).alias(f"t{j}")
                for j in range(dim)
            ]
        ).select(
            *[
                F.round(
                    F.col(f"t{j}").cast("double") / F.lit(1e6) / F.lit(float(n))
                    - F.lit(m[j]) * F.lit(mv),
                    6,
                ).alias(f"c{j}")
                for j in range(dim)
            ]
        ).collect()[0]
        cv = [trow[f"c{j}"] for j in range(dim)]
        norm = 0.0
        for j in range(dim):
            norm = norm + cv[j] * cv[j]
        norm = math.sqrt(norm)
        # normalize inside an engine expression so 6-dp rounding matches
        # the oracle's round() exactly (driver math mirrors the SQL fold)
        vrow = emb.sparkSession.range(1).select(
            *[
                F.round(
                    F.lit(cv[j]) / F.greatest(F.lit(norm), F.lit(1e-12)), 6
                ).alias(f"v{j}")
                for j in range(dim)
            ]
        ).collect()[0]
        v = [vrow[f"v{j}"] for j in range(dim)]
    score = (x[0] - F.lit(m[0])) * F.lit(v[0])
    for j in range(1, dim):
        score = score + (x[j] - F.lit(m[j])) * F.lit(v[j])
    return emb.select(
        F.col(id_col).alias("vec_id"), F.round(score, 4).alias("pc1_score_r")
    )


def ivf_incremental_assign(
    base: DataFrame,
    new_batch: DataFrame,
    centroids: DataFrame,
    n_assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental vector-index maintenance: assign an ARRIVING
    embedding batch to the persisted coarse codebook without retraining
    and without touching existing postings — the production contract of
    a FAISS-style IVF index at 100 TB (codebooks are versioned
    dictionary state; only the delta is scanned; periodic retrains are
    a separate offline job). Returns the per-cell posting census
    (cell, n_base, n_new, n_total) — the balance report that decides
    when a retrain is due (hot cells ⇒ recall decay).

    Scale shape: two literal-codebook assignment projections (whole-
    stage codegen, no shuffle until the 16-row cell rollup) + one
    outer-joined census. Integer counts only.
    """
    cents = [(int(r["cell"]), list(r["centroid"])) for r in centroids.collect()]

    def postings(df: DataFrame):
        return df.select(
            F.col(id_col).alias("vec_id"),
            F.explode(
                _nearest_cells(F.col(vec_col), cents, n_assign)
            ).alias("cell"),
        )

    nb = postings(base).groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_base")
    )
    nn = postings(new_batch).groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    return (
        nb.join(nn, "cell", "full_outer")
        .select(
            F.col("cell").cast("int").alias("cell"),
            F.coalesce(F.col("n_base"), F.lit(0)).cast("long").alias("n_base"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
            (
                F.coalesce(F.col("n_base"), F.lit(0))
                + F.coalesce(F.col("n_new"), F.lit(0))
            ).cast("long").alias("n_total"),
        )
    )
