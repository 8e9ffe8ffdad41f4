"""``sketch_*`` queries: HyperLogLog, count-min, Bloom and histogram
sketches, each registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from json_ld_spark.queries import query
from json_ld_spark.queries._common import _utc, _read


# HLL sketch oracles: the md5-bridge hash and the bin()-length rank are
# integer arithmetic in both engines; the harmonic sum stays a scaled
# integer; alpha*m^2*2^32 is repr-inlined from the SAME Python constant
# the Spark side uses.
_HLL_REG_CTE = """
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT AS hv
  FROM lineitem
), br AS (
  SELECT hv // 4194304 AS bucket, hv % 4194304 AS w FROM h
), regs AS (
  SELECT bucket,
         MAX(CASE WHEN w = 0 THEN 23 ELSE 23 - length(bin(w)) END) AS rho
  FROM br GROUP BY bucket
)
"""

_HLL_REGISTERS_SQL = _HLL_REG_CTE + """
SELECT CAST(bucket AS BIGINT) AS bucket, CAST(rho AS BIGINT) AS rho FROM regs
"""


@query(oracle=_HLL_REGISTERS_SQL)
def q_sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HLL register table over l_orderkey (operators/
    sketches.py): md5-bridge hash, integer-only bucket/rank math —
    every register value replays bit-for-bit in DuckDB. The sketch is
    the 100 TB distinct-count tool: fixed 2^p-bucket state, mergeable
    by register-wise max."""
    from json_ld_spark.operators import sketches as sk

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return sk.hll_registers(li, "l_orderkey", p=10).select(
        F.col("bucket").cast("long").alias("bucket"),
        F.col("rho").cast("long").alias("rho"),
    )


def _hll_cardinality_sql() -> str:
    from json_ld_spark.operators.sketches import _alpha

    m = 1 << 10
    num = repr(float(_alpha(m)) * float(m * m * (1 << 32)))
    return _HLL_REG_CTE + f"""
, agg AS (
  SELECT COUNT(*) AS n_present,
         CAST(SUM(1::BIGINT << (32 - rho)) AS BIGINT) AS s_present
  FROM regs
), vals AS (
  SELECT CAST({m} AS BIGINT) AS m,
         CAST({m} - n_present AS BIGINT) AS n_zero,
         CAST(s_present + ({m} - n_present) * 4294967296 AS BIGINT) AS s_scaled
  FROM agg
)
SELECT m, n_zero, s_scaled,
       round(CASE WHEN {num} / s_scaled <= {float(2.5 * m)!r} AND n_zero > 0
                  THEN {float(m)!r} * ln({float(m)!r} / n_zero)
                  ELSE {num} / s_scaled END, 4) AS estimate_r
FROM vals
"""


_HLL_CARDINALITY_SQL = _hll_cardinality_sql()


@query(oracle=_HLL_CARDINALITY_SQL)
def q_sketch_hll_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimate over l_orderkey: m / zero-register
    count / scaled harmonic sum are integer-exact; the estimate (raw
    harmonic branch at sf>=0.01, linear-counting branch at sf0.001)
    rounds to 4 dp. Oracle replays the identical estimator with the
    same repr-inlined alpha*m^2*2^32 constant."""
    from json_ld_spark.operators import sketches as sk

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return sk.hll_cardinality(li, "l_orderkey", p=10)


_CM_CELLS_CTE = """
WITH cells AS (
  SELECT r.r AS row,
         ('0x' || substr(md5('cm' || r.r || '|' || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 1024 AS bucket
  FROM lineitem CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
), counters AS (
  SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, bucket
)
"""

_CM_COUNTERS_SQL = _CM_CELLS_CTE + """
SELECT CAST(row AS BIGINT) AS row, bucket, cnt FROM counters
"""


@query(oracle=_CM_COUNTERS_SQL)
def q_sketch_cm_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch counters over l_orderkey (4 x 1024 cells):
    exact integer sums under deterministic md5-salted hashes — the
    sketch replays cell-for-cell in DuckDB with no rounding anywhere."""
    from json_ld_spark.operators import sketches as sk

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    out = sk.cm_sketch(li, "l_orderkey", d=4, w=1024)
    return out.select(
        F.col("row").cast("long").alias("row"),
        F.col("bucket").cast("long").alias("bucket"),
        F.col("cnt").cast("long").alias("cnt"),
    )


_CM_ESTIMATES_SQL = _CM_CELLS_CTE + """
, probes AS (
  SELECT DISTINCT CAST(l_orderkey AS VARCHAR) AS item
  FROM lineitem WHERE l_orderkey % 100 = 0
), pc AS (
  SELECT item, r.r AS row,
         ('0x' || substr(md5('cm' || r.r || '|' || item), 1, 8))::BIGINT % 1024 AS bucket
  FROM probes CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
)
SELECT pc.item AS item, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
FROM pc LEFT JOIN counters c ON c.row = pc.row AND c.bucket = pc.bucket
GROUP BY pc.item
"""


@query(oracle=_CM_ESTIMATES_SQL)
def q_sketch_cm_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for a deterministic probe set
    (every 100th order key): min over the 4 rows' counters — integer
    exact, never under the true count."""
    from json_ld_spark.operators import sketches as sk

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    sketch = sk.cm_sketch(li, "l_orderkey", d=4, w=1024)
    items = (
        li.filter(F.col("l_orderkey") % 100 == 0)
        .select(F.col("l_orderkey").cast("string").alias("item"))
        .distinct()
    )
    out = sk.cm_estimate(sketch, items, col="item", d=4, w=1024)
    return out.select("item", F.col("est").cast("long").alias("est"))


_BLOOM_SQL = """
WITH bits AS (
  SELECT DISTINCT
    ('0x' || substr(md5('bf' || r.r || '|' || CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT % 65536 AS bit
  FROM part CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
), probes AS (
  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS item
  FROM lineitem WHERE l_partkey % 7 = 0
  UNION
  SELECT DISTINCT CAST(l_partkey + 10000000 AS VARCHAR) AS item
  FROM lineitem WHERE l_partkey % 7 = 0
), pb AS (
  SELECT item,
    ('0x' || substr(md5('bf' || r.r || '|' || item), 1, 8))::BIGINT % 65536 AS bit
  FROM probes CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) r
)
SELECT pb.item AS item,
       CAST(MIN(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS BOOLEAN) AS maybe_present
FROM pb LEFT JOIN bits b ON b.bit = pb.bit
GROUP BY pb.item
"""


@query(oracle=_BLOOM_SQL)
def q_sketch_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe: part keys as the dictionary, a
    probe set of half real keys / half absent keys (+10M offset).
    maybe_present=false is definitive absence — the broadcastable
    prefilter for a join whose build side is too big to broadcast.
    Boolean-exact oracle (same salted bit positions in SQL)."""
    from json_ld_spark.operators import sketches as sk

    _utc(spark)
    part = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem")
    bits = sk.bloom_bits(part, "p_partkey", k=4, w=1 << 16)
    real = (
        li.filter(F.col("l_partkey") % 7 == 0)
        .select(F.col("l_partkey").cast("string").alias("item"))
        .distinct()
    )
    absent = (
        li.filter(F.col("l_partkey") % 7 == 0)
        .select((F.col("l_partkey") + 10_000_000).cast("string").alias("item"))
        .distinct()
    )
    out = sk.bloom_probe(bits, real.unionByName(absent), col="item", k=4, w=1 << 16)
    return out.select("item", "maybe_present")


# histogram-quantile oracle: integer bucket math + bucket-table window
# replayed exactly; q values forced DOUBLE to match Spark's schema
_HISTQ_SQL = r"""
WITH h AS (
  SELECT LEAST(999, GREATEST(0,
           CAST(FLOOR(((CAST(l_extendedprice AS DOUBLE) - 0.0) / 100000.0)
                      * 1000) AS INT))) AS bucket,
         COUNT(*) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL
  GROUP BY 1
), cum AS (
  SELECT bucket,
         SUM(c) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS total
  FROM h
), qs AS (
  SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q
)
SELECT q, MIN(bucket) AS bucket,
       CAST(CEIL(q * MAX(total)) AS BIGINT) AS rank,
       MAX(total)::BIGINT AS total,
       ROUND(0.0 + (MIN(bucket) + 1) * 100.0, 6) AS est_r
FROM cum JOIN qs ON cum.cum >= CEIL(qs.q * cum.total)
GROUP BY q
"""


@query(oracle=_HISTQ_SQL)
def q_sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram quantile sketch (operators/sketches.py):
    p50/p90/p99 of l_extendedprice from a 1000-bucket histogram — ONE
    bounded-state shuffle over the data; the cumulative window runs
    over the bucket table (<=1000 rows), never the rows. Deterministic
    integer bucket math → the oracle replays bins, ranks, and edges
    exactly."""
    from json_ld_spark.operators import sketches as sk

    _utc(spark)
    li = _read(spark, sf_dir, "lineitem")
    return sk.histogram_quantiles(
        li, "l_extendedprice", lo=0.0, hi=100000.0, bins=1000,
        qs=(0.5, 0.9, 0.99),
    ).select("q", "bucket", "rank", "total", "est_r")
