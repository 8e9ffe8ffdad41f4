"""``dedup_*`` queries: exact, n-gram, MinHash/SimHash/LSH, containment,
span and semantic deduplication over documents, each registered with its
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from json_ld_spark.operators import dedup as dd
from json_ld_spark.operators import graphops as gops
from json_ld_spark.operators import similarity as sim
from json_ld_spark.queries import query
from json_ld_spark.queries._common import (
    _utc, _read, _docs_with_dups, _dup_doc_pairs, _emb_double, _CC_CORE_SQL,
    _ivf_codebook_prefix,
)


_DUP_CORPUS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
"""

_EXACT_DUP_SQL = _DUP_CORPUS + r"""
, hashed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash
  FROM corpus
)
SELECT doc_id, content_hash,
       MIN(doc_id) OVER (PARTITION BY content_hash) AS canonical_id,
       COUNT(*) OVER (PARTITION BY content_hash) AS group_size
FROM hashed
QUALIFY group_size > 1
"""


@query(oracle=_EXACT_DUP_SQL)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (normalized-hash) duplicate groups."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    out = dd.exact_duplicates(corpus)
    return out.select(
        "doc_id", "content_hash", "canonical_id",
        F.col("group_size").cast("long").alias("group_size"),
    )


_JACCARD_SQL = _DUP_CORPUS + r"""
, sampled AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM corpus WHERE doc_id % 25 = 0
), sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM sampled
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard_r
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2
"""


@query(oracle=_JACCARD_SQL)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard over a deterministic document sample
    (brute-force pairs; the LSH variants below prune candidates)."""
    _utc(spark)
    docs = (
        _docs_with_dups(_read(spark, sf_dir, "documents"))
        .filter(F.col("doc_id") % 25 == 0)
    )
    ids = docs.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    out = dd.jaccard_pairs(docs, pairs, threshold=0.2)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard_r"))


_CONTAINMENT_SQL = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0
), exc AS (
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(list_slice(
           regexp_split_to_array(trim(text), '\s+'), 1, 8), ' ') AS text
  FROM base
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM exc
), normd AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM corpus
), sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM normd
), scored AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / greatest(len(a.grams), 1) AS c_ab,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / greatest(len(b.grams), 1) AS c_ba
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, round(c_ab, 6) AS c_ab_r, round(c_ba, 6) AS c_ba_r,
       CASE WHEN c_ab >= 0.9 AND c_ba >= 0.9 THEN 'both'
            WHEN c_ab >= 0.9 THEN 'a_in_b' ELSE 'b_in_a' END AS direction
FROM scored WHERE c_ab >= 0.9 OR c_ba >= 0.9
"""


@query(oracle=_CONTAINMENT_SQL)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment verification (dedup.containment_pairs):
    8-word excerpts are injected for every sampled document, and the
    shingle-containment check flags excerpt⊂parent pairs that Jaccard
    misses entirely (tiny union overlap, containment 1.0) — the
    quote/boilerplate-inclusion detector. Oracle: brute-force list
    intersections in SQL over the same deterministic corpus."""
    _utc(spark)
    base = (
        _read(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 25 == 0)
    )
    words8 = F.array_join(
        F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " "
    )
    exc = base.select(
        (F.col("doc_id") + 2000000).alias("doc_id"), words8.alias("text")
    )
    corpus = base.unionByName(exc)
    ids = corpus.select("doc_id")
    pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    return dd.containment_pairs(corpus, pairs, threshold=0.9)


# Brute-force exact-Jaccard oracle for the MinHash+LSH query: the Spark
# side verifies candidates with exact Jaccard, and with the 32x2 band
# family every >=0.7 pair in this corpus collides (lowest non-exact
# pairs are 0.889/0.9 Jaccard; miss probability there is ~1e-22 per
# pair, and the fixed hash family is verified empirically at
# sf0.001/sf0.01/sf0.1). The size prefilter is the necessary condition
# j >= 0.7 => min(|A|,|B|) >= 0.7*max(|A|,|B|), integer-exact.
_MINHASH_ORACLE_SQL = _DUP_CORPUS + r"""
, sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM corpus)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard_r
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id
 AND len(a.grams) * 10 >= len(b.grams) * 7
 AND len(b.grams) * 10 >= len(a.grams) * 7
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
"""


@query(oracle=_MINHASH_ORACLE_SQL)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banded candidates verified by exact Jaccard. Oracle:
    brute-force exact Jaccard >= 0.7 in DuckDB — equal whenever band
    recall is 1.0 on the corpus. 32 bands x 2 rows: per-pair miss
    probability at the corpus's weakest oracle pair (j=0.9) is
    0.19^32 ~ 1e-23; the 16x4 default measurably missed that pair
    (3.8e-8 odds — fixed hash family, unlucky draw), so the query runs
    the wider band family and the exact-Jaccard verify keeps precision
    at 1.0 regardless of the extra candidates."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    cands = dd.minhash_lsh_candidates(corpus, num_hashes=64, bands=32)
    out = dd.jaccard_pairs(corpus, cands, threshold=0.7)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard_r"))


@query(oracle=_MINHASH_ORACLE_SQL)
def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (SSJoin/PPJoin
    family): rarest-first global token order, |T|-ceil(t|T|)+1 prefix,
    equi-join on prefix tokens, exact-Jaccard verify. Recall is a
    pigeonhole LEMMA (not a probabilistic band argument), so this
    shares the MinHash query's brute-force oracle verbatim — two
    independent candidate generators, one ground truth."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    cands = dd.prefix_filter_candidates(corpus, threshold=0.7)
    out = dd.jaccard_pairs(corpus, cands, threshold=0.7)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard_r"))


# dedup_incremental: the brute-force oracle restricted to pairs where
# at least one side is in the new batch (ids >= 1000000) — exactly the
# incremental contract (old x old already emitted in prior batches).
_MINHASH_INCR_SQL = _DUP_CORPUS + r"""
, sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        FROM corpus)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS jaccard_r
FROM sh a JOIN sh b
  ON a.doc_id < b.doc_id
 AND len(a.grams) * 10 >= len(b.grams) * 7
 AND len(b.grams) * 10 >= len(a.grams) * 7
WHERE (a.doc_id >= 1000000 OR b.doc_id >= 1000000)
  AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.7
"""


@query(oracle=_MINHASH_INCR_SQL)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup (dedup.incremental_minhash_dedup):
    the injected duplicate copies arrive as the NEW batch and are
    checked against the base corpus's persisted band index + among
    themselves — old x old pairs are NOT regenerated (the per-batch
    production shape; dedup_minhash_lsh is the from-scratch twin).
    Oracle: brute-force exact Jaccard >= 0.7 restricted to pairs with
    at least one new-side doc; same 32x2 band recall argument as the
    full run."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    old = docs.select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    out = dd.incremental_minhash_dedup(
        old, new, num_hashes=64, bands=32, threshold=0.7
    )
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard_r"))


# All-pairs simhash oracle (md5 token hash = bit-identical across
# engines; pigeonhole recall of the Spark block-LSH is exactly 1.0 for
# hamming < n_blocks, so all-pairs equals the LSH output)
_SIMHASH_ORACLE_SQL = _DUP_CORPUS + r"""
, tok AS (
  SELECT doc_id, t.e AS tok
  FROM corpus CROSS JOIN UNNEST(
    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t(e)
), h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, b.i AS i,
         SUM(CASE WHEN (h >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) b
  GROUP BY doc_id, b.i
), sim AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


@query(oracle=_SIMHASH_ORACLE_SQL)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash block-LSH near-duplicates (hamming <= 3). Block-
    permutation recall is exactly 1.0 for hamming < n_blocks
    (pigeonhole), so an all-pairs DuckDB simhash oracle checks the full
    output; the md5 token hash keeps both engines bit-identical."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    out = dd.simhash_near_duplicates(corpus, token_hash="md5")
    return out.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


_CC_SQL = _CC_CORE_SQL + """
SELECT doc_id, dup_group FROM groups
"""


@query(oracle=_CC_SQL)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP ASSIGNMENT: connected components (Large-Star/
    Small-Star, O(log^2 n) rounds — graphops.connected_components) over
    the exact-3-gram Jaccard near-dup pairs; every sampled doc gets a
    dup_group id (= min doc_id of its component, singletons map to
    themselves). The step after pair generation that an actual corpus
    dedup needs: pick one survivor per group. Oracle: DuckDB recursive
    CTE computing min reachable id over the same pair set."""
    _utc(spark)
    docs, sim_pairs = _dup_doc_pairs(spark, sf_dir)
    ids = docs.select("doc_id")
    comp = gops.connected_components(sim_pairs, src="doc_a", dst="doc_b")
    return (
        ids.join(comp, ids["doc_id"] == comp["node"], "left")
        .select(
            ids["doc_id"].alias("doc_id"),
            F.coalesce(comp["component"], ids["doc_id"]).cast("long").alias("dup_group"),
        )
    )


_SURVIVORS_SQL = _CC_CORE_SQL + """
, cand AS (
  SELECT g.doc_id, g.dup_group, length(c.text) AS n
  FROM groups g JOIN corpus c USING (doc_id)
), best AS (
  SELECT dup_group, MAX(n) AS bn FROM cand GROUP BY dup_group
)
SELECT CAST(MIN(cand.doc_id) AS BIGINT) AS doc_id
FROM cand JOIN best ON cand.dup_group = best.dup_group AND cand.n = best.bn
GROUP BY cand.dup_group
ORDER BY doc_id
"""


@query(oracle=_SURVIVORS_SQL)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection (dedup.select_survivors): one doc kept per
    duplicate cluster — largest text wins, ties to the smallest id.
    The step that actually shrinks the corpus after clustering."""
    _utc(spark)
    docs, sim_pairs = _dup_doc_pairs(spark, sf_dir)
    comp = gops.connected_components(sim_pairs, src="doc_a", dst="doc_b")
    ids = docs.select("doc_id", F.length("text").alias("n"))
    groups = (
        ids.join(comp, ids["doc_id"] == comp["node"], "left")
        .select(
            ids["doc_id"].alias("doc_id"),
            F.coalesce(comp["component"], ids["doc_id"]).cast("long").alias("dup_group"),
        )
    )
    out = dd.select_survivors(ids, groups, prefer_col="n")
    return out.select("doc_id").orderBy("doc_id")


# Connected components = min reachable id: DuckDB recursive CTE over
# the same exact-3-gram Jaccard pair set the Spark query feeds to
# Large-Star/Small-Star (the CTE's reach table is sum(comp_size^2)
# rows — fine at oracle scale; the star algorithm is the form that
# scales, the CTE is the spec).
_REPEATED_SPANS_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
), toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     w -> w <> '') AS t
  FROM corpus
), grams AS (
  SELECT doc_id, array_to_string(t[i:i+9], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)
)
SELECT md5(gram) AS gram_md5,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM grams GROUP BY gram HAVING COUNT(*) >= 2
"""


@query(oracle=_REPEATED_SPANS_SQL)
def q_dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-span discovery (dedup.repeated_spans; the
    candidate stage of substring-level dedup, Lee et al. 2022): word
    10-grams occurring >= 2 times across the duplicate-heavy corpus,
    reported as per-gram stats."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    spans = dd.repeated_spans(corpus, n=10, min_count=2)
    return (
        spans.select(F.md5("gram").alias("gram_md5"),
                     "n_occurrences", "n_docs")
        .dropDuplicates()
    )


# dedup_paragraphs: 20-word windows via indexed-word grouping (equal
# to Spark's slice+array_join segmentation incl. the short tail
# window), ROW_NUMBER first-occurrence, ordered string_agg reassembly.
_PARA_DEDUP_SQL = _DUP_CORPUS + """
, words AS (
  SELECT doc_id, u.w.i - 1 AS wi, u.w.x AS word
  FROM corpus CROSS JOIN UNNEST(list_transform(
      string_split(text, ' '), (x, i) -> {'i': i, 'x': x})) AS u(w)
), paras AS (
  SELECT doc_id, CAST(wi // 20 AS INT) AS idx,
         string_agg(word, ' ' ORDER BY wi) AS p
  FROM words GROUP BY doc_id, wi // 20
), kept AS (
  SELECT doc_id, idx, p FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY p ORDER BY doc_id, idx) AS rk
    FROM paras)
  WHERE rk = 1
), reasm AS (
  SELECT doc_id, string_agg(p, ' ' ORDER BY idx) AS text,
         CAST(COUNT(*) AS BIGINT) AS n_kept
  FROM kept GROUP BY doc_id
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras FROM paras GROUP BY doc_id
)
SELECT t.doc_id, COALESCE(r.text, '') AS text, t.n_paras,
       COALESCE(r.n_kept, 0) AS n_kept
FROM totals t LEFT JOIN reasm r USING (doc_id)
"""


@query(oracle=_PARA_DEDUP_SQL)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level boilerplate REMOVAL (dedup.paragraph_dedup,
    Dolma/FineWeb-style): fixed 20-word windows as paragraphs on the
    flat word-stream corpus, keep only the globally first occurrence
    of each distinct paragraph ((doc_id, idx)-min — deterministic),
    reassemble documents. On the duplicate-heavy corpus the injected
    copies empty out completely. Oracle: full SQL replay (window
    grouping + ROW_NUMBER first-occurrence + ordered string_agg)."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    return dd.paragraph_dedup(corpus, sep=None, words_per_para=20)


def _semantic_dedup_sql(
    n_cells: int = 16, lloyd_rounds: int = 2, tau: float = 0.3,
    dim: int = 64,
) -> str:
    """dedup_semantic replay: shared IVF codebook CTEs, nearest-cell
    assignment, within-cell lower-id cosine>=tau pruning. The cosine
    threshold compares bit-identical doubles (list_cosine_similarity
    and the zip_with kernel both fold in array order)."""
    prefix, prev = _ivf_codebook_prefix(n_cells, lloyd_rounds, dim)
    return f"""{prefix}
, assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.centroid) DESC, c.cell ASC
           ) AS rk
    FROM e CROSS JOIN {prev} c)
  WHERE rk = 1
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= {tau!r}
)
SELECT s.vec_id, CAST(s.cell AS INT) AS cell,
       (d.vec_id IS NULL) AS kept
FROM assigned s LEFT JOIN dropped d ON d.vec_id = s.vec_id
"""


_SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


@query(oracle=_SEMANTIC_DEDUP_SQL)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-prune semantic dedup
    (dedup.semantic_dedup, Abbas et al. 2023): deterministic IVF
    codebook → nearest-cell assignment → within-cell lower-id
    cosine>=0.3 pruning. Pair fan-in is the cell size, never corpus
    all-pairs. Oracle: shared codebook replay + the same self-join."""
    _utc(spark)
    from json_ld_spark.operators.dedup import semantic_dedup

    emb = _emb_double(_read(spark, sf_dir, "embeddings"))
    cents = sim.ivf_centroids(emb, n_cells=16, lloyd_rounds=2)
    return semantic_dedup(emb, cents, tau=0.3)


_CDC_CHUNKS_SQL = """
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
c AS (
  SELECT doc_id, text, n,
    list_concat(list_concat([0],
      list_filter(range(4, n + 1),
        p -> ('0x' || substr(md5(substr(text, p - 3, 4)), 1, 8))::BIGINT
             % 32 = 0)),
      [n]) AS cuts
  FROM d
), jj AS (
  SELECT doc_id, text, cuts, unnest(range(1, len(cuts))) AS j FROM c
)
SELECT doc_id AS id, CAST(j - 1 AS INT) AS chunk_idx,
       CAST(cuts[j] AS INT) AS start,
       CAST(cuts[j + 1] - cuts[j] AS INT) AS chunk_len,
       md5(substr(text, cuts[j] + 1, cuts[j + 1] - cuts[j])) AS chunk_md5
FROM jj WHERE cuts[j + 1] - cuts[j] > 0
"""


@query(oracle=_CDC_CHUNKS_SQL)
def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (dedup.cdc_chunks): Rabin-style cuts
    where the trailing-4-char hash ≡ 0 mod 32 — insertion-robust chunk
    hashes for splice-tolerant dedup. Pure projection (positions via
    sequence/transform/filter + one explode, no shuffle, no Python).
    Oracle: identical boundary math through the md5 bridge with DuckDB
    list_filter/range."""
    from json_ld_spark.operators.dedup import cdc_chunks

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return cdc_chunks(docs, modulus=32)


# dedup.remove_repeated_spans replay: dup-injected corpus, 10-gram
# relation with the two gram windows, keep-first by (doc_id, pos),
# cut-interval merge as a cummax gaps-and-islands, token filter by
# NOT EXISTS over the merged intervals, md5 of the single-space
# reassembly (string_agg ORDER BY position == array_join order).
_REMOVE_SPANS_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
), w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t
  FROM corpus
), g AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+9], ' ') AS gram
  FROM w, UNNEST(generate_series(1, greatest(len(t) - 9, 0))) AS u(i)
), occ AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY gram) AS c,
         ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g
), cut AS (
  SELECT doc_id, pos FROM occ WHERE c >= 2 AND rn > 1
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos <= MAX(pos + 10) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 0 ELSE 1 END AS flag
  FROM cut
), num AS (
  SELECT doc_id, pos,
         SUM(flag) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS iid
  FROM isl
), ivs AS (
  SELECT doc_id, iid, MIN(pos) AS s, MAX(pos) + 10 AS e
  FROM num GROUP BY doc_id, iid
), toks AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS ti
  FROM w, UNNEST(generate_series(1, len(t))) AS u(i)
), kept AS (
  SELECT k.doc_id, k.tok, k.ti FROM toks k
  WHERE NOT EXISTS (
    SELECT 1 FROM ivs
    WHERE ivs.doc_id = k.doc_id AND k.ti >= ivs.s AND k.ti < ivs.e
  )
), ka AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY ti) AS out_text
  FROM kept GROUP BY doc_id
), ni AS (
  SELECT doc_id, COUNT(*) AS n_intervals FROM ivs GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(w.t) - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_cut_tokens,
       CAST(COALESCE(ni.n_intervals, 0) AS BIGINT) AS n_intervals,
       md5(COALESCE(ka.out_text, '')) AS dedup_md5
FROM w LEFT JOIN ka USING (doc_id) LEFT JOIN ni USING (doc_id)
"""


@query(oracle=_REMOVE_SPANS_SQL)
def q_dedup_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup EXECUTION (dedup.remove_repeated_spans,
    Lee et al. 2022): over the duplicate-injected corpus, every word
    10-gram occurring >= 2 times keeps only its global first
    occurrence; other occurrences merge into maximal intervals and are
    cut. Injected full-doc copies therefore lose (almost) their whole
    text; originals keep theirs. Oracle replays windows, the
    cummax-island interval merge, and the token filter."""
    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    return dd.remove_repeated_spans(corpus, n=10, min_count=2).orderBy("doc_id")


def _lsh_pr_sql(num_hashes: int = 16, bands: int = 8) -> str:
    """Unrolled md5-family MinHash banding + brute-force truth + P/R,
    mirroring dedup.minhash_md5_candidates / lsh_pr_eval exactly."""
    r = num_hashes // bands
    lanes = ",\n         ".join(
        "list_min(list_transform(grams, g -> "
        f"('0x' || substr(md5('mh{i}|' || g), 1, 8))::BIGINT)) AS s{i}"
        for i in range(num_hashes)
    )
    keys = ", ".join(
        "'" + str(b) + "|' || "
        + " || '|' || ".join(f"CAST(s{b * r + j} AS VARCHAR)" for j in range(r))
        for b in range(bands)
    )
    return (
        _DUP_CORPUS
        + f"""
, near AS (
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(list_slice(
           string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '),
           1,
           GREATEST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) * 45 // 100, 1)
         ), ' ') AS text
  FROM documents WHERE doc_id % 25 = 0
), corpus2 AS (
  SELECT doc_id, text FROM corpus WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id, text FROM near
), sampled AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM corpus2
), sh AS (
  SELECT doc_id,
         CASE WHEN len(string_split(norm, ' ')) - 2 <= 0 THEN [norm]
              ELSE list_distinct(list_transform(
                     range(0, len(string_split(norm, ' ')) - 2),
                     i -> array_to_string(list_slice(string_split(norm, ' '), i + 1, i + 3), ' ')))
         END AS grams
  FROM sampled
), sigs AS (
  SELECT doc_id,
         {lanes}
  FROM sh
), bk AS (
  SELECT doc_id, unnest([{keys}]) AS bk FROM sigs
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bk a JOIN bk b ON a.bk = b.bk AND a.doc_id < b.doc_id
), truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
        >= 0.4
), hits AS (
  SELECT t.doc_a, t.doc_b FROM truth t JOIN cand c
    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)
SELECT CAST(t.n AS BIGINT) AS n_truth,
       CAST(c.n AS BIGINT) AS n_candidates,
       CAST(h.n AS BIGINT) AS n_hits,
       round(CAST(h.n AS DOUBLE) / CAST(GREATEST(c.n, 1) AS DOUBLE), 6)
         AS precision_r,
       round(CAST(h.n AS DOUBLE) / CAST(GREATEST(t.n, 1) AS DOUBLE), 6)
         AS recall_r
FROM (SELECT COUNT(*) AS n FROM truth) t,
     (SELECT COUNT(*) AS n FROM cand) c,
     (SELECT COUNT(*) AS n FROM hits) h
"""
    )


_LSH_PR_SQL = _lsh_pr_sql()


@query(oracle=_LSH_PR_SQL)
def q_dedup_lsh_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality evaluation of banded MinHash (dedup.
    lsh_pr_eval): precision/recall of the RAW 8-band × 2-row candidate
    set (md5 hash family — engine-replayable) against exact 3-gram
    Jaccard ≥ 0.4 ground truth on the sampled dup-injected corpus —
    the tuning-loop measurement of every dedup deployment, itself a
    first-class oracled operator. The corpus injects BOTH exact dups
    and 45%-prefix truncated NEAR-dups (Jaccard ~0.45, squarely on the
    8×2 band family's s-curve shoulder) so recall is a real
    measurement, not a constant. The oracle replays the signatures,
    banding, truncation, brute-force truth, and both rounded ratios."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    sampled = _docs_with_dups(docs).filter(F.col("doc_id") % 25 == 0)
    words = F.split(dd.normalize_text(F.col("text")), " ")
    near = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.array_join(
                F.slice(
                    words,
                    1,
                    F.greatest(
                        F.expr("size(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')) * 45 DIV 100"),
                        F.lit(1),
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    corpus = sampled.unionByName(near)
    return dd.lsh_pr_eval(corpus, num_hashes=16, bands=8, threshold=0.4)


# dedup_winnowing: identical gram hashing, window-min selection (list
# slices clamp at the tail in both engines), stop-fingerprint cap, and
# shared-fingerprint pair join over the dup-injected corpus
_WINNOWING_SQL = _DUP_CORPUS + r"""
, ww AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM corpus
), wg AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(len(words) - 3, 1)),
                        i -> md5(array_to_string(list_slice(words, i, i + 3), ' '))) AS grams
  FROM ww
), ws AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(grams) - 4, 1)),
           j -> list_min(list_slice(grams, j, j + 4))))) AS fp
  FROM wg
), wrare AS (
  SELECT fp FROM ws GROUP BY fp HAVING COUNT(*) <= 50
), wsc AS (
  SELECT ws.doc_id, ws.fp FROM ws JOIN wrare USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
FROM wsc a JOIN wsc b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
"""


@query(oracle=_WINNOWING_SQL)
def q_dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing partial-overlap detection (Schleimer, Wilkerson
    & Aiken, SIGMOD 2003; textops.winnow_fingerprints): md5 word-4-gram
    hashes, min per sliding window of 5, distinct selected fingerprints
    per doc — any shared run of 8 words guarantees a shared
    fingerprint, so this catches PARTIAL overlap the single global-min
    fingerprint cannot. Pairs sharing >= 3 selected fingerprints are
    reported. Scale shape: fingerprint equi-join (LSH-bucket-like
    fan-in), with a stop-fingerprint cap (df <= 50) bounding hot-bucket
    fan-out exactly like the MinHash band cap — never all-pairs.
    Oracle: the identical selection + join in DuckDB list SQL."""
    from json_ld_spark.operators.textops import winnow_fingerprints

    _utc(spark)
    corpus = _docs_with_dups(_read(spark, sf_dir, "documents"))
    fps = corpus.select(
        "doc_id",
        F.explode(
            winnow_fingerprints(F.col("text"), gram=4, window=5)
        ).alias("fp"),
    )
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 50)
        .select("fp")
    )
    fps = fps.join(rare, "fp")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= 3)
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("shared").cast("long").alias("shared"),
        )
    )
