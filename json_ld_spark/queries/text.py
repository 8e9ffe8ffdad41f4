"""``text_*`` queries: text statistics, quality filters, normalization,
PII, n-gram language models and lexical retrieval over documents, each
registered with its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from json_ld_spark.operators import similarity as sim
from json_ld_spark.operators import textops as tx
from json_ld_spark.queries import query
from json_ld_spark.queries._common import _utc, _read, _emb_double


def _textrank_sql(iters: int = 4, damping: float = 0.85, k: int = 50) -> str:
    """Unrolled TextRank mirroring retrieval.textrank_keywords: the
    stopword literal list, the position-window pair join, the weighted
    fraction, and each damped iteration are mirrored expression for
    expression; (1-d) is pre-reduced via repr() like _pagerank_sql."""
    from json_ld_spark.operators.retrieval import TEXTRANK_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in TEXTRANK_STOPWORDS)
    d = repr(damping)
    omd = repr(1.0 - damping)
    parts = [
        f"""
WITH rawtoks AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS word
  FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS l
        FROM documents)
), toks AS MATERIALIZED (
  SELECT doc_id, pos, word FROM rawtoks
  WHERE regexp_full_match(word, '[a-z]+') AND length(word) >= 3
    AND word NOT IN ({stop})
), pairs AS MATERIALIZED (
  SELECT least(a.word, b.word) AS a, greatest(a.word, b.word) AS b,
         COUNT(*) AS w
  FROM toks a JOIN toks b
    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
  WHERE a.word <> b.word
  GROUP BY 1, 2
), edges AS MATERIALIZED (
  SELECT a, b, w FROM pairs UNION ALL SELECT b AS a, a AS b, w FROM pairs
), wdeg AS MATERIALIZED (SELECT a, SUM(w) AS wd FROM edges GROUP BY a),
src AS MATERIALIZED (
  SELECT e.a, e.b, e.w / wd.wd AS frac FROM edges e JOIN wdeg wd ON e.a = wd.a
), nodes AS MATERIALIZED (SELECT DISTINCT a AS word FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
r0 AS MATERIALIZED (SELECT word, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(iters):
        parts.append(
            f""",
i{i} AS MATERIALIZED (
  SELECT s.b AS word, SUM(r.rank * s.frac) AS inflow
  FROM r{i} r JOIN src s ON r.word = s.a GROUP BY s.b
),
r{i + 1} AS MATERIALIZED (
  SELECT n.word,
         {omd} / (SELECT n FROM nn) + {d} * COALESCE(i.inflow, 0.0) AS rank
  FROM nodes n LEFT JOIN i{i} i ON n.word = i.word
)"""
        )
    parts.append(
        f"""
SELECT word, round(rank, 6) AS rank_r FROM r{iters}
ORDER BY rank_r DESC, word LIMIT {k}"""
    )
    return "".join(parts)


_TEXTRANK_SQL = _textrank_sql(iters=4, damping=0.85, k=50)


@query(oracle=_TEXTRANK_SQL)
def q_text_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (retrieval.textrank_keywords,
    Mihalcea & Tarau EMNLP'04): weighted PageRank over the corpus word
    co-occurrence graph (window 2, 4 damped iterations), top 50
    keywords by (6-dp rank, word). Co-occurrence pairs are built with
    an offset-explode EQUI-join, never a range join; the loop is fully
    lazy (symmetric graph -> no dangling probe). Oracle: tokenize +
    pair + 4 unrolled weighted iterations in DuckDB, MATERIALIZED per
    level."""
    _utc(spark)
    from json_ld_spark.operators.retrieval import textrank_keywords

    return textrank_keywords(
        _read(spark, sf_dir, "documents"), window=2, iters=4, k=50
    )


# dsir_weights: hashed-bigram buckets + add-one multinomial log ratio,
# mirrored association-for-association (each term ln(num/denom), then
# the difference, then the per-doc SUM — only SUM order differs, 6 dp).
_DSIR_SQL = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), t AS (
  SELECT doc_id, lang, generate_subscripts(l, 1) AS i, unnest(l) AS w FROM toks
), g AS (
  SELECT a.doc_id, a.lang, a.w || ' ' || b.w AS gram
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), f AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bucket
  FROM g
), tc AS (SELECT bucket, COUNT(*) AS tc FROM f WHERE lang = 'en' GROUP BY bucket),
rc AS (SELECT bucket, COUNT(*) AS rc FROM f GROUP BY bucket),
tot AS (
  SELECT (SELECT CAST(COALESCE(SUM(tc), 0) AS DOUBLE) FROM tc) + 4096.0 AS tt,
         (SELECT CAST(COALESCE(SUM(rc), 0) AS DOUBLE) FROM rc) + 4096.0 AS rt
), ratio AS (
  SELECT bucket,
         ln((COALESCE(tc, 0) + 1.0) / (SELECT tt FROM tot))
         - ln((COALESCE(rc, 0) + 1.0) / (SELECT rt FROM tot)) AS logratio
  FROM rc FULL JOIN tc USING (bucket)
)
SELECT f.doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       round(SUM(r.logratio), 6) AS logw_r
FROM f JOIN ratio r USING (bucket)
GROUP BY f.doc_id
"""


@query(oracle=_DSIR_SQL)
def q_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (curation.dsir_weights, Xie et al.
    NeurIPS'23): log importance ratio of add-one-smoothed hashed-
    bigram multinomials — target = the English documents, raw = the
    whole corpus — scoring every raw document for target-domain
    resampling. Model state is two 4096-bucket count tables
    (broadcast); corpus tokenized once; per-doc sum absorbed by
    map-side partial agg. Oracle: full DuckDB replay (md5-bridge
    buckets, ln ratios mirrored association-for-association, 6 dp)."""
    _utc(spark)
    from json_ld_spark.operators.curation import dsir_weights

    docs = _read(spark, sf_dir, "documents")
    return dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n=2, buckets=4096, alpha=1.0
    )


_TEXT_STATS_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         string_split_regex(lower(trim(text)), '\s+') AS words,
         length(text) AS len,
         length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS punct
  FROM documents
), scores AS (
  SELECT doc_id, text, words, len, punct,
         len(list_filter(words, x -> x = 'the')) + len(list_filter(words, x -> x = 'and'))
           + len(list_filter(words, x -> x = 'of')) + len(list_filter(words, x -> x = 'to'))
           + len(list_filter(words, x -> x = 'in')) AS s_en,
         len(list_filter(words, x -> x = 'el')) + len(list_filter(words, x -> x = 'la'))
           + len(list_filter(words, x -> x = 'de')) + len(list_filter(words, x -> x = 'que'))
           + len(list_filter(words, x -> x = 'los')) AS s_es,
         len(list_filter(words, x -> x = 'der')) + len(list_filter(words, x -> x = 'die'))
           + len(list_filter(words, x -> x = 'und')) + len(list_filter(words, x -> x = 'das'))
           + len(list_filter(words, x -> x = 'ist')) AS s_de,
         len(list_filter(words, x -> x = 'le')) + len(list_filter(words, x -> x = 'la'))
           + len(list_filter(words, x -> x = 'et')) + len(list_filter(words, x -> x = 'les'))
           + len(list_filter(words, x -> x = 'des')) AS s_fr
  FROM w
), lang AS (
  SELECT *,
         list_max([{'score': s_en, 'lang': 'en'}, {'score': s_es, 'lang': 'es'},
                   {'score': s_de, 'lang': 'de'}, {'score': s_fr, 'lang': 'fr'}]) AS best
  FROM scores
)
SELECT doc_id,
       CASE WHEN best.score > 0 THEN best.lang ELSE 'und' END AS lang_pred,
       CAST(len(words) AS BIGINT) AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_tokens_bpe,
       round(
         least(len / 500.0, 1.0) * 0.3
         + (1.0 - least(punct / greatest(len, 1) * 4, 1.0)) * 0.3
         + least(s_en / greatest(len(words), 1) * 5, 1.0) * 0.2
         + (CASE WHEN len / greatest(len(words), 1) >= 3
                  AND len / greatest(len(words), 1) <= 10
                 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality_r
FROM lang
"""


@query(oracle=_TEXT_STATS_SQL)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, token counts (whitespace + BPE-ish regex), quality
    score — all JVM column expressions."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        tx.lang_id(t).alias("lang_pred"),
        tx.token_count_whitespace(t).cast("long").alias("n_tokens_ws"),
        tx.token_count_bpe(t).cast("long").alias("n_tokens_bpe"),
        F.round(tx.quality_score(t), 6).alias("quality_r"),
    )


# curation.decontaminate replay: same tokenizer, n-grams as a list
# comprehension over positions, benchmark = doc_id % 23 = 5, distinct-
# overlap counts via join + count(DISTINCT g).
_DECONTAM_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         CAST(greatest(len(t) - 5, 0) AS BIGINT) AS n_grams,
         list_transform(generate_series(1, greatest(len(t) - 5, 0)),
                        i -> array_to_string(t[i:i+5], ' ')) AS gs
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 23 = 5
), dg AS (
  SELECT doc_id, unnest(gs) AS g FROM grams
), hits AS (
  SELECT dg.doc_id, count(DISTINCT dg.g) AS n_hits
  FROM dg JOIN bench USING (g) GROUP BY dg.doc_id
)
SELECT g.doc_id, g.n_grams,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM grams g LEFT JOIN hits h ON g.doc_id = h.doc_id
ORDER BY g.doc_id
"""


@query(oracle=_DECONTAM_SQL)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.py; GPT-3-style
    exact n-gram overlap): docs with doc_id % 23 = 5 play the held-out
    benchmark; every corpus doc is flagged if it shares any word
    6-gram. Benchmark n-grams broadcast; one corpus scan."""
    from json_ld_spark.operators.curation import decontaminate

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 23 == 5)
    return decontaminate(docs, bench, n=6).orderBy("doc_id")


# curation.lm_score replay: bigram add-one LM; window counts mirror the
# Spark plan, BIGINT/BIGINT division is DOUBLE in both engines, ln is
# libm on both, round(6) absorbs per-group float-sum order.
_LM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     w -> w <> '') AS t
  FROM documents
), v AS (
  SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks)
), bg AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, UNNEST(generate_series(1, greatest(len(t) - 1, 0))) AS u(i)
), cnt AS (
  SELECT doc_id,
         COUNT(*) OVER (PARTITION BY w1, w2) AS c2,
         COUNT(*) OVER (PARTITION BY w1) AS c1
  FROM bg
), sc AS (
  SELECT doc_id,
         round(avg(ln((c2 + 1) / (c1 + (SELECT v FROM v)))), 6) AS avg_logprob,
         CAST(count(*) AS BIGINT) AS n_bigrams
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id, sc.avg_logprob,
       CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams
FROM (SELECT DISTINCT doc_id FROM documents) d LEFT JOIN sc USING (doc_id)
ORDER BY doc_id
"""


@query(oracle=_LM_SCORE_SQL)
def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/curation.py): bigram
    add-one model trained on the corpus itself, per-doc mean log-prob.
    One tokenize pass; counts via window functions (no join-back —
    Spark has no cross-consumer CSE)."""
    from json_ld_spark.operators.curation import lm_score

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return lm_score(docs).orderBy("doc_id")


# textops.gopher_quality replay: same tokenizer, list math for every
# signal; int/int division is DOUBLE in both engines, 6-dp rounds.
_GOPHER_SQL = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
), sig AS (
  SELECT doc_id,
    len(words) AS n_words,
    list_sum(list_transform(words, x -> length(x)))::DOUBLE / len(words)
      AS mean_wl,
    (length(text) - length(regexp_replace(text, '[#…]', '', 'g'))
     + len(list_filter(words, x -> ends_with(x, '...'))))::DOUBLE
      / len(words) AS sym_ratio,
    len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
      / len(lines) AS bullet_frac,
    len(list_filter(words, x -> regexp_matches(x, '[a-z]')))::DOUBLE
      / len(words) AS alpha_frac,
    len(list_intersect(list_distinct(words),
        ['the','be','to','of','and','that','have','with'])) AS n_stop
  FROM w
)
SELECT doc_id,
  CAST(n_words AS BIGINT) AS n_words,
  round(mean_wl, 6) AS mean_word_len,
  round(sym_ratio, 6) AS symbol_ratio,
  round(bullet_frac, 6) AS bullet_frac,
  round(alpha_frac, 6) AS alpha_frac,
  CAST(n_stop AS BIGINT) AS n_stopwords,
  (n_words >= 50 AND n_words <= 100000
   AND mean_wl >= 3 AND mean_wl <= 10
   AND sym_ratio <= 0.1 AND bullet_frac <= 0.9
   AND alpha_frac >= 0.7 AND n_stop >= 2) AS keep
FROM sig
"""


@query(oracle=_GOPHER_SQL)
def q_text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (textops.gopher_quality, Rae et al. 2021
    A1.1): all six signals + the keep conjunction as one JVM struct
    projection over the corpus."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    q = tx.gopher_quality(F.col("text"))
    return docs.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        q["mean_word_len"].alias("mean_word_len"),
        q["symbol_ratio"].alias("symbol_ratio"),
        q["bullet_frac"].alias("bullet_frac"),
        q["alpha_frac"].alias("alpha_frac"),
        q["n_stopwords"].alias("n_stopwords"),
        q["keep"].alias("keep"),
    )


# textops.normalize_text replay: nfc_normalize (probed == Python NFC),
# then the same RE2/Java-common control-strip + whitespace collapse.
_TEXT_NORMALIZE_SQL = r"""
WITH messy AS (
  SELECT doc_id,
         text || '  cafe' || chr(769) ||
         CASE WHEN doc_id % 3 = 0 THEN chr(9) || 'x' || chr(7) || 'y'
              ELSE ' z' END AS text
  FROM documents
), norm AS (
  SELECT doc_id,
         trim(regexp_replace(
           regexp_replace(nfc_normalize(text),
                          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
           '\s+', ' ', 'g')) AS out
  FROM messy
)
SELECT doc_id, md5(out) AS norm_md5,
       CAST(length(out) AS BIGINT) AS n_chars
FROM norm
"""


@query(oracle=_TEXT_NORMALIZE_SQL)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode/whitespace normalization (textops.normalize_text):
    deterministic mess injected (decomposed e+combining-acute, control
    chars, run whitespace), NFC composed in an Arrow UDF only rows
    with non-ASCII enter, cleanup in JVM regex; DuckDB replays via
    nfc_normalize (probed byte-identical to Python NFC). The two sides
    intentionally inject DIFFERENT pre-images (Spark: precomposed é,
    no control char; SQL: e+combining-acute and a BEL) that must
    converge to identical normalized bytes — hash equality therefore
    proves the normalization actually ran on both engines."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("  café"),
            F.when(F.col("doc_id") % 3 == 0, F.lit("\txy"))
            .otherwise(F.lit(" z")),
        ).alias("text"),
    )
    out = tx.normalize_text(F.col("text"))
    return messy.select(
        "doc_id",
        F.md5(out).alias("norm_md5"),
        F.length(out).cast("long").alias("n_chars"),
    )


_FINGERPRINT_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words
  FROM documents
)
SELECT doc_id,
       list_min(list_transform(
         generate_series(1, greatest(len(words) - 3, 1)),
         i -> md5(array_to_string(list_slice(words, i, i + 3), ' ')))) AS fingerprint
FROM w
"""


@query(oracle=_FINGERPRINT_SQL)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash document fingerprint, md5-gram
    variant so DuckDB reproduces it exactly (the xxhash64 variant in
    textops.fingerprint is the cheap production path — same algorithm,
    different gram hash)."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", tx.fingerprint_md5(F.col("text")).alias("fingerprint")
    )


# PII oracle: injection + regex counts + redaction chain replayed in
# DuckDB (RE2) against Spark (Java regex) — the patterns are written in
# the common subset of the two engines
_PII_SQL = r"""
WITH t AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 5 = 0
              THEN ' contact alice@example.com or bob.smith@test.org'
              ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN ' call 555-123-4567' ELSE '' END ||
         CASE WHEN doc_id % 11 = 0 THEN ' from 192.168.1.77' ELSE '' END
           AS text
  FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
  len(regexp_extract_all(text,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
  len(regexp_extract_all(text,
      '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))::BIGINT AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g')) AS redacted_md5
FROM t
"""


@query(oracle=_PII_SQL)
def q_text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (operators/textops.py): deterministic
    PII injection (so the corpus actually contains matches), per-
    category regexp counts, and an md5 over the redacted text — the
    whole scrub is a JVM projection (regexp_count/regexp_replace), no
    shuffle. Patterns stay in the Java-regex/RE2 common subset so the
    DuckDB oracle replays them byte-for-byte."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" contact alice@example.com or bob.smith@test.org")
                   ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" call 555-123-4567")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" from 192.168.1.77")).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = tx.pii_counts(F.col("text"))
    return injected.select(
        "doc_id",
        counts["email"].cast("long").alias("n_email"),
        counts["ip"].cast("long").alias("n_ip"),
        counts["phone"].cast("long").alias("n_phone"),
        F.md5(tx.redact_pii(F.col("text"))).alias("redacted_md5"),
    )


_WORD_REP_SQL = r"""
WITH w AS (
  SELECT doc_id, t.e AS word
  FROM documents CROSS JOIN UNNEST(
    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t(e)
  WHERE t.e <> ''
), c AS (
  SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
)
SELECT doc_id,
       SUM(c)::BIGINT AS n_words,
       COUNT(*)::BIGINT AS n_distinct,
       MAX(c)::BIGINT AS top_count,
       ROUND(1.0 - COUNT(*) / SUM(c)::DOUBLE, 6) AS dup_frac
FROM c GROUP BY doc_id
"""


@query(oracle=_WORD_REP_SQL)
def q_text_word_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (Gopher-rule family): per-doc word
    totals, distinct words, top-word count, duplicate-word fraction —
    two partial-agg shuffles, integer-exact except the 6-dp fraction."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return tx.word_repetition(docs).select(
        "doc_id", "n_words", "n_distinct", "top_count", "dup_frac"
    )


# BM25 oracle: same token normalization as the simhash/fingerprint
# oracles; expression association mirrors retrieval.bm25 exactly so the
# only cross-engine divergence is the per-doc SUM order (round 6)
_BM25_SQL = r"""
WITH words AS (
  SELECT doc_id, t.e AS term
  FROM documents CROSS JOIN UNNEST(
    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS t(e)
  WHERE t.e <> ''
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM words WHERE term IN ('shuffle', 'join', 'window')
  GROUP BY doc_id, term
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), dl AS (
  SELECT doc_id,
         len(list_filter(
           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
           x -> x <> '')) AS dl
  FROM documents
), consts AS (
  SELECT (SELECT COUNT(*) FROM documents)::DOUBLE AS n,
         (SELECT AVG(dl) FROM dl)::DOUBLE AS avgdl
)
SELECT doc_id,
       ROUND(SUM(
         ln(1 + (n - df + 0.5) / (df + 0.5))
           * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
       ), 6) AS score,
       COUNT(*) AS n_hit
FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id) CROSS JOIN consts
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""


@query(oracle=_BM25_SQL)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (operators/retrieval.py) for a fixed
    query over the documents corpus: postings pre-filtered to the query
    terms BEFORE any shuffle, per-doc score sum as one partial agg,
    top-20 via TakeOrderedAndProject. Scores rounded to 6 dp (absorbs
    float sum-order divergence, repo oracle convention)."""
    from json_ld_spark.operators import retrieval as rt

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    out = rt.bm25(docs, ["shuffle", "join", "window"], top_k=20)
    return out.select("doc_id", "score", "n_hit")


_NGRAM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS l
  FROM documents
), t AS (
  SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS w FROM toks
), g AS (
  SELECT a.doc_id, a.w || ' ' || b.w AS gram
  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
), f AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % 4096 AS bucket
  FROM g
), wts AS (
  SELECT b AS bucket, CAST(b % 101 AS DOUBLE) / 100 - 0.5 AS weight
  FROM range(4096) r(b)
)
SELECT f.doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_feats,
       round(1.0 / (1.0 + exp(-(0.0 + AVG(w2.weight)))), 6) AS score_r
FROM f JOIN wts w2 USING (bucket)
GROUP BY f.doc_id
"""


@query(oracle=_NGRAM_SCORE_SQL)
def q_text_ngram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed-bigram linear scoring
    (textops.hashed_ngram_score): model application as one broadcast
    join against a 4096-bucket weight table + one doc-keyed mean +
    sigmoid — the trained-classifier plumbing with a deterministic
    model so DuckDB replays feature hashing, lookup and score
    end-to-end (6-dp; only summation order differs)."""
    from json_ld_spark.operators.textops import hashed_ngram_score

    _utc(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    wts = spark.range(4096).selectExpr(
        "id AS bucket", "CAST(id % 101 AS DOUBLE)/100 - 0.5 AS weight"
    )
    return hashed_ngram_score(docs, wts, buckets=4096)


_URL_NORMALIZE_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 4 = 0 THEN 'http://example.com/a/b?a=1&b=2'
       WHEN doc_id % 4 = 1 THEN 'https://site-' || CAST(doc_id % 5 AS VARCHAR)
            || '.org/p/' || CAST(doc_id AS VARCHAR) || '/?a='
            || CAST(doc_id % 3 AS VARCHAR) || '&z=9'
       WHEN doc_id % 4 = 2 THEN 'http://example.org'
       ELSE 'https://example.org/path?q=' || CAST(doc_id AS VARCHAR)
  END AS url_norm
FROM documents
"""


@query(oracle=_URL_NORMALIZE_SQL)
def q_text_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization (textops.normalize_url): four
    deterministic messy-URL families (mixed-case host + default port +
    fragment + tracking params + unsorted query) normalized by a pure
    JVM column expression. Oracle: the expected canonical form is
    ANALYTIC per family — this checks the normalizer's semantics, not
    a replay of its regexes."""
    from json_ld_spark.operators.textops import normalize_url

    _utc(spark)
    d = _read(spark, sf_dir, "documents").select("doc_id")
    doc = F.col("doc_id")
    url = (
        F.when(doc % 4 == 0,
               F.lit("HTTP://Example.COM:80/a/b?utm_source=x&b=2&a=1#frag"))
        .when(doc % 4 == 1,
              F.concat(F.lit("https://Site-"), (doc % 5).cast("string"),
                       F.lit(".org:443/p/"), doc.cast("string"),
                       F.lit("/?z=9&a="), (doc % 3).cast("string"),
                       F.lit("&utm_campaign=c&fbclid=f")))
        .when(doc % 4 == 2, F.lit("http://example.org/"))
        .otherwise(F.concat(F.lit("https://example.org/path?gclid=1&q="),
                            doc.cast("string")))
    )
    return d.select("doc_id", normalize_url(url).alias("url_norm"))


# curation.ngram_novelty replay: same tokenize, DuckDB inclusive list
# slice t[i:i+4] = the 5-gram, DISTINCT (doc, gram) before the
# gram-partition COUNT(*) (the document frequency), left join keeps
# short docs with zero grams (NULL dup_frac, zero counts).
_NGRAM_NOVELTY_SQL = r"""
WITH w AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
), g AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
  FROM w, UNNEST(generate_series(1, greatest(len(t) - 4, 0))) AS u(i)
), dfq AS (
  SELECT doc_id, COUNT(*) OVER (PARTITION BY g) AS df
  FROM g
), per AS (
  SELECT doc_id, COUNT(*) AS n_grams,
         SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
  FROM dfq GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(p.n_dup, 0) AS BIGINT) AS n_dup,
       round(p.n_dup::DOUBLE / p.n_grams, 6) AS dup_frac
FROM documents d LEFT JOIN per p USING (doc_id)
"""


@query(oracle=_NGRAM_NOVELTY_SQL)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty / memorization-risk scoring
    (curation.ngram_novelty): fraction of each doc's DISTINCT word
    5-grams that occur in >=2 documents corpus-wide. array_distinct
    BEFORE the explode, document frequency via ONE gram-keyed window
    count (rows already distinct per (doc, gram)), then a per-doc agg
    — two shuffles, no join-back."""
    from json_ld_spark.operators.curation import ngram_novelty

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=5, min_df=2).orderBy("doc_id")


# retrieval.rrf_fuse replay: the green BM25 oracle verbatim as the
# sparse list (6-dp-rounded scores rank deterministically), the
# ann_topk_bruteforce cosine convention as the dense list, fusion =
# one exact division per source + a pinned two-term add before the
# 6-dp round.
_HYBRID_RRF_SQL = """
WITH bm AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
  FROM (""" + _BM25_SQL + """) bs
), dn AS (
  SELECT c.vec_id AS doc_id,
         ROW_NUMBER() OVER (
           ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                           q.qv) DESC,
                    c.vec_id ASC) AS r
  FROM embeddings c CROSS JOIN (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
  ) q
  WHERE c.vec_id <> 0
  QUALIFY r <= 20
)
SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
       bm.r AS rank_bm25,
       dn.r AS rank_dense,
       round(COALESCE(1.0 / (60 + bm.r), 0.0)
             + COALESCE(1.0 / (60 + dn.r), 0.0), 6) AS rrf_score
FROM bm FULL JOIN dn ON bm.doc_id = dn.doc_id
"""


@query(oracle=_HYBRID_RRF_SQL)
def q_text_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid sparse+dense retrieval fused by reciprocal-rank fusion
    (retrieval.rrf_fuse, Cormack 2009): BM25 top-20 for a fixed term
    query + exact-cosine top-20 for embedding query vec_id=0
    (vec_id aligns with doc_id), rrf = 1/(60+r_bm25) + 1/(60+r_dense).
    Both rank lists are top-k BOUNDED by construction, so the fusion
    join and the sparse list's global rank window run on k rows —
    never the corpus (documented plan-audit exemption, the
    sketch_histogram_quantiles argument)."""
    from json_ld_spark.operators import retrieval as rt
    from json_ld_spark.operators.retrieval import rrf_fuse

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    emb = _emb_double(_read(spark, sf_dir, "embeddings"))
    sparse = rt.bm25(docs, ["shuffle", "join", "window"], top_k=20)
    sw = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    sparse_ranked = sparse.select(
        "doc_id", F.row_number().over(sw).cast("long").alias("rank")
    )
    dense = sim.brute_force_topk(
        emb.filter(F.col("vec_id") == 0), emb, k=20
    ).select(F.col("cand_id").alias("doc_id"), "rank")
    fused = rrf_fuse([("bm25", sparse_ranked), ("dense", dense)], key_col="doc_id")
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))


# curation.ccnet_buckets replay: the green lm_score SQL verbatim as
# the scorer, then the _HISTQ_SQL quantile algebra over avg_logprob
# (integer bucket formula, smallest bucket with cum >= ceil(q*total)),
# CASE on integer buckets — no float comparison anywhere.
_CCNET_SQL = """
WITH sc AS (
  SELECT * FROM (""" + _LM_SCORE_SQL + """) s
), h AS (
  SELECT LEAST(999, GREATEST(0,
           CAST(FLOOR(((CAST(avg_logprob AS DOUBLE) - (-16.0)) / 16.0)
                      * 1000) AS INT))) AS bucket,
         COUNT(*) AS c
  FROM sc WHERE avg_logprob IS NOT NULL
  GROUP BY 1
), cum AS (
  SELECT bucket,
         SUM(c) OVER (ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER () AS total
  FROM h
), cuts AS (
  SELECT qs.q, MIN(cum.bucket) AS b
  FROM cum JOIN (SELECT unnest([0.33::DOUBLE, 0.67::DOUBLE]) AS q) qs
    ON cum.cum >= CEIL(qs.q * cum.total)
  GROUP BY qs.q
), th AS (
  SELECT MIN(CASE WHEN q = 0.33 THEN b END) AS b_lo,
         MIN(CASE WHEN q = 0.67 THEN b END) AS b_hi
  FROM cuts
)
SELECT sc.doc_id, sc.avg_logprob,
       CASE WHEN sc.avg_logprob IS NULL THEN NULL
            ELSE LEAST(999, GREATEST(0,
                   CAST(FLOOR(((CAST(sc.avg_logprob AS DOUBLE) - (-16.0))
                               / 16.0) * 1000) AS INT))) END AS score_bucket,
       CASE WHEN sc.avg_logprob IS NULL THEN NULL
            WHEN LEAST(999, GREATEST(0,
                   CAST(FLOOR(((CAST(sc.avg_logprob AS DOUBLE) - (-16.0))
                               / 16.0) * 1000) AS INT))) <= th.b_lo
              THEN 'tail'
            WHEN LEAST(999, GREATEST(0,
                   CAST(FLOOR(((CAST(sc.avg_logprob AS DOUBLE) - (-16.0))
                               / 16.0) * 1000) AS INT))) <= th.b_hi
              THEN 'middle'
            ELSE 'head' END AS ccnet_bucket
FROM sc CROSS JOIN th
"""


@query(oracle=_CCNET_SQL)
def q_text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing
    (curation.ccnet_buckets, Wenzek et al. 2020): corpus bigram-LM
    score -> fixed-bin histogram tercile thresholds -> integer-bucket
    labels. The tercile cut is integer arithmetic end to end; the
    oracle reuses the green lm_score SQL verbatim and replays the
    histogram-quantile algebra."""
    from json_ld_spark.operators.curation import ccnet_buckets

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return ccnet_buckets(docs).orderBy("doc_id")


# per-lang TTR + micro-int OLS Zipf slope
_TTR_ZIPF_SQL = """
WITH words AS (
  SELECT lang, word FROM (
    SELECT lang,
           unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents)
  WHERE word <> ''
), freq AS (
  SELECT lang, word, COUNT(*) AS n FROM words GROUP BY lang, word
), base AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(n) AS BIGINT) AS n_tokens
  FROM freq GROUP BY lang
), top AS (
  SELECT lang,
         CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
  FROM (
    SELECT lang, n,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rank
    FROM freq)
  WHERE rank <= 100
), ols AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM top GROUP BY lang
)
SELECT b.lang, b.n_types, b.n_tokens,
       round(CAST(b.n_types AS DOUBLE) / CAST(b.n_tokens AS DOUBLE), 6) AS ttr_r,
       CASE WHEN (o.k * o.sxx - o.sx * o.sx) <> 0
            THEN round(CAST(o.k * o.sxy - o.sx * o.sy AS DOUBLE)
                       / CAST(o.k * o.sxx - o.sx * o.sx AS DOUBLE), 6)
       END AS zipf_slope_r
FROM base b JOIN ols o ON b.lang = o.lang
"""


@query(oracle=_TTR_ZIPF_SQL)
def q_text_ttr_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus-health linguistics (textops.ttr_zipf):
    type-token ratio + Zipf slope of the top-100 word frequencies with
    the OLS computed in scaled integer micro-units (engine-exact until
    one final division). One vocab aggregation, one lang-partitioned
    rank window, one rollup. Oracle replays the micro-int OLS."""
    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return tx.ttr_zipf(docs, top_k=100)


# text_kn_bigrams: DuckDB's parallel unnest of the two shifted word
# slices zips adjacent pairs; count-of-counts discount and P_KN use
# the exact expression shapes of textops.kn_bigram_stats
_KN_BIGRAMS_SQL = r"""
WITH w AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS words FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2
), bg0 AS (
  SELECT unnest(list_slice(words, 1, len(words) - 1)) AS w1,
         unnest(list_slice(words, 2, len(words))) AS w2
  FROM w
), bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg0 GROUP BY w1, w2
), lft AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1,
         CAST(COUNT(*) AS BIGINT) AS nfollow_w1
  FROM bc GROUP BY w1
), rgt AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont_w2 FROM bc GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS btypes,
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT) AS n1,
         CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 END), 0) AS BIGINT) AS n2
  FROM bc
)
SELECT bc.w1, bc.w2, bc.c, lft.cw1, lft.nfollow_w1, rgt.ncont_w2,
       round(tot.n1 / greatest(tot.n1 + 2 * tot.n2, 1), 6) AS d_r,
       round(
         greatest(bc.c - tot.n1 / greatest(tot.n1 + 2 * tot.n2, 1), 0.0)
           / CAST(lft.cw1 AS DOUBLE)
         + (tot.n1 / greatest(tot.n1 + 2 * tot.n2, 1))
           * (lft.nfollow_w1 / CAST(lft.cw1 AS DOUBLE))
           * (rgt.ncont_w2 / CAST(tot.btypes AS DOUBLE)), 6) AS pkn_r
FROM bc JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
WHERE bc.c >= 3
"""


@query(oracle=_KN_BIGRAMS_SQL)
def q_text_kn_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM statistics over the documents
    corpus (textops.kn_bigram_stats): bigram counts, left-context
    totals, continuation/follower type counts, the absolute discount
    D = n1/(n1+2*n2) from count-of-counts, and P_KN(w2|w1) — the count
    tables an n-gram LM trainer collects at corpus scale (Brants et
    al. 2007). One tokenize+explode projection + four
    map-side-combinable aggs + a 1-row totals broadcast; output is the
    deterministic c >= 3 bigram set (vocabulary-bounded, not
    corpus-bounded). Oracle: the same algebra over DuckDB's zipped
    parallel unnest of the two shifted word slices."""
    from json_ld_spark.operators.textops import kn_bigram_stats

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return kn_bigram_stats(docs.select("text"), min_count=3)


# text_kn_perplexity: full KN training replay (min_count=1) + per-doc
# micro-nat scoring; ln runs over the identical 6-dp-rounded pkn_r
_KN_PERPLEXITY_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words FROM documents
  WHERE len(regexp_split_to_array(lower(trim(text)), '\s+')) >= 2
), bg0 AS (
  SELECT doc_id, unnest(list_slice(words, 1, len(words) - 1)) AS w1,
         unnest(list_slice(words, 2, len(words))) AS w2
  FROM w
), bc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg0 GROUP BY w1, w2
), lft AS (
  SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1,
         CAST(COUNT(*) AS BIGINT) AS nfollow_w1
  FROM bc GROUP BY w1
), rgt AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS ncont_w2 FROM bc GROUP BY w2
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS btypes,
         CAST(COALESCE(SUM(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT) AS n1,
         CAST(COALESCE(SUM(CASE WHEN c = 2 THEN 1 END), 0) AS BIGINT) AS n2
  FROM bc
), kn AS (
  SELECT bc.w1, bc.w2,
       round(
         greatest(bc.c - tot.n1 / greatest(tot.n1 + 2 * tot.n2, 1), 0.0)
           / CAST(lft.cw1 AS DOUBLE)
         + (tot.n1 / greatest(tot.n1 + 2 * tot.n2, 1))
           * (lft.nfollow_w1 / CAST(lft.cw1 AS DOUBLE))
           * (rgt.ncont_w2 / CAST(tot.btypes AS DOUBLE)), 6) AS pkn_r
  FROM bc JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
), sc AS (
  SELECT b.doc_id,
         CAST(round(ln(greatest(k.pkn_r, 1e-6)) * 1000000.0, 0) AS BIGINT) AS micro
  FROM bg0 b JOIN kn k ON k.w1 = b.w1 AND k.w2 = b.w2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(micro) AS BIGINT) AS logp_micro,
       round(SUM(micro) / 1000000.0 / COUNT(*), 6) AS avg_logp_r
FROM sc GROUP BY doc_id
"""


@query(oracle=_KN_PERPLEXITY_SQL)
def q_text_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Kneser-Ney bigram LM fluency scores over documents
    (textops.kn_doc_logprob): the corpus-trained KN table (min_count=1)
    scores every document's bigrams; per-bigram log terms are micro-nat
    longs summed exactly (order-free), one float division per doc at
    the end — CCNet-style LM quality filtering with our own model, a
    two-pass train+score pipeline. Oracle: the full KN training replay
    + the same join/agg in SQL (ln over the identical 6-dp pkn_r)."""
    from json_ld_spark.operators.textops import kn_doc_logprob

    _utc(spark)
    docs = _read(spark, sf_dir, "documents")
    return kn_doc_logprob(docs.select("doc_id", "text"))
