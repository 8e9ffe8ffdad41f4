"""Seeded input generator for the KG-construction benchmark.

Everything the program sees is made here from ``--seed``: a
``documents.parquet`` table written with pyarrow, the amplified
transcripts and the entity dictionary the program derives from it, and a
table of nested JSON-LD documents built JVM-side with
``to_json(struct(...))``. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

# The text shape of the repo's sf test corpora (documents.parquet at sf0.01
# and sf0.1): 10..99 words drawn uniformly from a 30-word vocabulary, so
# about 297 characters, 52 mentions (words of 3+ letters) and 22 distinct
# dictionary surfaces per text; 5% of the texts repeat another text with
# " dup" appended. The program's dictionary builder, asked for up to
# DICT_ENTRIES, keeps every 3+-letter word of such a corpus: 30 entries.
VOCAB = (
    "a the big small fast slow agg row key hash join sort scan part line "
    "data table value query batch group order merge filter column stream "
    "window vector spark customer"
).split()
WORDS_PER_TEXT = (10, 99)
DUP_SHARE = 0.05
DUP_MARK = " dup"
N_SOURCES = 20
LANGS = {"en": 0.41, "de": 0.1475, "fr": 0.1475, "es": 0.1475, "zh": 0.1475}
DICT_ENTRIES = 2000
BAD_SHARE = 0.05  # share of nested docs made malformed on purpose


def write_documents(sf_dir: str, n_docs: int, seed: int) -> str:
    """``documents.parquet`` with the schema and text shape of the repo's
    sf test tables: (doc_id long, text string, lang string, source string,
    n_chars long), source ``src<doc_id % N_SOURCES>``."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choices(VOCAB, k=rng.randint(*WORDS_PER_TEXT))) for _ in range(n_docs)
    ]
    dups = rng.sample(range(n_docs), round(n_docs * DUP_SHARE))
    originals = sorted(set(range(n_docs)) - set(dups))
    for d in dups:
        texts[d] = texts[rng.choice(originals)] + DUP_MARK
    table = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choices(list(LANGS), weights=list(LANGS.values()), k=n_docs),
            "source": [f"src{d % N_SOURCES}" for d in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return sf_dir


def bad_doc_ids(n_docs: int, seed: int) -> dict[int, int]:
    """Seeded choice of exactly ``round(n_docs * BAD_SHARE)`` doc ids to
    malform, mapped to the kind of damage (1: numeric ``@id``,
    2: numeric ``@context``)."""
    rng = random.Random(seed * 7919 + 1)
    ids = sorted(rng.sample(range(n_docs), round(n_docs * BAD_SHARE)))
    return {d: 1 + k % 2 for k, d in enumerate(ids)}


def nested_docs(spark: SparkSession, sf_dir: str, bad: dict[int, int]) -> DataFrame:
    """One nested JSON-LD document per documents.parquet row:
    (doc_id string, doc string).

    Each doc carries an inline ``@context`` that differs per ``source``
    (a working set of N_SOURCES contexts), a blank-node ``author`` with a
    nested blank-node ``affiliation``, an ``@list`` of keywords,
    blank-node ``mentions`` and language-tagged ``@value`` text. Docs in
    ``bad`` get a numeric ``@id`` or a numeric ``@context``; ``to_json``
    drops null fields, so damage has to be a wrong type, not a null."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    words = F.split(F.col("text"), " ")
    vocab = F.concat(F.lit("https://example.org/"), F.col("source"), F.lit("/vocab#"))
    context = F.struct(
        vocab.alias("@vocab"),
        F.lit("http://schema.org/name").alias("name"),
        F.struct(
            F.lit("http://schema.org/author").alias("@id"),
        ).alias("author"),
        F.concat(vocab, F.lit("worksFor")).alias("affiliation"),
        F.struct(
            F.lit("http://schema.org/position").alias("@id"),
            F.lit("http://www.w3.org/2001/XMLSchema#integer").alias("@type"),
        ).alias("position"),
    )
    lang_text = lambda c: F.struct(c.alias("@value"), F.col("lang").alias("@language"))  # noqa: E731
    body = [
        F.lit("Document").alias("@type"),
        F.col("source").alias("source"),
        lang_text(F.array_join(F.slice(words, 1, 4), " ")).alias("name"),
        F.struct(
            F.concat(F.lit("author "), (F.col("doc_id") % 97).cast("string")).alias("name"),
            F.struct(
                F.concat(F.lit("org "), (F.col("doc_id") % 13).cast("string")).alias("name"),
                F.col("lang").alias("country"),
            ).alias("affiliation"),
        ).alias("author"),
        F.struct(F.slice(words, 1, 2).alias("@list")).alias("keywords"),
        F.transform(
            F.slice(words, 2, 4),
            lambda w, i: F.struct(lang_text(w).alias("name"), (i + 1).alias("position")),
        ).alias("mentions"),
        lang_text(F.col("text")).alias("text"),
    ]
    iri = F.concat(F.lit("https://example.org/doc/"), F.col("doc_id").cast("string"))
    good = F.to_json(F.struct(context.alias("@context"), iri.alias("@id"), *body))
    bad_id = F.to_json(F.struct(context.alias("@context"), F.col("doc_id").alias("@id"), *body))
    bad_ctx = F.to_json(F.struct(F.col("doc_id").alias("@context"), iri.alias("@id"), *body))
    kind = F.lit(0)
    for k in (1, 2):
        ids = [d for d, v in bad.items() if v == k]
        if ids:
            kind = F.when(F.col("doc_id").isin(ids), F.lit(k)).otherwise(kind)
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(kind == 1, bad_id).when(kind == 2, bad_ctx).otherwise(good).alias("doc"),
    )
