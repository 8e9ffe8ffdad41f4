"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline at sf0.001.
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (the §2-I relational checklist plus the JSON-LD/KG/dedup/
similarity/text/multimodal operator families); ``oracle_sql()`` gives the
DuckDB equivalent of every one. Both are read from the query registry
(``json_ld_spark/queries/``), where ``@query(oracle=...)`` pairs each
query with its oracle. Column names are aliased identically on both
sides (the driver hash-compares values after sorting columns by name).

Determinism notes (cross-engine value-hash parity):
- session timezone forced to UTC in every query (parquet timestamps are
  naive; both engines must read identical wall-clock values);
- money/metric double aggregations go through exact integer-cents sums
  (`round(x*100) :: bigint`) so Spark/DuckDB summation order can't skew
  low bits; remaining raw doubles are rounded to >=4 decimals;
- computed integer columns are cast to long (DuckDB len()/count() are
  BIGINT).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from json_ld_spark.operators import linking as lk
from json_ld_spark.plans.kg import build_kg
from json_ld_spark.queries import REGISTRY, QueryFn
from json_ld_spark.queries._common import _utc
from json_ld_spark.sources.transcripts import transcripts_from_documents

SF001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts → JSON-LD triple extraction → entity linking
    → dedup/node-merge (SURVEY.md §3.3) at sf0.001; returns the corpus
    triple table."""
    _utc(spark)
    transcripts = transcripts_from_documents(spark, SF001)
    dictionary = lk.synthesize_entity_dictionary(spark, SF001, max_entities=500)
    parts = build_kg(transcripts, entity_dictionary=dictionary, engine="native")
    return parts["triples"].select("subj", "pred", "obj_kind", "obj", "datatype")


def _last_checked_round() -> dict[str, int]:
    """Latest ``CORRECTNESS_r<N>.json`` round that checked each query."""
    last: dict[str, int] = {}
    for path in Path(__file__).parent.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = max(last.get(name, 0), rnd)
    return last


def queries() -> dict[str, QueryFn]:
    """Every registered query, least recently checked first: the
    correctness gate hash-verifies the first 50 keys, so queries no round
    has checked (round 0) lead. Ties keep registration order (the sort
    is stable)."""
    last = _last_checked_round()
    names = sorted(REGISTRY, key=lambda name: last.get(name, 0))
    return {name: REGISTRY[name].fn for name in names}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items()}
