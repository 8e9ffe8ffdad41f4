"""json_ld_spark — a PySpark-native knowledge-graph construction engine
with the query/data-processing capabilities of timothee-haudebourg/json-ld
(W3C JSON-LD 1.1: context processing, expansion, flattening, RDF quads),
re-expressed Spark-first: document-local algorithms run as vectorized
Arrow/pandas UDF stages; all cross-document work (node merge, dedup,
entity linking, canonicalization, materialization) is DataFrame-native.

Layout:
  context / expand / nodemap / rdf / compact — the pure-Python JSON-LD core
  operators/  — Spark DataFrame stages (triples, linking, dedup, ANN, ...)
  sources/    — transcripts synthesizer, context registry loaders
  streaming/  — structured-streaming ingest variant
  queries/    — oracle-checked queries, each registered with its DuckDB oracle
                (not imported by this package; ``__spark_entry__`` loads it)
"""

from .api import compact, compare, expand, flatten, to_rdf  # noqa: F401
from .frame import frame  # noqa: F401
from .options import JsonLdOptions  # noqa: F401

__version__ = "0.1.0"
