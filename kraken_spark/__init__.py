"""kraken_spark — a from-scratch PySpark-native document-text extraction engine.

Re-expresses the capabilities of the reference OCR stack (mittagessen/kraken,
surveyed in /root/repo/SURVEY.md) as a Spark DataFrame / Arrow-UDF dataflow
over a Common-Crawl-style ``documents(url, warc_ts, html, text, lang)`` table:

    scan -> (repartition by url) -> mapInArrow(fused
    binarize -> segment -> reading-order -> recognize -> serialize)
    -> extractions + metrics tables

Design points (see SURVEY.md §4.3, §7):
  * All heavy per-page compute lives in pure-numpy kernels
    (``kraken_spark.kernels``) with zero Spark imports, wrapped once by
    Arrow-batched stage functions (``kraken_spark.stages``). No per-row Python.
  * Relational glue (ordering, grouping, joins, dedup, metrics aggregation)
    uses native Spark SQL expressions so it stays inside Catalyst /
    whole-stage codegen.
  * Determinism everywhere: seeded corpus, sha1-derived ids, pinned clock —
    extracted text is byte-identical run-to-run (the reference uses uuid4 and
    wall clocks; cf. SURVEY.md §7.5).
"""

from . import _zipcache

# every Spark Python worker imports this package when it unpickles a stage
# function; from then on its tasks stop re-reading pyspark.zip (_zipcache)
_zipcache.install()

__version__ = "0.1.0"

__all__ = [
    "corpus",
    "functions",
    "job",
    "kernels",
    "operators",
    "pipeline",
    "schema",
    "session",
    "sources",
    "stages",
    "streaming",
]
