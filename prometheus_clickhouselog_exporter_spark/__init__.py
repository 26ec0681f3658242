"""PySpark-native analytics engine with the capabilities of
vozerov/prometheus-clickhouselog-exporter (reference, read-only at
/root/reference/), grown into a general batch + streaming operator
library.

Layout
------
- ``session``     : tuned SparkSession builder (local test / cluster design point)
- ``sources``     : table loaders, log text source + pre-flight, fixture generator
- ``functions``   : pure column-expression helpers (byte-size parse, stmt
                    classification, Prometheus-histogram aggregation)
- ``operators``   : batch operators — log parsing, session correlation,
                    metric aggregates, relational library, dedup, similarity,
                    text stats, multimodal plumbing
- ``streaming``   : Structured Streaming pipeline (stateful sessionization
                    via ``streaming.keyed_fold``, foreachBatch sinks)

Everything is DataFrame-first: operators return lazily-evaluated DataFrames
and never collect on the driver.
"""

__version__ = "0.1.0"
