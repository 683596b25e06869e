"""gush_spark — a from-scratch PySpark-native streaming/CEP analytics engine.

Re-imagines the capabilities of the reference engine (simao/gush, an
Akka-Streams MySQL-binlog CEP pipeline — see SURVEY.md) as an idiomatic
Spark Structured Streaming + DataFrame engine over Common-Crawl-style web
pages, plus the batch analytics / dedup / similarity operators a
large-scale training-data pipeline needs.

Layout
------
- ``gush_spark.session``    SparkSession builders (batch + streaming tuned)
- ``gush_spark.config``     job config (ignored hosts/prefixes; GushConfig analog)
- ``gush_spark.sources``    deterministic fixture generators + streaming source
- ``gush_spark.functions``  extraction UDF (html→text, byte-exact), text stats
- ``gush_spark.operators``  filters/classify, windows, joins, dedup, similarity
- ``gush_spark.streaming``  keyed-state runner, CEP state machine (numpy
                            rule kernel), exactly-once sink, metrics
- ``gush_spark.zip_import_cache``  keeps Python workers from re-reading
                            unchanged zip archives on every UDF runner
                            (installed on import of this package)

Everything here derives from public knowledge only: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

from gush_spark import zip_import_cache

__version__ = "0.1.0"

# PySpark workers import this package to unpickle every gush UDF
zip_import_cache.install()
