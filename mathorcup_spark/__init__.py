"""mathorcup_spark — a PySpark-native analytics engine.

From-scratch re-expression of the query and data-processing
capabilities of the reference repo
MobtgZhang/2021MathorCupBigDataCompetition (used-car valuation
pipelines: ETL/cleaning, joins, aggregations, dictionary encoding,
co-occurrence knowledge-graph construction, ranking metrics, ML
train/score), built Spark-first: DataFrame/SQL plans optimized by
Catalyst, MLlib for models, Structured Streaming for streams, plus
the LLM-data-pipeline operators (dedup, similarity search, text
analysis) a 100 TB training-data pipeline needs.

Package layout (SURVEY.md section numbers in parentheses):
- ``session``    — tuned SparkSession builder
- ``catalog``    — testdata table catalog + schema registry (§1)
- ``registry``   — query registry powering ``__spark_entry__.py``
- ``oracle``     — DuckDB oracle views + the one result comparator
- ``operators/`` — relational / sampling / graph operators (§2.2-2.6, 2.9-2.10)
- ``functions/`` — scalar, cleaning, text, dedup, similarity (§2.7-2.8, 2.13)
- ``sources/``   — scans & sinks incl. headerless/ragged TSV (§2.1)
- ``plans/``     — assembled query plans / registry bootstrap
- ``streaming/`` — Structured Streaming surface (§2.12)
- ``ml/``        — MLlib pipelines (§2.11)

Note: the directory is named ``mathorcup_spark`` (not
``2021mathorcupbigdatacompetition_spark``) because a Python package
name cannot start with a digit.
"""

__version__ = "0.1.0"
