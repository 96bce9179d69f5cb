"""PySpark-native analytics engine with the query/data-processing
capabilities of jschaef/sarfile_analyzer_ng (a Polars-based sar-file
analyzer), re-expressed Spark-first for 100 TB scale.

Layout:
    session     SparkSession factory (AQE, UTC, arrow, pushdown)
    catalog     testdata/table loading + view registration
    sources     SAR ASCII / sadf-JSON distributed ingest
    operators   relational & time-series operators (SURVEY.md §2.2)
    functions   LLM-pipeline ops: dedup, similarity, text (§2.3)
    queries     correctness-gate registry (queries + DuckDB oracle SQL)
"""

__version__ = "0.1.0"
