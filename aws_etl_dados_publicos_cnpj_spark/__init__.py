"""PySpark-native analytics engine with the capabilities of
``mateusccoelho/aws_etl_dados_publicos_cnpj`` (see SURVEY.md).

Layout:

- ``session``    — tuned SparkSession factory (AQE, UTC, Arrow).
- ``schemas``    — frozen StructTypes for the 10 CNPJ tables.
- ``sources``    — CNPJ CSV reader (latin-1 / ';' / decimal-comma),
                   HTML listing scan, zip-over-HTTP acquisition,
                   partitioned Parquet sink + catalog registration.
- ``plans``      — incremental update planner + pipeline driver
                   (the reference's Step Functions state machine as
                   plain driver-side Python around Spark writes).
- ``functions``  — scalar expression library shared by operators.
- ``operators``  — consumption-layer relational operators plus the
                   [EXT] large-scale training-data ops (dedup,
                   similarity search, text analysis, multimodal).
"""

__version__ = "0.1.0"
