"""Engine function library — reusable expression building blocks.

``text``: normalization, shingling, MinHash signatures, SimHash.
``vectors``: dot/cosine/norm, sign-LSH bucketing, IVF cells and PQ codes
over array<float>.

Each helper is a ``*_sql`` builder that renders Spark-SQL from expression
fragments (column names), plus a one-line ``F.expr`` wrapper of it.
Everything runs JVM-side (whole-stage codegen, no Python in the hot path);
the multimodal decode stubs are the only Pandas-UDF surface and live with
their queries.
"""

from flink_cdc_connectors_spark.functions import text, vectors  # noqa: F401
