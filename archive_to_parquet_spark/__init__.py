"""archive_to_parquet_spark — a PySpark-native analytics/ingestion engine.

A from-scratch, Spark-first engine with the query and data-processing
capabilities of orf/archive-to-parquet (reference: /root/reference/,
Rust): recursive archive extraction to a canonical 5-column table
(source, path, size, hash, content), row filters, global hash dedup,
and a tuned Parquet sink — plus the relational surface (DataFrame/SQL)
and large-scale training-data-pipeline operators (dedup families,
similarity search, text analysis, multimodal columns) that a 100 TB
corpus needs.

Architecture is idiomatic PySpark: the logical plan is declared with
the DataFrame API and Catalyst/Tungsten pick the physical strategy.
Custom logic (archive walking, magic sniffing, ascii-strings) lives in
Arrow-batched mapInArrow at ingest; everything downstream is stock,
codegen-able DataFrame ops.
"""

from archive_to_parquet_spark import zipimport_cache
from archive_to_parquet_spark.options import ConvertOptions, IncludeType
from archive_to_parquet_spark.schema import ENTRY_SCHEMA, FORMAT_KINDS

# every Python worker that unpickles engine code imports this package,
# so each one stops re-parsing pyspark.zip at the start of every task
zipimport_cache.install()

__version__ = "0.1.0"

__all__ = [
    "ConvertOptions",
    "IncludeType",
    "ENTRY_SCHEMA",
    "FORMAT_KINDS",
    "__version__",
]
