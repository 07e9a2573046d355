"""muninn_avro_to_parquet_spark — a PySpark-native CDC Avro → Parquet engine.

A from-scratch, Spark-first re-implementation of the capabilities of the
reference pipeline ``rafael-silva-insider/muninn-avro-to-parquet`` (a
single-file Apache Beam / Dataflow job), extended with the relational and
LLM-data-pipeline operators a 100 TB training-data platform needs.

Layout
------
- ``schema``      Avro-JSON writer schema → Spark ``StructType`` (reference
                  parity: /root/reference/main.py:55-108, 299-396)
- ``convert``     batch converter: Avro dir → partitioned Parquet
- ``sources``     Avro OCF pure-Python IO + distributed Spark source
- ``streaming``   continuous conversion (file polling, checkpointed dedup)
- ``operators``   relational + dedup / similarity / text / multimodal ops
- ``functions``   registered scalar helpers (bool parse, bytes-decimal, ...)
- ``plans``       plan dump + operator counts (``plans.explain``), bucketing,
                  Z-order layout, window and oracle-parity helpers
"""

from muninn_avro_to_parquet_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
