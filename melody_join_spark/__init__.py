"""melody_join_spark — a PySpark-native similarity-analytics engine.

A from-scratch rebuild of the capabilities of jinhuang/melody-join
(distributed EMD similarity self-join, ICDE 2014) as an idiomatic Spark
library: DataFrame/SQL plans, Arrow-batched pandas UDF kernels, plus the
LLM-data-pipeline operator family (dedup, similarity search, text analysis,
multimodal plumbing) the reference's core generalizes to.

Public surface:
- kernel: pure numpy EMD + bounds (``melody_join_spark.kernel``)
- operators: ``emd_join``, ``emd_topk``, dedup/similarity/text operators
"""

__version__ = "0.1.0"

__all__ = ["__version__"]
