"""data_framework_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference scientific data framework (KBergst/data-framework, surveyed
in /root/repo/SURVEY.md), extended with the relational / streaming /
LLM-data-pipeline operators a large-scale training-data pipeline needs.

Design principles (see SURVEY.md §1.3, §4):
- Long-format DataFrames, not dense ndarrays: one row per grid cell,
  `(var, t, i0, i1, c0, c1, value)`, partitioned by `var` and `t`.
- Declarative plans: every operator is built from `pyspark.sql`
  DataFrame/SQL expressions so Catalyst handles pushdown, pruning and
  join strategy; Pandas-UDF kernels only where built-ins genuinely
  cannot express the semantics (raster kernels, §2.9).
- Scale posture: no driver-side materialization in any operator path;
  broadcast hints for dimension tables; window partitioning keyed so
  per-partition state is bounded at 100 TB inputs.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # `get_spark` is loaded on first use (PEP 562): importing the package
    # must not import pyspark, because the Python-worker daemon
    # (`worker_daemon`) runs inside it and has to order `sys.path`
    # before pyspark is first imported.
    if name == "get_spark":
        from data_framework_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
