"""dask_felleskomponenter_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first rebuild of the capability surface of
``kartverket/dask-felleskomponenter`` (reference read-only at
``/root/reference/``), extended with the LLM-data-pipeline operator pack
(dedup, similarity search, text analysis, multimodal columns) required for
100 TB-scale training-data processing.

Design stance (SURVEY.md §7):
- DataFrame/SQL only; Catalyst does all optimization. No RDDs.
- Built-in ``pyspark.sql.functions`` in every hot path; Pandas UDFs only
  where built-ins cannot express the semantics (multimodal decode).
- Explicit broadcast of dimension tables, AQE on, partition-count tuned to
  the cluster; no ``collect()`` in library code paths, with one bounded
  exception: small-graph connected components pull at most
  ``_CC_SINGLE_TASK_EDGES`` edges (~4 MB) to the driver and solve them
  there (``operators/graph.py``).
"""

from dask_felleskomponenter_spark.session import get_spark
from dask_felleskomponenter_spark.vendorshim import ensure_protobuf

# Activate the vendored protobuf runtime (no-op when the real one is
# installed) BEFORE any SparkSession exists, so Python workers inherit
# the PYTHONPATH entry — see vendorshim.py.
ensure_protobuf()

__version__ = "0.1.0"

__all__ = ["get_spark", "__version__"]
