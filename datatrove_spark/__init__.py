"""datatrove_spark — a from-scratch, PySpark-native web-text curation engine.

Re-expresses the capabilities of the reference library (datatrove, a
row-oriented Python generator-pipeline at /root/reference) as idiomatic,
declarative Spark DataFrame transformations:

- readers/writers          -> spark.read / df.write (+ dynamic partitioned sinks)
- per-document filters     -> one implementation each: Arrow-batched
                              pandas-UDF kernels for the text-heavy filters,
                              native Column expressions where one suffices
- formatters (PII, ...)    -> compiled-regex batch transforms
- dedup (minhash/url/...)  -> shuffle/window/join-based distributed algorithms
                              instead of the reference's sorted-file k-way merges
- stats/counters           -> groupBy aggregates + df.observe metrics

Design goals (BASELINE.json north rule): 10^12-document scale, explicit
partitioning/skew handling, AQE-tuned shuffles, resumable checkpoints with
per-partition lineage, and >=0.8 throughput scaling efficiency between N
and 4N cores.
"""

__version__ = "0.1.0"

from datatrove_spark.config import EngineConfig  # noqa: F401
from datatrove_spark.session import get_spark  # noqa: F401
