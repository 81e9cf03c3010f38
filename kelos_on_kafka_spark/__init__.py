"""kelos_on_kafka_spark — a PySpark-native streaming engine with the
query/data-processing capabilities of emanuel-metzenthin/KELOS-on-Kafka
(KDE-based local outlier detection over sliding stream windows), built
Spark-first: DataFrame/SQL plans and a ``mapInArrow`` pane walker per
shard around the NumPy kernel, Structured Streaming with watermarks and
an exactly-once idempotent sink.

Import operators from their submodules, e.g.
``kelos_on_kafka_spark.operators.kelos_batch.detect_outliers``.
"""

from kelos_on_kafka_spark import gcfreeze  # noqa: F401  (freezes in a worker)
from kelos_on_kafka_spark import zipcache  # noqa: F401  (installs on import)
from kelos_on_kafka_spark.config import DEFAULT_CONFIG, KelosConfig

__all__ = ["DEFAULT_CONFIG", "KelosConfig"]
__version__ = "0.4.0"
