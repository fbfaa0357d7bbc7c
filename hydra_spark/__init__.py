"""hydra_spark — a PySpark-native structured-streaming / CEP engine.

From-scratch reimplementation of the capabilities of ps-dev/hydra
(an Akka/fs2 Kafka ingest pipeline) as an idiomatic Spark engine:
rate-controlled replay sources with offset lineage, vectorized
Arrow/pandas decode + normalization, event-time windows + watermarks,
stateful stream-stream join, latest-wins keyed state, and an
exactly-once idempotent keyed MERGE sink with per-partition lineage and
metrics. See SURVEY.md for the full reference mapping.
"""

__version__ = "0.1.0"

# Python workers import this package when they unpickle an engine UDF;
# from then on their per-task importlib.invalidate_caches() stops
# re-reading pyspark.zip's directory (see hydra_spark/zipcache.py).
from hydra_spark import zipcache as _zipcache  # noqa: E402

_zipcache.install()
