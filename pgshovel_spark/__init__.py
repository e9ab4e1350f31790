"""pgshovel_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference (disqus/pgshovel, a Postgres CDC pipeline), rebuilt
Spark-first per SURVEY.md:

- Layer 1: CDC/stream semantics (ordered change streams, transaction
  framing, sequence validation/fencing, latest-state materialization,
  windows, stateful dedup) on Structured Streaming — see
  ``pgshovel_spark.streaming`` and the batch analogs in
  ``pgshovel_spark.queries``.
- Layer 2: a full relational analytics surface (scan/filter/join/agg/
  window/set ops/scalar functions) plus LLM-data-pipeline operators
  (dedup, similarity search, multimodal columns, text analysis),
  expressed in the declarative DataFrame API so Catalyst optimizes.

The reference snapshot at /root/reference was empty at survey time;
reference behavior is reconstructed from public knowledge of the
disqus/pgshovel repository (see SURVEY.md "Provenance"). No code is
copied from it — pgshovel is a Python CDC daemon, not a query engine.
"""

# installs the zipimporter wrapper in every process that imports the package
import pgshovel_spark.zipimport_cache  # noqa: F401
from pgshovel_spark.session import get_session

__all__ = ["get_session"]
__version__ = "0.1.0"
