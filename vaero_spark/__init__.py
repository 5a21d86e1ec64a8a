"""vaero_spark — a PySpark-native streaming/CEP engine.

A from-scratch reimplementation of the query/data-processing
capabilities of the vaerohq/vaero programmable log pipeline
(tap → transforms → route → sink), recast as a Structured Streaming
CEP engine over tables of multi-turn conversation/agent transcripts
``(conv_id, turn_idx, role, text, tool, ts)``.

Architecture (idiomatic Spark, NOT a port):

- ``vaero_spark.dsl``       — fluent pipeline DSL mirroring the reference's
  Python surface (``vaero/stream.py``), building a JSON-serializable plan.
- ``vaero_spark.plans``     — op dataclasses + task-graph serialization.
- ``vaero_spark.compiler``  — plan → DataFrame transformation chain
  (native Column expressions; Catalyst optimizes the whole pipeline).
- ``vaero_spark.operators`` — transforms, windows, stateful ops, joins,
  dedup/similarity/text-analysis operators.
- ``vaero_spark.sources`` / ``vaero_spark.sinks`` — batch + streaming IO,
  exactly-once checkpointed sinks.
- ``vaero_spark.streaming`` — StreamingQuery management, lineage/metrics
  listener, checkpoint/resume.
- ``vaero_spark.testing``   — test fixtures and oracles (the pure-Python
  interpreter of the reference's per-event JSON semantics); no production
  module imports it.
"""

__version__ = "0.1.0"

from vaero_spark.session import get_spark  # noqa: F401
