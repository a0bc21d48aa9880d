"""pyanomalydetector2_spark — a PySpark-native schema + constraint
validation engine for snapshot tables of audio clip + transcript pairs,
with the query/data-processing capabilities of
``toku463ne/pyAnomalyDetector2`` re-expressed as DataFrame operators.

Entry points
------------
- ``constraints.run_suite``   batch suite run, resumable per bucket through
                              the checkpoint ledger (CLI: ``python -m
                              pyanomalydetector2_spark.run_suite``).
- ``streaming.suite_stream``  the same checks as mergeable state, one
                              micro-batch at a time.
- ``pipeline``                the reference's stats-update and
                              detect1→2→3 funnel pipelines.

Layout
------
- ``session``      SparkSession factory (AQE, Arrow, adaptive skew join).
- ``sources``      the parquet-backed snapshot catalog with an
                   Iceberg-shaped API (snapshots, MERGE-style upsert, time
                   travel) that persists violations and verdicts.
- ``operators``    moment stats, window kernels, the detect1/2/3 screens,
                   uniqueness, referential integrity, functional
                   dependencies, distribution drift, KLL sketches,
                   reconcile, dedup, text analysis, and the audio/image
                   codecs behind the row invariants.
- ``constraints``  declarative constraint DSL (+ YAML config) → Column
                   compiler + suite runner emitting pass/fail verdicts and
                   violation rows.
- ``streaming``    the streaming suite, checkpoint ledger and watermark
                   machinery (the re-imagining of the reference's
                   *_updates tables).
- ``datagen``      deterministic synthetic clips (audio+transcript) generator.
- ``plans``        plan-inspection helpers (assert pushdown / no cartesian /
                   no unnecessary shuffles) used by the plan-shape tests.
"""

__version__ = "0.1.0"
