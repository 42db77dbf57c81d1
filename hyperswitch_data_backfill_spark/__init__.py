"""hyperswitch_data_backfill_spark — a PySpark-native pipeline engine.

A from-scratch, Spark-first re-expression of the capabilities of
``juspay/hyperswitch-data-backfill`` (reference surveyed in SURVEY.md):
a Postgres→Kafka backfill/replay tool whose operator surface is scans,
equality/range filters, counts, grouped aggregates, ordering/pagination,
a broadcast dimension join, per-row transforms (field decryption), and a
per-entity Kafka JSON sink — extended with LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns) designed
for 100 TB scale.

Design stance (see SURVEY.md §7): declarative DataFrame programs all the
way down; Catalyst does predicate pushdown / pruning / join planning; we
only add engine code where Spark has no primitive (per-merchant JDBC
predicate lists, decrypt UDF key distribution, LSH bucket layout).

Sessions come from ``hyperswitch_data_backfill_spark.session``
(``get_spark``, ``prepare_session``). This module imports nothing: the
Python worker daemon (``worker_daemon``) is started as a submodule of
this package and must choose where PySpark comes from before anything
imports it.
"""
