"""Streaming data-quality quarantine (dead-letter routing).

The reference runs its Great-Expectations suite as a BATCH DAG after
load (airflow/dags/data_validation_dag.py:297-328) — bad rows land in
the table first and are found later. This module moves the same
declarative rules (operators/quality.rules_from_config shape) into the
streaming ingest path: every micro-batch is split row-wise into clean
rows → the target table and violating rows → a quarantine table, each
violating row annotated with WHICH expectations it failed. Both legs
are transactional txn tables with the txn-append replay guard, so the
split is exactly-once end-to-end:

- per-table guards: each table independently skips a batch id it has
  already committed, so a crash BETWEEN the two commits replays the
  batch and re-commits only the missing leg — same idempotent-replay
  argument as streaming/dedup.py's corpus-then-index ordering;
- the violation tagging is a pure projection (one ``filter`` over an
  array of (name, failed) structs — no UDF, no shuffle), so the split
  adds zero exchanges to the micro-batch plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.txnlog import TxnTable, _stream_meta
from .pipeline import _start_foreach_batch


def violations_col(rules: list[tuple[str, str]]):
    """Array<string> of the rule names the row violates — pure
    projection over (name, predicate) pairs in the shared Spark/DuckDB
    SQL subset (same rule shape as operators/quality.run_suite)."""
    structs = [
        F.struct(F.lit(name).alias("name"),
                 F.expr(f"CASE WHEN {pred} THEN true ELSE false END")
                 .alias("failed"))
        for name, pred in rules
    ]
    arr = F.array(*structs)
    return F.transform(F.filter(arr, lambda x: x["failed"]),
                       lambda x: x["name"])


def split_quarantine(df: DataFrame, rules: list[tuple[str, str]]
                     ) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined): quarantined carries a ``violations``
    array column naming every failed expectation; clean rows drop it."""
    tagged = df.withColumn("violations", violations_col(rules))
    clean = tagged.filter(F.size("violations") == 0).drop("violations")
    bad = tagged.filter(F.size("violations") > 0)
    return clean, bad


def _append_legs(batch_id: int, app_id: str | None, op: str,
                 legs) -> None:
    """Append each ``(path, frame)`` leg of one routed batch in order.
    ``TxnTable.append`` skips a leg whose table already committed the
    batch, so a replay re-commits only the missing leg."""
    for path, frame in legs:
        table = TxnTable(path)
        table.append(frame, _stream_meta(batch_id, app_id, op))
        table.checkpoint_if_needed()


def write_stream_quarantine(df: DataFrame, rules: list[tuple[str, str]],
                            target: str, quarantine: str, checkpoint: str,
                            app_id: str | None = None,
                            available_now: bool = True):
    """Exactly-once streaming ingest with row-level quality routing:
    clean rows append to ``target``, violating rows (tagged with their
    failed expectations, serialized to a CSV string for a stable
    parquet schema) append to ``quarantine``. Each leg is one atomic
    txn commit guarded by (app_id, batch_id) — replay after any crash
    re-commits only the leg that is missing."""

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            clean, bad = split_quarantine(batch_df, rules)
            _append_legs(batch_id, app_id, "stream_quarantine_append", (
                (target, clean),
                (quarantine, bad.withColumn(
                    "violations", F.array_join("violations", ",")))))
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(df, _route, checkpoint, available_now)


# --- decontamination at ingest (r11): the eval-overlap gate ---------------


def contamination_hits(batch_docs: DataFrame, eval_hashes: DataFrame,
                       min_shared: int = 2) -> DataFrame:
    """(doc_id, eval_id, n_shared) for batch documents sharing at
    least ``min_shared`` distinct word shingles with an eval document
    — the plans/textops.eval_contamination rule applied to ONE batch:
    shingle the batch (O(batch)), equi-join the broadcast eval hash
    set, one (doc, eval) rollup. ``eval_hashes`` is a materialized
    (doc_id, h) artifact (operators/dedup.word_shingle_hashes over the
    benchmark set) — fixed and tiny, the FAISS-centroid discipline:
    frozen at sink construction, broadcast per batch."""
    from ..operators import dedup as DD

    sh = DD.word_shingle_hashes(batch_docs)
    ev = eval_hashes.select(F.col("doc_id").alias("eval_id"), "h")
    return (sh.join(F.broadcast(ev), "h")
            .groupBy("doc_id", "eval_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def write_stream_decontaminate(df: DataFrame, eval_hashes: DataFrame,
                               target: str, quarantine: str,
                               checkpoint: str,
                               app_id: str | None = None,
                               min_shared: int = 2,
                               available_now: bool = True):
    """Decontamination AT INGEST: instead of sweeping the corpus after
    the fact (plans/textops.eval_contamination), every arriving batch
    is checked against the frozen eval shingle set and contaminated
    documents are dead-lettered — clean rows append to ``target``,
    flagged rows to ``quarantine`` annotated with their worst hit
    (eval_id, n_shared). Same two replay-guarded legs as the quality
    quarantine sink, so routing is exactly-once across restarts; the
    admitted corpus is contamination-free BY CONSTRUCTION at every
    point in time, which is the production property (a post-hoc sweep
    leaves a window where training reads tainted docs)."""

    def _route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            hits = contamination_hits(batch_df, eval_hashes,
                                      min_shared)
            worst = (hits.groupBy("doc_id")
                     .agg(F.max(F.struct("n_shared", "eval_id"))
                          .alias("w"))
                     .select("doc_id",
                             F.col("w.eval_id").alias("eval_id"),
                             F.col("w.n_shared").alias("n_shared")))
            tagged = batch_df.join(F.broadcast(worst), "doc_id",
                                   "left")
            clean = (tagged.filter(F.col("n_shared").isNull())
                     .drop("eval_id", "n_shared"))
            bad = tagged.filter(F.col("n_shared").isNotNull())
            _append_legs(batch_id, app_id, "stream_decontaminate_append",
                         ((target, clean), (quarantine, bad)))
        finally:
            batch_df.unpersist()

    return _start_foreach_batch(df, _route, checkpoint, available_now)
