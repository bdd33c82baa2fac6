"""Explicit lifecycle for eager localCheckpoint pins.

Operators pin intermediates that feed many plan branches with
``localCheckpoint(eager=True)``; the blocks are normally released by the
ContextCleaner once the JVM Dataset becomes unreachable. That cleanup is
GC-timing-dependent: py4j drops the JVM reference asynchronously, and a
run that creates several pins can leave persistent RDDs lingering well
past the Python references (round-4 verdict: 5 RDDs after run_pipeline +
30 GC cycles). This module makes ownership explicit instead:

- ``pin(df)``: eager localCheckpoint + record the checkpointed RDD's id in
  the innermost active ``pin_scope`` (no-op recording when none is active,
  preserving the old GC-based behavior for lazy standalone callers).
- ``pin_scope()``: context manager collecting the ids pinned inside it.
- ``release(spark, ids)``: unpersist those RDDs NOW. Only call once every
  consumer of the pinned data is materialized (e.g. the pipeline's stage
  parquet checkpoints are written) — a localCheckpoint's lineage is
  truncated, so an unpersisted pin cannot be recomputed.
- ``release_df(df)``: immediately unpersist one pinned DataFrame (for
  fully-consumed in-function pins, e.g. CC's superseded rounds).

The RDD handle comes from the analyzed plan's LogicalRDD (Dataset.unpersist
only touches the SQL cache manager, never localCheckpoint blocks); release
goes through ``sc.getPersistentRDDs()`` so a doubly-released or
already-GC-cleaned id is a silent no-op.
"""

from __future__ import annotations

import contextlib
import contextvars

from pyspark.sql import DataFrame, SparkSession

_SCOPE: contextvars.ContextVar[list | None] = contextvars.ContextVar(
    "qse_pin_scope", default=None)


def _rdd_id(df: DataFrame) -> int | None:
    try:
        return int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return None  # non-LogicalRDD plan (API drift) -> fall back to GC


def pin(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint, registered with the active pin scope."""
    out = df.localCheckpoint(eager=True)
    scope = _SCOPE.get()
    if scope is not None:
        rid = _rdd_id(out)
        if rid is not None:
            scope.append(rid)
    return out


@contextlib.contextmanager
def pin_scope():
    """Collect the ids of every pin() created inside the block. Scopes
    nest: an inner scope hides the outer one, so an operator that manages
    its own pins does not hand them to the caller twice."""
    ids: list[int] = []
    token = _SCOPE.set(ids)
    try:
        yield ids
    finally:
        _SCOPE.reset(token)


def _unpersist(spark: SparkSession, ids) -> int:
    """Unpersist whichever of `ids` are still persistent RDDs; returns how
    many were. A JVM API drift returns 0 and leaves the blocks to the
    ContextCleaner — the same fallback _rdd_id takes."""
    try:
        pm = spark.sparkContext._jsc.getPersistentRDDs()
        n = 0
        for rid in set(ids):
            jrdd = pm.get(rid)
            if jrdd is not None:
                jrdd.unpersist(False)
                n += 1
        return n
    except Exception:
        return 0


def release(spark: SparkSession, ids: list[int]) -> int:
    """Unpersist the given pinned RDD ids (non-blocking); returns how many
    were still persistent. Safe to call with stale/duplicate ids."""
    if not ids:
        return 0
    n = _unpersist(spark, ids)
    ids.clear()
    return n


def release_df(df: DataFrame) -> None:
    """Unpersist one pin()-ed DataFrame immediately. The DataFrame is
    unusable afterwards (truncated lineage) — only for pins whose every
    consumer has already run."""
    rid = _rdd_id(df)
    if rid is not None:
        _unpersist(df.sparkSession, [rid])
