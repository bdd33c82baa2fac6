"""Continuous transcript ingestion -> incremental KG construction.

The batch pipeline's stage-1 aggregate (distinct raw triples + cnt,
extraction.extract_triple_groups) is a commutative monoid: aggregates of
disjoint turn sets merge by key-summed cnt. That makes the incremental
plan a textbook Structured Streaming shape:

  readStream(transcripts dir) --maxFilesPerTrigger--> micro-batches
    foreachBatch: fused Arrow extraction + per-batch combine
                  -> append ONE vocabulary-sized parquet delta per batch
  compaction = groupBy-sum over the delta partitions at read
  back half  = pipeline.kg_from_groups(compacted aggregate)

Exactly-once: each delta is written to its own `batch=<id>` directory
with mode("overwrite"), and batch ids come from the stream's checkpoint
— a crashed-and-restarted query replays the same batch id into the same
directory (idempotent), and a finished query never re-reads consumed
files. Restarting with a DELETED stream checkpoint is NOT supported on
a used workdir (batch boundaries may regroup and stale deltas would
double-count) — start a fresh workdir instead.

At 10^12 turns the deltas stay vocabulary-sized per batch (the Arrow
channel already carries per-batch aggregates, extraction.py), so the
store grows with batches x vocabulary, not with turns; compaction cost
is one shuffle over the delta store, and a periodic compact_to_base
rewrite bounds it (on Iceberg, sources.tables.merge_into_groups is the
row-level equivalent — MERGE INTO with snapshot-isolated atomic commit,
equivalence asserted in tests/test_iceberg.py when the runtime jar is
present).

No reference counterpart (QSE is single-pass batch); required by the
north star's continuous-ingestion reading of "resumes mid-pipeline".
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extraction import (GROUP_SCHEMA, _GROUP_KEYS,
                                    extract_triple_groups)
from ..pipeline import PipelineConfig, kg_from_groups
from .extract import TRANSCRIPT_DDL


# Deterministic publish-staging names: compact_to_base is single-writer
# by contract (see its docstring), and fixed names are what lets
# _recover_store identify and finish an interrupted publish.
_STAGE = "_compact_stage"
_OLD = "_compact_old"


def _recover_store(workdir: str) -> None:
    """Finish an interrupted compact_to_base publish before touching the
    store. The publish is two renames (delta->old, staged->delta); a
    crash between them leaves the store only at `old` — without this
    roll-forward, later reads would silently see an EMPTY store while
    the stream checkpoint says everything was consumed (total silent
    data loss). The staged store is complete whenever it exists next to
    a missing `delta`: rename #1 runs only after the staged write
    returns. Crash cases:
      during staged write .. delta intact -> drop the stale stage
      between renames ...... roll forward (staged -> delta), drop old
      after rename #2 ...... delta intact -> drop the leftover old"""
    import shutil

    delta = os.path.join(workdir, "delta")
    staged = os.path.join(workdir, _STAGE)
    old = os.path.join(workdir, _OLD)
    if not os.path.isdir(delta) and os.path.isdir(old):
        if os.path.isdir(staged):
            os.rename(staged, delta)
        else:
            os.rename(old, delta)
    if os.path.isdir(delta):
        for stale in (staged, old):
            if os.path.isdir(stale):
                shutil.rmtree(stale)


def ingest_transcripts(spark: SparkSession, in_path: str, workdir: str,
                       salt: int = 0, max_files: int = 4) -> str:
    """Drain all currently-available transcript files into per-batch
    triple-group deltas under `workdir`; returns the delta root.

    Trigger.AvailableNow processes everything visible (in
    maxFilesPerTrigger-sized batches) and stops — call again after new
    files arrive, or swap the trigger for a processingTime one to run
    continuously; the stream checkpoint makes either mode resume where
    it left off."""
    _recover_store(workdir)
    delta = os.path.join(workdir, "delta")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (extract_triple_groups(batch_df, salt=salt)
         .write.mode("overwrite")
         .parquet(os.path.join(delta, f"batch={batch_id}")))

    q = (spark.readStream.schema(TRANSCRIPT_DDL)
         .option("maxFilesPerTrigger", max_files)
         .parquet(in_path)
         .writeStream.foreachBatch(_sink)
         .option("checkpointLocation",
                 os.path.join(workdir, "_stream_checkpoint"))
         .trigger(availableNow=True)
         .queryName("qse_incremental_" + uuid.uuid4().hex[:8])
         .start())
    q.awaitTermination()
    return delta


def compact_groups(spark: SparkSession, workdir: str) -> DataFrame:
    """The merged distinct-triple aggregate over every ingested delta —
    identical (row set and cnt) to extract_triple_groups over the whole
    corpus in one batch (monoid merge; equality pytest-asserted)."""
    _recover_store(workdir)
    delta = os.path.join(workdir, "delta")
    if not os.path.isdir(delta) or not any(
            e.startswith("batch=") for e in os.listdir(delta)):
        return spark.createDataFrame([], GROUP_SCHEMA)
    return (spark.read.parquet(delta)
            .groupBy(*_GROUP_KEYS)
            .agg(F.sum("cnt").alias("cnt")))


def compact_to_base(spark: SparkSession, workdir: str) -> int:
    """Rewrite the delta store as ONE merged base partition (`batch=-1`,
    partition-style so Spark's partition discovery stays consistent with
    later batch deltas), bounding store growth: the merged aggregate is
    written to a staging directory (never in place), then published by
    two renames (delta->old, staged->delta). No single rename is a true
    atomic swap, so every store entry point first runs _recover_store,
    which rolls a publish interrupted between the renames FORWARD (the
    staged store is complete by then) — a crash anywhere leaves either
    the old store or the fully-compacted one, never an empty path.
    Deltas drained AFTER the
    rewrite keep merging on top (the base folds into compact_groups'
    groupBy-sum like any other partition). Returns the number of
    partitions folded.

    Call ONLY right after a clean ingest_transcripts return (its
    awaitTermination guarantees every written delta is committed to the
    stream checkpoint). Compacting a store whose LAST delta was written
    but not committed would double-count that batch when the stream
    replays it. Where Iceberg is available, MERGE INTO replaces this
    whole function.

    DataFrames handed out BEFORE the rewrite (compact_groups /
    incremental_kg results) are lazy over the old partition paths and
    are invalidated by it — re-call compact_groups afterwards, exactly
    like re-reading any dropped-and-rewritten table."""
    import shutil

    _recover_store(workdir)
    delta = os.path.join(workdir, "delta")
    parts = ([e for e in os.listdir(delta) if e.startswith("batch=")]
             if os.path.isdir(delta) else [])
    if not parts:
        return 0
    staged = os.path.join(workdir, _STAGE)
    (compact_groups(spark, workdir)
     .write.mode("overwrite")
     .parquet(os.path.join(staged, "batch=-1")))
    old = os.path.join(workdir, _OLD)
    os.rename(delta, old)
    os.rename(staged, delta)
    shutil.rmtree(old)
    return len(parts)


def incremental_kg(spark: SparkSession, in_path: str, workdir: str,
                   config: PipelineConfig | None = None,
                   max_files: int = 4) -> dict[str, DataFrame]:
    """Ingest whatever is new, then rebuild the KG views from the merged
    aggregate: {triple_groups, links, canonical_map, canonical_triples,
    shape_stats}. Linking/CC re-run over the (vocabulary-sized) merged
    aggregate because entity linking is global — a new alias can merge
    two previously distinct canonical entities, which no per-batch
    incremental join can express."""
    cfg = config or PipelineConfig()
    ingest_transcripts(spark, in_path, workdir, salt=cfg.salt,
                       max_files=max_files)
    groups = compact_groups(spark, workdir)
    return {"triple_groups": groups, **kg_from_groups(groups, cfg)}
