"""End-to-end KG construction pipeline (north-star dataflow):

  transcripts ─ stage 1 ─> distinct triples + cnt (extraction.py, mapInArrow,
              │                                    fused per-batch combine)
              ─ stage 2 ─> entity links           (linking.py, LSH self-join)
              ─ stage 3 ─> canonical map          (cc.py, large/small-star)
              ─ stage 4 ─> canonical triples      (broadcast-join + groupBy)
              ─ stage 5 ─> QSE shape statistics   (stats.py kernel)
              ─ stage 6 ─> pruned shapes          (shapes.py)

Stages 1-5 are defined once, in STAGES; run_pipeline, kg_from_groups (and
through it the streaming incremental path) and bench.py all walk that
table. With a workdir each stage is independently checkpointed +
resumable (checkpoint.py). The canonical-ID dictionary is broadcast (it
is |distinct mentions|-sized, far smaller than the triple table),
matching the north rule's "broadcast hash joins serve the canonical-ID
dictionary".

Stage 1 is the FUSED extraction (extract_triple_groups): the first
checkpoint written is the vocabulary-sized distinct-triple table, never the
occurrence-sized per-turn one — at 10^12 turns materializing ~2x10^12
per-turn triple rows to parquet (and reading them back) would dwarf every
other stage. Per-turn provenance stays available as the lazy,
un-checkpointed `triples` DataFrame run_pipeline returns.
"""

from __future__ import annotations

import functools
import os
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from .constants import TYPE_PREDICATE
from .operators.cc import canonical_map
from .operators.extraction import (extract_triple_groups, extract_triples,
                                   mentions_from_triples)
from .operators.linking import DEFAULT_TOKEN_MAX_DF, linking_edges
from .stats import shape_stats


@dataclass
class PipelineConfig:
    tau: float = 0.55
    bands: int = 12
    rows_per_band: int = 3
    max_block: int = 2000
    # rare-token recall backstop df cap (single source of truth:
    # linking.DEFAULT_TOKEN_MAX_DF)
    token_max_df: int = DEFAULT_TOKEN_MAX_DF
    salt: int = 0                      # conversation-salt partitions (0 = off)
    scorer: str = "jaccard"            # linking verify: 'jaccard' | 'tfidf'
    # NOTE: no type_predicate knob — extraction emits
    # constants.TYPE_PREDICATE and every stage consumes the same constant;
    # a config field the extractor ignores would silently empty the class
    # statistics when overridden (review finding). Non-transcript triple
    # tables with a different type predicate call stats/shapes directly.
    # QSE-Approximate mode (reference entry point 2): per-class capped
    # sampling + sampling-adjusted confidence instead of exact stats
    approx: bool = False
    approx_max_cap: int = 1000
    approx_target_pct: float = 100.0
    approx_seed: int = 100
    approx_bully: bool = False
    # canonical-dictionary broadcast guard (None = always broadcast)
    max_broadcast_rows: int | None = 5_000_000


def group_triples(triples: DataFrame) -> DataFrame:
    """Collapse raw per-turn triples to distinct
    (subject, predicate, object, obj_kind) + cnt multiplicity.

    Not a pipeline stage: stage 1 (extract_triple_groups) fuses this
    aggregation into the extraction pass. Kept as the staged reference
    that tests/test_extraction.py::test_fused_extract_groups_equals_staged
    compares the fused path against."""
    return (triples.groupBy("subject", "predicate", "object", "obj_kind")
            .agg(F.count("*").alias("cnt")))


def canonicalize_triples(triples: DataFrame, cmap: DataFrame,
                         max_broadcast_rows: int | None = 5_000_000
                         ) -> DataFrame:
    """Stage 4 — rewrite subject/object mentions to canonical ids and
    materialize distinct (subject, predicate, object, obj_kind) + cnt.

    The canonical dictionary is broadcast ONLY while it fits: at the
    10^12-turn target "distinct mentions" is plausibly billions of rows,
    where an unconditional broadcast hint is a driver OOM / broadcast
    timeout, not a slow plan (round-3 verdict item 2). Above
    `max_broadcast_rows` the hint is dropped and AQE/Catalyst pick the
    join (shuffled hash / sort-merge, or still broadcast if bytes allow).
    The guard costs one count over the vocabulary-sized dictionary —
    negligible next to the join it protects; pass None to skip the count
    and force the broadcast hint when the size is known-small.

    Class labels / literals miss the dictionary and pass through via
    coalesce (identity mapping). Accepts either raw triples or the
    pre-aggregated output of group_triples (cnt column = multiplicity
    weight); pre-aggregating first keeps the joins vocabulary-sized."""
    w = F.col("cnt") if "cnt" in triples.columns else F.lit(1)
    triples = triples.withColumn("_w", w.cast("long"))
    # guard-count cost note (round-4 review): cmap is consumed lazily up
    # to three times (this count + the two maps). When it is the tail of
    # the CC stage, connected_components has ALREADY eagerly
    # localCheckpointed the edge fixpoint, so each consumption re-runs
    # only canonical_map's vocabulary-sized groupBy+join — never the
    # corpus-sized linking DAG. Materializing cmap here instead (persist /
    # localCheckpoint) pins its blocks past the function's lazy consumers
    # and fails the no-orphaned-cache contract (test_pipeline_leaves_
    # no_cached_rdds); run_pipeline avoids even the tail re-run by
    # passing the checkpoint-parquet-backed dictionary.
    bcast = (max_broadcast_rows is None
             or cmap.count() <= max_broadcast_rows)
    hint = F.broadcast if bcast else (lambda df: df)
    s_map = hint(cmap.select(
        F.col("mention_id").alias("_sm"), F.col("canonical_id").alias("_sc")))
    o_map = hint(cmap.select(
        F.col("mention_id").alias("_om"), F.col("canonical_id").alias("_oc")))
    out = (triples
           .join(s_map, triples["subject"] == s_map["_sm"], "left")
           # rdf:type objects are CLASS LABELS, never mentions — the same
           # rule _normalize_triples and mentions_from_triples apply; a
           # class label colliding with a mention surface form must not
           # be rewritten to a canonical mention id (review finding)
           .join(o_map, (triples["obj_kind"] == "iri")
                 & (triples["predicate"] != TYPE_PREDICATE)
                 & (triples["object"] == o_map["_om"]), "left")
           .select(F.coalesce("_sc", "subject").alias("subject"),
                   F.col("predicate"),
                   F.coalesce("_oc", "object").alias("object"),
                   F.col("obj_kind"), F.col("_w")))
    return (out.groupBy("subject", "predicate", "object", "obj_kind")
            .agg(F.sum("_w").alias("cnt")))


def _links(cfg: PipelineConfig, groups: DataFrame) -> DataFrame:
    return linking_edges(
        mentions_from_triples(groups), tau=cfg.tau, bands=cfg.bands,
        rows=cfg.rows_per_band, max_block=cfg.max_block,
        scorer=cfg.scorer, token_max_df=cfg.token_max_df)


def _shape_stats(cfg: PipelineConfig, canon: DataFrame) -> DataFrame:
    """The ONE approx-vs-exact stats dispatch. The canonical table's cnt
    column feeds the kernel as a multiplicity weight — no re-expansion of
    duplicate triples."""
    if cfg.approx:
        from .operators.sampling import approx_shape_stats
        return approx_shape_stats(
            canon, max_cap=cfg.approx_max_cap,
            target_pct=cfg.approx_target_pct, seed=cfg.approx_seed,
            bully=cfg.approx_bully)
    return shape_stats(canon)


# The stage graph, in run order: (name, input names, consumed
# PipelineConfig fields, build(cfg, *inputs)). An input names an earlier
# stage or "transcripts". Each stage's checkpoint hashes ONLY the fields
# it consumes (plus the upstream hash chain): toggling a last-stage knob
# like approx must not invalidate the corpus-sized extraction checkpoint.
STAGES = (
    ("triple_groups", ("transcripts",), ("salt",),
     lambda cfg, transcripts: extract_triple_groups(transcripts,
                                                    salt=cfg.salt)),
    ("links", ("triple_groups",),
     ("tau", "bands", "rows_per_band", "max_block", "token_max_df",
      "scorer"), _links),
    ("canonical_map", ("links",), (),
     lambda cfg, links: canonical_map(links)),
    ("canonical_triples", ("triple_groups", "canonical_map"),
     ("max_broadcast_rows",),
     lambda cfg, groups, cmap: canonicalize_triples(
         groups, cmap, max_broadcast_rows=cfg.max_broadcast_rows)),
    ("shape_stats", ("canonical_triples",),
     ("approx", "approx_max_cap", "approx_target_pct", "approx_seed",
      "approx_bully"), _shape_stats),
)


def _walk(cfg: PipelineConfig, tables: dict, run=None) -> dict:
    """Build, in STAGES order, every stage not already in `tables`
    (name -> DataFrame), adding it there. `run(name, fields, thunk)`
    wraps each build (the checkpoint layer); without it the thunk is
    just called."""
    for name, inputs, fields, build in STAGES:
        if name not in tables:
            thunk = functools.partial(build, cfg,
                                      *(tables[i] for i in inputs))
            tables[name] = run(name, fields, thunk) if run else thunk()
    return tables


def kg_from_groups(groups: DataFrame,
                   config: PipelineConfig | None = None
                   ) -> dict[str, DataFrame]:
    """The pipeline back half (links -> canonical map -> canonical triples
    -> shape stats) from an ALREADY-AGGREGATED distinct-triple table —
    no checkpointing, no input path. Used by the streaming incremental
    path (streaming/incremental.py), whose compacted micro-batch deltas
    are exactly such a table."""
    tables = _walk(config or PipelineConfig(), {"triple_groups": groups})
    del tables["triple_groups"]
    return tables


def run_pipeline(spark: SparkSession, transcripts_path: str,
                 workdir: str | None = None,
                 config: PipelineConfig | None = None,
                 counters: list | None = None) -> dict[str, DataFrame]:
    """Full run; returns the stage DataFrames plus the lazy per-turn
    `triples`. With a workdir, every stage checkpoints and a rerun
    resumes from the last complete stage."""
    cfg = config or PipelineConfig()
    transcripts = spark.read.parquet(transcripts_path)
    # per-turn provenance handle: lazy by design (consuming it re-runs
    # the Arrow extraction UDF) — stage 1 is fused precisely so no
    # occurrence-sized table is ever checkpointed
    tables = {"triples": extract_triples(transcripts, salt=cfg.salt),
              "transcripts": transcripts}
    if workdir is None:
        # lazy mode: the returned DataFrames still depend on the operator
        # pins (truncated lineage), so releasing here would break them —
        # pins stay GC-lifetime-managed
        out = _walk(cfg, tables)
    else:
        c = asdict(cfg)
        # content fingerprint, not just the path string: input REGENERATED
        # at the same path must invalidate stale checkpoints (round-3
        # review); the code fingerprint at the chain's root does the same
        # for edited stage code
        input_fp = ckpt.input_fingerprint(transcripts_path)
        h = ckpt.code_fingerprint()

        def run(name, fields, thunk):
            nonlocal h
            h = ckpt.config_hash([name, h, {k: c[k] for k in fields},
                                  transcripts_path, input_fp])
            return ckpt.stage(spark, os.path.join(workdir, name), name, h,
                              thunk, counters)

        # every returned stage handle is the parquet read-back from
        # ckpt.stage, so every localCheckpoint pin created inside the
        # stage builds is fully consumed once the walk returns. Release
        # them deterministically instead of waiting on py4j GC — the
        # no-orphaned-cache contract (tests/test_pipeline.py).
        from .pins import pin_scope, release
        with pin_scope() as owned:
            out = _walk(cfg, tables, run)
        release(spark, owned)
    del out["transcripts"]
    return out
