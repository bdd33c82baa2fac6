"""spark-submit entry point for the full KG-construction pipeline.

Runs transcripts -> triple groups -> links -> canonical map -> canonical triples
-> QSE shape stats with per-stage checkpoints in --workdir (resumable: a
rerun with the same config skips completed stages via their manifests).

Submitted by scripts/submit.sh via --py-files; also runnable directly:
  python scripts/run_pipeline.py --input <transcripts.parquet> --workdir w
With no --input, generates the deterministic seed-42 fixture (100k turns)
so the script is self-contained for smoke runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="transcripts parquet (conv_id, turn_idx, role, "
                         "text, tool, ts)")
    ap.add_argument("--workdir", default="/tmp/qse-pipeline-work")
    ap.add_argument("--tau", type=float, default=0.55)
    from qse_spark.operators.linking import DEFAULT_TOKEN_MAX_DF
    ap.add_argument("--token-max-df", type=int,
                    default=DEFAULT_TOKEN_MAX_DF,
                    help="rare-token recall backstop: only tokens in <= "
                         "this many cores form candidate blocks")
    ap.add_argument("--salt", type=int, default=0)
    ap.add_argument("--scorer", choices=["jaccard", "tfidf"],
                    default="jaccard")
    ap.add_argument("--approx", action="store_true",
                    help="QSE-Approximate: sampling-adjusted statistics")
    ap.add_argument("--approx-max-cap", type=int, default=1000)
    ap.add_argument("--approx-target-pct", type=float, default=100.0)
    ap.add_argument("--fixture-turns", type=int, default=100_000)
    ap.add_argument("--triples-out", default=None,
                    help="materialize the canonical triple table here, "
                         "partitioned by predicate (Iceberg when "
                         "QSE_TABLE_FORMAT=iceberg and jars are present, "
                         "parquet directory layout otherwise)")
    ap.add_argument("--output-dir", default=None,
                    help="also write the reference-layout Output/ dir "
                         "(SHACL TTLs, classFrequency.csv, metrics CSV, "
                         "shape-props PSV) here")
    ap.add_argument("--dataset", default="transcripts",
                    help="dataset name used in reference-layout filenames")
    ap.add_argument("--grid", default="0.25:100,0.5:100",
                    help="pruning grid for --output-dir, as C:S[,C:S...]")
    ap.add_argument("--incremental", action="store_true",
                    help="treat --input as a GROWING directory: drain new "
                         "files via Structured Streaming into per-batch "
                         "triple-group deltas under --workdir (exactly-"
                         "once), then build the KG from the merged "
                         "aggregate; re-submitting resumes from the "
                         "stream checkpoint and picks up only new files")
    ap.add_argument("--compact", action="store_true",
                    help="with --incremental: fold the delta store into "
                         "one base partition after the drain")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from qse_spark.pipeline import PipelineConfig, run_pipeline

    spark = SparkSession.builder.getOrCreate()   # conf comes from spark-submit
    spark.sparkContext.setLogLevel("WARN")

    inp = args.input
    if inp is None:
        from qse_spark.testdata import ensure_fixture
        inp = os.path.join(ensure_fixture(seed=42,
                                          n_turns=args.fixture_turns),
                           "transcripts.parquet")

    cfg = PipelineConfig(
        tau=args.tau, salt=args.salt, scorer=args.scorer,
        token_max_df=args.token_max_df,
        approx=args.approx, approx_max_cap=args.approx_max_cap,
        approx_target_pct=args.approx_target_pct)
    counters: list = []
    t0 = time.time()
    if args.incremental:
        from qse_spark.streaming.incremental import incremental_kg
        out = incremental_kg(spark, inp, args.workdir, config=cfg)
    else:
        out = run_pipeline(spark, inp, workdir=args.workdir, config=cfg,
                           counters=counters)
    n = out["shape_stats"].count()
    triples_out = None
    if args.triples_out:
        from qse_spark.sources.tables import write_table

        # predicate is the bounded-cardinality partition key (the north
        # star's "partitioned Iceberg output"); hot predicates like
        # rdf:type simply span more files within their partition
        write_table(out["canonical_triples"], args.triples_out,
                    partition_by=["predicate"])
        triples_out = args.triples_out
    written = None
    if args.output_dir:
        from pyspark.sql import functions as F

        from qse_spark.sinks import write_reference_outputs
        st = out["shape_stats"]
        # every class carries its rdf:type row in stats, so the distinct
        # (class, class_count) projection IS the class-frequency table
        cc = st.select(F.col("class"), F.col("class_count")).distinct()
        grid = [(float(c), int(s)) for c, s in
                (pair.split(":") for pair in args.grid.split(",") if pair)]
        # --approx stats carry sampled supports: prune the reference
        # outputs with the relative-support rule, like the reference's
        # own sampled runs (sinks.write_reference_outputs sampled=True)
        written = write_reference_outputs(st, cc, args.output_dir,
                                          args.dataset, grid=grid,
                                          sampled=args.approx)
    if args.incremental and args.compact:
        # LAST, after every consumer of the lazy delta-backed frames:
        # the rewrite invalidates pre-compaction DataFrame handles
        from qse_spark.streaming.incremental import compact_to_base
        counters.append({"stage": "compact_to_base",
                         "parts_folded": compact_to_base(spark,
                                                         args.workdir)})
    print(json.dumps({"shape_stat_rows": n,
                      "elapsed_sec": round(time.time() - t0, 2),
                      "stages": counters, "outputs": written,
                      "triples_out": triples_out}))
    spark.stop()


if __name__ == "__main__":
    main()
