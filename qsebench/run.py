"""Benchmark of the qse_spark KG-construction pipeline.

    python3 qsebench/run.py --workload corpus_heavy --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout. One process drives `local[nproc]`, closed
loop: operations run one after another.

--trace 0  Set-up: generate the workload's inputs from the seed (not timed
           as set-up), start the session, run one cold checkpointed
           `run_pipeline` as warm-up. Then whole rounds of
           [build, build_lazy] until --seconds have passed, each output
           checked against gold. Prints the end-to-end metrics.
--trace 1  Same set-up with Spark's event log on, then one traced build
           and build_lazy, then one call per layer (each under its own job
           group and span, its output written to parquet). Prints the
           per-layer metrics and writes the spans and totals to
           .qsebench_work/trace/<workload>-seed<seed>.json.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. The exit code is 1 when a check fails.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

# Thresholds of the shapes and validation layers (both workloads report
# violations at these), and of the sampling layer.
CONFIDENCE, SUPPORT = 0.25, 10
APPROX_CAP, APPROX_PCT = 1000, 10.0
LAYERS = ("extraction", "linking", "cc", "canonicalize", "stats",
          "sampling", "shapes", "validation")
PIPELINES = ("pipeline", "pipeline_lazy")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(
        inputs.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark process: its inputs, session, gold and tallies."""

    def __init__(self, args, root: str, work: str):
        self.args, self.root, self.work = args, root, work
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    # ------------------------------------------------------------ set-up
    def setup(self):
        gen0 = time.time()
        inputs.check_generator(os.path.join(self.work, "pinned"))
        self.inp = inputs.make_inputs(self.args.workload, self.args.seed,
                                      os.path.join(self.work, "inputs"))
        self.gold = oracle.Gold(self.inp["gold"], self.inp["replicate"])
        self.gen_s = time.time() - gen0

        from qse_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        conf = {"spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
        if self.args.trace:
            self.event_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.event_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark(
            master=f"local[{len(os.sched_getaffinity(0))}]",
            app_name="qsebench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - T_PROCESS - self.gen_s
        self.tracer = tracing.Tracer(self.spark.sparkContext)
        # warm-up: the first pass in a fresh JVM is 2-3x slower than later
        # ones (JIT, code generation, Python workers). Its output is the
        # timed builds' output, which is checked.
        self._build()
        self.setup_s = self.built_at - T_PROCESS - self.gen_s

    def stop(self):
        """Stop the session and wait for the driver JVM to exit."""
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        self.spark = None

    def driver_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in the driver's /proc status")

    # ------------------------------------------------------- operations
    def _op(self, fn):
        """Run one operation; count it, and its failure if it raises."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def _workdir(self, name):
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _build(self, span=contextlib.nullcontext):
        from qse_spark.pipeline import run_pipeline
        wd = self._workdir("build")
        with span():
            t0 = time.time()
            out = run_pipeline(self.spark, self.inp["transcripts"],
                               workdir=wd)
            stats = out["shape_stats"].collect()
            self.built_at = time.time()
        return out, stats, self.built_at - t0

    def build(self, span=contextlib.nullcontext):
        """run_pipeline with a fresh workdir through shape stats. The
        checks run after the timed part, outside `span`."""
        out, stats, dt = self._build(span)
        self.check_build(out, stats)
        return dt

    def build_lazy(self, span=contextlib.nullcontext):
        """run_pipeline with no workdir, collecting shape stats."""
        from qse_spark.pipeline import run_pipeline
        with span():
            t0 = time.time()
            out = run_pipeline(self.spark, self.inp["transcripts"])
            stats = out["shape_stats"].collect()
            dt = time.time() - t0
        self.expect(oracle.check_stats(self._stats(stats), self.gold.stats,
                                       "lazy shape stats"))
        return dt

    # ----------------------------------------------------------- checks
    def expect(self, errs):
        for e in errs:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        self.errors.extend(errs)

    @staticmethod
    def _stats(rows):
        return [tuple(r[c] for c in oracle.STATS_COLS) for r in rows]

    def check_build(self, out, stats_rows):
        from pyspark.sql import functions as F

        def total(df):
            return df.agg(F.sum("cnt")).collect()[0][0]

        canon = out["canonical_triples"]
        self.expect(oracle.check_stats(self._stats(stats_rows),
                                       self.gold.stats))
        self.expect(oracle.check_canonical_triples(
            canon.select("subject", "predicate", "object", "obj_kind",
                         "cnt").collect(), self.gold))
        self.expect(oracle.check_cnt_conserved(
            total(out["triple_groups"]), total(canon), self.gold))
        self.expect(oracle.check_canonical_map(
            out["canonical_map"].select("mention_id", "canonical_id")
            .collect(), self.gold))

    # ------------------------------------------------------------- modes
    def measure(self) -> dict:
        times = {"build_s": [], "build_lazy_s": []}
        t0 = time.time()
        while True:
            for name, fn in (("build_s", self.build),
                             ("build_lazy_s", self.build_lazy)):
                dt = self._op(fn)
                if dt is not None:
                    times[name].append(dt)
            if time.time() - t0 >= self.args.seconds:
                break
        metrics = {k: {"value": statistics.median(v), "unit": "s"}
                   for k, v in times.items() if v}
        metrics["setup_s"] = {"value": self.setup_s, "unit": "s"}
        # a reference figure, not a metric: it does not repeat from run to
        # run (G1 sizes the heap differently each time)
        print(f"driver peak RSS {self.driver_rss_mb():.0f} MB",
              file=sys.stderr)
        return metrics

    def layers(self):
        """One traced build and build_lazy, then one call per layer, each
        output written to parquet as the checkpointed pipeline does."""
        from qse_spark.operators.cc import canonical_map
        from qse_spark.operators.extraction import (extract_triple_groups,
                                                    mentions_from_triples)
        from qse_spark.operators.linking import linking_edges
        from qse_spark.operators.sampling import approx_shape_stats
        from qse_spark.pipeline import PipelineConfig, canonicalize_triples
        from qse_spark.shapes import pruned_shapes, write_ttl
        from qse_spark.stats import shape_stats
        from qse_spark.validation import validation_report

        spark, span, cfg = self.spark, self.tracer.span, PipelineConfig()
        d = self._workdir("layers")

        def save(df, name):
            path = os.path.join(d, name)
            df.write.parquet(path)
            return spark.read.parquet(path)

        def run_layers():
            with span("extraction", "extraction"):
                with span("extract_triple_groups"):
                    groups = save(extract_triple_groups(
                        spark.read.parquet(self.inp["transcripts"]),
                        salt=cfg.salt), "triple_groups")
                with span("mentions_from_triples"):
                    mentions = save(mentions_from_triples(groups),
                                    "mentions")
            with span("linking_edges", "linking"):
                links = save(linking_edges(
                    mentions, tau=cfg.tau, bands=cfg.bands,
                    rows=cfg.rows_per_band, max_block=cfg.max_block,
                    scorer=cfg.scorer, token_max_df=cfg.token_max_df),
                    "links")
            with span("canonical_map", "cc"):
                cmap = save(canonical_map(links), "canonical_map")
            with span("canonicalize_triples", "canonicalize"):
                canon = save(canonicalize_triples(
                    groups, cmap, max_broadcast_rows=cfg.max_broadcast_rows),
                    "canonical_triples")
            with span("shape_stats", "stats"):
                stats = save(shape_stats(canon), "shape_stats")
            with span("approx_shape_stats", "sampling"):
                approx = save(approx_shape_stats(
                    canon, max_cap=APPROX_CAP, target_pct=APPROX_PCT),
                    "approx_stats")
            with span("shapes", "shapes"):
                with span("pruned_shapes"):
                    ns, ps = pruned_shapes(stats, CONFIDENCE, SUPPORT)
                with span("write_ttl"):
                    write_ttl(ns.coalesce(1), ps.coalesce(1),
                              os.path.join(d, "shapes_ttl"))
            with span("validation_report", "validation"):
                report = save(validation_report(canon, CONFIDENCE, SUPPORT,
                                                stats=stats), "validation")
            return {"triple_groups": groups, "canonical_map": cmap,
                    "canonical_triples": canon, "shape_stats": stats,
                    "approx": approx, "validation": report}

        # the traced build and lazy build come first, at the same place in
        # the process as the untraced round, so that traced minus untraced
        # build_s is the tracing overhead
        self._op(lambda: self.build(lambda: span("build", "pipeline")))
        self._op(lambda: self.build_lazy(
            lambda: span("build_lazy", "pipeline_lazy")))
        out = self._op(run_layers)
        if out is not None:
            self.check_layers(out, os.path.join(d, "shapes_ttl"))

    def check_layers(self, out, ttl_dir):
        import glob
        stats = out["shape_stats"].collect()
        self.check_build(out, stats)
        self.expect(oracle.check_validation(
            out["validation"].select("focus", "target_class", "property",
                                     "violation", "obj_type", "cnt")
            .collect(), self.gold.validation(CONFIDENCE, SUPPORT)))
        self.expect(oracle.check_approx(
            out["approx"].select("class", "property", "obj_type", "support",
                                 "class_count", "sampled_class_count")
            .collect(), self.gold.stats, APPROX_CAP, APPROX_PCT))
        ttl = "".join(open(p).read() for p in
                      sorted(glob.glob(os.path.join(ttl_dir, "part-*"))))
        self.expect(oracle.check_shape_classes(ttl, self.gold.stats,
                                               SUPPORT))

    def trace_metrics(self) -> dict:
        rss_mb = self.driver_rss_mb()
        self.stop()
        totals = tracing.group_totals(tracing.read_event_log(self.event_dir),
                                    self.inp["transcripts"])
        metrics = tracing.layer_metrics(self.tracer, totals, LAYERS, PIPELINES,
                                      self.inp["turns"])
        out_dir = os.path.join(self.root, ".qsebench_work", "trace")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{self.args.workload}-seed"
                                     f"{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": self.args.workload,
                       "seed": self.args.seed, "turns": self.inp["turns"],
                       "gen_s": self.gen_s, "setup_s": self.setup_s,
                       "driver_peak_rss_mb": rss_mb,
                       "spans": self.tracer.spans(), "totals": totals,
                       "metrics": metrics}, f, indent=1)
        print(f"trace written to {path}", file=sys.stderr)
        return metrics


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "qse_spark", "pipeline.py")):
        print(f"qsebench: run from the root of a qse_spark checkout "
              f"(no qse_spark/pipeline.py in {root})", file=sys.stderr)
        return 2
    work = os.path.join(root, ".qsebench_work",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # the program, its Python workers and Spark's scratch space all stay
    # inside the checkout
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for var in ("QSE_LOCAL_DIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    run = Run(args, root, work)
    try:
        run.setup()
        print(f"inputs: {run.inp['turns']} turns generated in "
              f"{run.gen_s:.2f} s; set-up {run.setup_s:.2f} s, of which "
              f"session start {run.session_s:.2f} s", file=sys.stderr)
        if args.trace:
            run.layers()
            metrics = run.trace_metrics()
        else:
            metrics = run.measure()
    finally:
        if getattr(run, "spark", None) is not None:
            try:
                run.stop()
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
    correct = not run.errors
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
