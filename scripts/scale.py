"""Scaling harness: one kernel, timed at several executor counts on
identical input.

    python scripts/scale.py <kernel> [--levels 1,4] [--repeats N] [sizes]

Kernels (KERNELS), each a deterministic input builder, a timed call and
a closed-form check of the timed call's output:

  pipeline  run_pipeline end to end on the seed-42 fixture replicated
            under distinct conv_ids (fresh workdir; per-stage seconds
            from the stage manifests), timed up to the shape_stats
            collect. Check: sum(cnt) of canonical_triples, counted
            after the clock stops, == gold raw triples x replicate.
  linking   link_mentions at tau=0.7 on planted (base, base+"x") alias
            pairs. Check: every planted pair is linked, and accidental
            near-duplicates stay within 0.01%.
  cc        connected_components(driver_threshold=0) — the distributed
            star rounds — on chain graphs. Check: node and component
            counts.
  stats     shape_stats on a typed world of 5 triples per entity.
            Check: row count and the `knows` support/confidence.

Size defaults are the BENCH_SCALING.md rows; `scale.py <kernel> -h`
lists them.

Protocol: level n runs in a fresh child process (its own driver JVM) on
`local-cluster[n,1,<mb>]`, n separate 1-core executor JVMs — the
single-host model of n executors. The input is built once by a
`local[*]` child and cached on tmpfs, keyed by kernel, size and generator
version. Each child warms every Python worker before the clock starts.
The best of --repeats children is kept per level, and the efficiency
(thr_n / thr_lo) / (n / lo) is reported against the lowest level (per
stage too, for the pipeline). Executor heaps come from physical RAM: a
quarter of it split over the highest level's executors, capped at 6144
MB, the same at every level; the driver heap is session.driver_memory().
The full-size defaults have not been run under this sizing: the rows
were recorded with 6144 MB per executor, and a default run on a smaller
host may spill or fail where the rows did not. Results are printed and
written to .scale/<kernel>-<sizes>.json; BENCH_SCALING.md is edited by
hand.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from typing import Callable, NamedTuple

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# pyspark and qse_spark are imported inside the functions: the parent
# process only spawns the children and never starts a JVM

# a hung child (say, an executor that never registers) fails the run
CHILD_TIMEOUT_SEC = 3600
INPUT_ROOT = "/dev/shm/qse-scale-input" if os.path.isdir("/dev/shm") \
    else os.path.join(tempfile.gettempdir(), "qse-scale-input")


class Kernel(NamedTuple):
    sizes: dict[str, int]   # size argument -> default
    unit: str               # what the throughput counts
    work: Callable          # size -> number of units
    build: Callable         # (spark, root, size) -> input path
    run: Callable           # (spark, input path, size, scratch dir) -> dict;
                            # a "sec" key in it replaces the outer clock
    check: Callable         # (run's dict, size) -> None, AssertionError


def _cached(root: str, name: str, write: Callable) -> str:
    """`write(path)` once; later calls reuse the dir it completed."""
    path = os.path.join(root, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write(path)
    return path


def _expect(ok: bool, got) -> None:
    """A check's failure; raised explicitly so `python -O` keeps it."""
    if not ok:
        raise AssertionError(got)


def _tag(size: dict) -> str:
    return "_".join(f"{k}{v}" for k, v in size.items())


# ------------------------------------------------------------- pipeline

def _fixture(size: dict) -> str:
    from qse_spark.testdata import ensure_fixture
    return ensure_fixture(seed=42, n_turns=size["n_turns"],
                          vocab_mult=size["vocab_mult"])


def _pipeline_build(spark, root: str, size: dict) -> str:
    from qse_spark.testdata import replicated_input
    return replicated_input(spark, _fixture(size), size["replicate"], root)


def _pipeline_run(spark, inp: str, size: dict, scratch: str) -> dict:
    from pyspark.sql import functions as F

    from qse_spark.pipeline import PipelineConfig, run_pipeline

    counters: list = []
    t0 = time.monotonic()
    out = run_pipeline(spark, inp, workdir=scratch, counters=counters,
                       config=PipelineConfig(salt=0))
    out["shape_stats"].collect()
    sec = time.monotonic() - t0
    # the check's aggregate is one more job over the checkpointed
    # canonical_triples, so it runs after the clock, as in bench.py
    return {"sec": sec,
            "sum_cnt": out["canonical_triples"].agg(F.sum("cnt"))
            .collect()[0][0],
            "stages": {c["stage"]: c["wall_sec"] for c in counters},
            "rows": {c["stage"]: c["rows"] for c in counters}}


def _pipeline_check(got: dict, size: dict) -> None:
    import pyarrow.parquet as pq

    raw = pq.ParquetFile(os.path.join(_fixture(size),
                                      "gold_triples_raw.parquet"))
    want = raw.metadata.num_rows * size["replicate"]
    _expect(got["sum_cnt"] == want, (got["sum_cnt"], want))


# -------------------------------------------------------------- linking
LINKING_GEN = 2


def _linking_build(spark, root: str, size: dict) -> str:
    from pyspark.sql import functions as F

    n_pairs = size["n_pairs"]

    # base-36 segments of multiplicative scrambles (the first is
    # odd-multiplier bijective mod 2^31, so base strings are unique). The
    # alphabet matters: with 10 symbols there are only 10^3 3-gram
    # shingles and minhash band keys collide structurally (61M candidate
    # pairs for 400K true links); base 36 gives a 46K shingle space, like
    # real mention text
    def seg(col):
        return F.lpad(F.lower(F.conv(col.cast("string"), 10, 36)), 6, "0")

    def write(path):
        s1 = (F.col("id") * F.lit(2654435761)) % F.lit(2 ** 31)
        s2 = (F.col("id") * F.lit(1779033703) + F.lit(12345)) % F.lit(2 ** 31)
        s3 = (s1 + s2) % F.lit(2 ** 31)
        base = spark.range(n_pairs).select(
            F.concat(seg(s1), seg(s2), seg(s3)).alias("mention_id"))
        alias = base.select(
            F.concat(F.col("mention_id"), F.lit("x")).alias("mention_id"))
        (base.unionByName(alias).repartition(32)
         .write.mode("overwrite").parquet(path))

    return _cached(root, f"linking-{_tag(size)}-g{LINKING_GEN}", write)


def _linking_run(spark, inp: str, size: dict, scratch: str) -> dict:
    from pyspark.sql import functions as F

    from qse_spark.operators.linking import link_mentions

    links = link_mentions(spark.read.parquet(inp), tau=0.7)
    got = links.agg(
        F.count("*").alias("links"),
        F.sum((F.col("dst") == F.concat(F.col("src"), F.lit("x")))
              .cast("long")).alias("true_pairs")).collect()[0]
    return got.asDict()


def _linking_check(got: dict, size: dict) -> None:
    # every planted alias is found (J = d/(d+1) ~ 0.95; LSH miss
    # probability (1-J^3)^12 ~ 1e-10); accidental near-duplicates among
    # the scrambles are REAL >= tau pairs the verify must emit, so their
    # bound checks the generator's entropy, not the operator
    n = size["n_pairs"]
    _expect(got["true_pairs"] == n, got)
    _expect(got["links"] - n <= max(4, n // 10_000), got)


# ------------------------------------------------------------------- cc
CC_GEN = 1


def _cc_build(spark, root: str, size: dict) -> str:
    from pyspark.sql import functions as F

    nodes, n_chains = size["nodes"], size["nodes"] // size["chain_len"]

    # chain k = nodes {k, k+C, k+2C, ...}: edge (id, id-C) for id >= C.
    # Chains force several star rounds (a star converges in one), and
    # zero-padded ids make chain k's minimum n<k>
    def write(path):
        (spark.range(n_chains, nodes)
         .select(F.format_string("n%08d", F.col("id")).alias("src"),
                 F.format_string("n%08d", F.col("id") - n_chains)
                 .alias("dst"))
         .write.mode("overwrite").parquet(path))

    return _cached(root, f"cc-{_tag(size)}-g{CC_GEN}", write)


def _cc_run(spark, inp: str, size: dict, scratch: str) -> dict:
    from pyspark.sql import functions as F

    from qse_spark.operators.cc import connected_components

    comp = connected_components(spark.read.parquet(inp), driver_threshold=0)
    return comp.agg(F.count("*").alias("nodes"),
                    F.countDistinct("component").alias("components")
                    ).collect()[0].asDict()


def _cc_check(got: dict, size: dict) -> None:
    _expect(got["nodes"] == size["nodes"], got)
    _expect(got["components"] == size["nodes"] // size["chain_len"], got)


# ---------------------------------------------------------------- stats
STATS_GEN = 1


def _stats_build(spark, root: str, size: dict) -> str:
    from pyspark.sql import functions as F

    n, k = size["n_entities"], size["n_classes"]
    if n % k:
        raise ValueError("the closed form needs n_classes | n_entities")

    # entity i has class i % K, three literal properties with 7/5/2
    # distinct values, and `knows` -> entity (i+1) % N, so class k's
    # knows-objects all have class (k+1) % K
    def write(path):
        e = F.format_string("e%09d", F.col("id"))
        base = spark.range(n)
        cols = [
            ("rdf:type", F.format_string("http://x/C%02d", F.col("id") % k),
             "iri"),
            ("http://x/score", (F.col("id") % 7).cast("string"), "integer"),
            ("http://x/level", (F.col("id") % 5).cast("string"), "integer"),
            ("http://x/flag", (F.col("id") % 2 == 0).cast("string"),
             "boolean"),
            ("http://x/knows",
             F.format_string("e%09d", (F.col("id") + 1) % n), "iri"),
        ]
        parts = [base.select(e.alias("subject"), F.lit(p).alias("predicate"),
                             o.alias("object"), F.lit(kind).alias("obj_kind"))
                 for p, o, kind in cols]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        df.repartition(32).write.mode("overwrite").parquet(path)

    return _cached(root, f"stats-{_tag(size)}-g{STATS_GEN}", write)


def _stats_run(spark, inp: str, size: dict, scratch: str) -> dict:
    from pyspark.sql import functions as F

    from qse_spark.stats import shape_stats

    knows = F.col("property") == "http://x/knows"
    return shape_stats(spark.read.parquet(inp)).agg(
        F.count("*").alias("stats_rows"),
        F.sum(F.when(knows & (F.col("confidence") == 1.0), 1).otherwise(0))
        .alias("knows_full"),
        F.max(F.when(knows, F.col("support"))).alias("knows_support")
    ).collect()[0].asDict()


def _stats_check(got: dict, size: dict) -> None:
    # per class: its type row, score/level (integer), flag (boolean) and
    # knows (one object class, confidence 1.0, support N/K)
    k = size["n_classes"]
    _expect(got["stats_rows"] == 5 * k, got)
    _expect(got["knows_full"] == k, got)
    _expect(got["knows_support"] == size["n_entities"] // k, got)


KERNELS = {
    "pipeline": Kernel(
        {"n_turns": 4_000_000, "replicate": 16, "vocab_mult": 16},
        "turns", lambda s: s["n_turns"] * s["replicate"],
        _pipeline_build, _pipeline_run, _pipeline_check),
    "linking": Kernel(
        {"n_pairs": 2_000_000}, "mentions", lambda s: 2 * s["n_pairs"],
        _linking_build, _linking_run, _linking_check),
    "cc": Kernel(
        {"nodes": 12_000_000, "chain_len": 12}, "edges",
        lambda s: s["nodes"] - s["nodes"] // s["chain_len"],
        _cc_build, _cc_run, _cc_check),
    "stats": Kernel(
        {"n_entities": 8_000_000, "n_classes": 20}, "triples",
        lambda s: 5 * s["n_entities"],
        _stats_build, _stats_run, _stats_check),
}


def measure(spark, name: str, size: dict, root: str = INPUT_ROOT) -> dict:
    """Build (or reuse) the input, warm up, time one kernel call and check
    its output. Returns the call's output plus `sec` and throughput."""
    from qse_spark.session import warm_up

    k = KERNELS[name]
    os.makedirs(root, exist_ok=True)
    inp = k.build(spark, root, size)
    warm_up(spark)
    scratch = tempfile.mkdtemp(prefix="scratch-", dir=root)
    try:
        t0 = time.monotonic()
        got = k.run(spark, inp, size, scratch)
        sec = got.pop("sec", time.monotonic() - t0)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    k.check(got, size)
    return {"sec": round(sec, 3),
            f"{k.unit}_per_sec": round(k.work(size) / sec, 1), **got}


def executor_mb(top_level: int) -> int:
    from qse_spark.session import physical_mb
    return min(6144, physical_mb() // 4 // top_level)


def _child(args, size: dict) -> None:
    from qse_spark.session import get_spark

    n = args.child
    master = (f"local-cluster[{n},1,{args.executor_mb}]" if n
              else f"local[{os.cpu_count()}]")
    spark = get_spark(master=master, app_name=f"scale-{args.kernel}-{n}")
    spark.sparkContext.setLogLevel("ERROR")
    if n:
        print("RESULT", json.dumps({"level": n,
                                    **measure(spark, args.kernel, size)}))
    else:
        KERNELS[args.kernel].build(spark, INPUT_ROOT, size)
    spark.stop()


def _spawn(args, size: dict, level: int, mb: int) -> dict | None:
    cmd = [sys.executable, os.path.abspath(__file__), args.kernel,
           "--child", str(level), "--executor-mb", str(mb),
           *(f"--{k}={v}" for k, v in size.items())]
    try:
        out = subprocess.run(cmd, capture_output=True, text=True,
                             timeout=CHILD_TIMEOUT_SEC)
    except subprocess.TimeoutExpired:
        sys.exit(f"level {level} timed out after {CHILD_TIMEOUT_SEC} s")
    found = [line[len("RESULT "):] for line in out.stdout.splitlines()
             if line.startswith("RESULT ")]
    # level 0 only builds the input and prints no result
    if out.returncode or (level and not found):
        sys.exit(f"level {level} failed (exit {out.returncode}):\n"
                 f"{out.stderr[-4000:]}")
    return json.loads(found[-1]) if found else None


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="kernel", required=True)
    for name, k in KERNELS.items():
        sp = sub.add_parser(name)
        sp.add_argument("--levels", default="1,4",
                        help="executor counts, comma-separated")
        sp.add_argument("--repeats", type=int, default=2)
        for s, default in k.sizes.items():
            sp.add_argument(f"--{s}", type=int, default=default,
                            help="default: %(default)s")
        sp.add_argument("--child", type=int, help=argparse.SUPPRESS)
        sp.add_argument("--executor-mb", type=int, help=argparse.SUPPRESS)
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = _parse(argv)
    size = {s: getattr(args, s) for s in KERNELS[args.kernel].sizes}
    if args.child is not None:
        return _child(args, size)
    levels = sorted(int(x) for x in args.levels.split(","))
    if args.repeats < 1 or levels[0] < 1:
        sys.exit("need --repeats >= 1 and levels >= 1")
    mb = executor_mb(levels[-1])
    _spawn(args, size, 0, mb)
    best = {}
    for n in levels:
        runs = [_spawn(args, size, n, mb) for _ in range(args.repeats)]
        best[n] = min(runs, key=lambda r: r["sec"])
        print(json.dumps(best[n]), flush=True)
    lo = levels[0]
    report = {
        "kernel": args.kernel, "size": size, "repeats": args.repeats,
        "master": f"local-cluster[n,1,{mb}]", "levels": best,
        "efficiency": {n: round(best[lo]["sec"] / best[n]["sec"] / (n / lo),
                                3) for n in levels}}
    if "stages" in best[lo]:
        report["stage_efficiency"] = {
            n: {s: round(t / best[n]["stages"][s] / (n / lo), 3)
                for s, t in best[lo]["stages"].items()} for n in levels}
    os.makedirs(os.path.join(REPO, ".scale"), exist_ok=True)
    path = os.path.join(REPO, ".scale", f"{args.kernel}-{_tag(size)}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report, indent=1))
    print(f"written to {path}")


if __name__ == "__main__":
    main()
