"""Stage 3 — connected components via alternating large-star / small-star.

DataFrame-only implementation of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SOCC'14) — the algorithm the north rule names for
canonicalizing the entity-link graph. No GraphFrames dependency.

Each round is two shuffles (groupBy min + re-expand); convergence is the
fixpoint of the (count, hash-sum) pair of the edge multiset. `localCheckpoint`
after every round truncates lineage so the driver-side loop does not build an
unbounded plan (SURVEY §4 item 1). String node ids compare lexicographically,
matching the gold rule canonical = min(mention_id) in component.

Complexity: O(log² n) rounds on pathological graphs, 2-4 rounds on the
short-diameter alias graphs linking produces. At 100 TB the per-round cost is
two hash shuffles over the edge set — AQE coalesces the final tiny rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pins import pin, release_df


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to the neighborhood minimum.

    The map phase emits both orientations (paper's large-star), so the
    input may be directed; duplicates cannot change a min and are deduped
    by small-star's distinct.

    The neighborhood minimum is an unordered window aggregate, not a
    groupBy+self-join: one exchange per star instead of two, and — the
    scaling killer the join form hid — no per-round AQE broadcast of the
    O(V) node->min map. That map grows with the graph, so broadcasting it
    serializes every round on the driver regardless of executor count
    (measured on a 2.75M-edge chain graph, `scripts/scale.py cc`'s
    generator: whole CC 108 s joined/broadcast vs 41 s windowed at 4x1
    executors, 148 s vs 91 s at 1x1).
    """
    from pyspark.sql.window import Window

    sym = edges.unionByName(edges.select(F.col("dst").alias("src"),
                                         F.col("src").alias("dst")))
    m = F.least(F.min("dst").over(Window.partitionBy("src")), F.col("src"))
    return (sym.withColumn("m", m)
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst")))


def _small_star(sym: DataFrame) -> DataFrame:
    """Within the <=-neighborhood, connect everything to its minimum.

    Same windowed-min shape as _large_star; both (dst, m) and (src, m)
    pairs come out of one explode so the window is evaluated once. The
    per-row (src, m) duplicates (the join form emitted one per group)
    are collapsed by the distinct that was already here.
    """
    from pyspark.sql.window import Window

    le = sym.filter(F.col("dst") <= F.col("src"))
    lem = le.withColumn("m", F.min("dst").over(Window.partitionBy("src")))
    pair = F.explode(F.array(
        F.struct(F.col("dst").alias("s"), F.col("m").alias("d")),
        F.struct(F.col("src").alias("s"), F.col("m").alias("d"))))
    out = lem.select(pair.alias("p")).select(F.col("p.s").alias("src"),
                                             F.col("p.d").alias("dst"))
    return out.filter(F.col("src") != F.col("dst")).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor is order-insensitive and overflow-free (ANSI-safe); valid
    # because the per-round edge sets are distinct.
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h")
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_cc(edges: DataFrame) -> DataFrame:
    """Union-find finisher for edge sets that fit on the driver: identical
    output contract (component = min node id), zero iterative Spark jobs.

    The standard hybrid used by production CC implementations: the
    distributed star rounds exist for the scale regime where the edge set
    is itself huge; below `driver_threshold` the O(log n) rounds of 2-job
    shuffles cost more in scheduling latency than the whole problem."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:        # path compression
            parent[x], x = r, parent[x]
        return r

    nodes: set[str] = set()
    for row in edges.collect():
        nodes.add(row["src"])
        nodes.add(row["dst"])
        a, b = find(row["src"]), find(row["dst"])
        if a != b:
            # union by min keeps roots = min id as an invariant
            lo, hi = (a, b) if a < b else (b, a)
            parent[hi] = lo
    pairs = sorted((n, find(n)) for n in nodes)   # roots map to themselves
    # explicit schema: createDataFrame cannot infer one from an empty list
    # (zero link edges is a legal corpus, not an error)
    from pyspark.sql.types import StringType, StructField, StructType
    schema = StructType([StructField("node", StringType()),
                         StructField("component", StringType())])
    return edges.sparkSession.createDataFrame(pairs, schema)


def connected_components(edges: DataFrame, max_iter: int = 50,
                         driver_threshold: int = 500_000) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    Deterministic and permutation-invariant: the result depends only on the
    edge SET. Root nodes map to themselves. Edge sets at or below
    `driver_threshold` finish via driver union-find (same output,
    milliseconds instead of O(log n) shuffle rounds); pass 0 to force the
    distributed star rounds.
    """
    cur = pin(edges.select("src", "dst")
              .filter(F.col("src") != F.col("dst"))
              .distinct())
    prev_fp = _fingerprint(cur)
    if driver_threshold and prev_fp[0] <= driver_threshold:
        # _driver_cc collects; its result is a createDataFrame independent
        # of the pin, so the blocks are releasable right here (this pin
        # was one of the lingering RDDs the no-orphaned-cache test caught)
        out = _driver_cc(cur)
        release_df(cur)
        return out
    # small graphs: shrink to a few partitions so each of the O(log n)
    # rounds costs milliseconds instead of a 2x-shuffle-partitions task storm
    npart = max(1, min(cur.sparkSession.sparkContext.defaultParallelism,
                       prev_fp[0] // 100_000 + 1))
    prev_fp = None
    for _ in range(max_iter):
        prev = cur
        cur = pin(_small_star(_large_star(cur)).coalesce(npart))
        # the new round is materialized, so the superseded round's blocks
        # have no remaining consumer — release them NOW instead of letting
        # them pile up for the ContextCleaner (O(log n) pins per CC call)
        release_df(prev)
        fp = _fingerprint(cur)
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # converged: edges are (node -> root) stars
    stars = cur.select(F.col("src").alias("node"),
                       F.col("dst").alias("component"))
    # nodes that were only ever roots (or isolated after symmetrize) map to self
    roots = (stars.select(F.col("component").alias("node"))
             .distinct()
             .join(stars.select("node"), "node", "left_anti")
             .withColumn("component", F.col("node")))
    return stars.unionByName(roots)


def canonical_map(edges: DataFrame, node_filter=None,
                  driver_threshold: int = 500_000) -> DataFrame:
    """links -> (mention_id, canonical_id).

    The linking stage namespaces synthetic core nodes with a '\\x7f' prefix;
    they participate in CC but are dropped here, and the canonical id is the
    minimum REAL mention id of the component (gold rule; idempotent:
    canon(canon(x)) == canon(x)). `driver_threshold` passes through to
    connected_components (0 forces the distributed star rounds — the
    bench-scaling knob).
    """
    comp = connected_components(edges, driver_threshold=driver_threshold)
    real = comp.filter(~F.col("node").startswith("\x7f"))
    rep = (real.groupBy("component")
           .agg(F.min("node").alias("canonical_id")))
    return (real.join(rep, "component")
            .select(F.col("node").alias("mention_id"), "canonical_id"))
