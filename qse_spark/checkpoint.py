"""Per-stage checkpoint/resume layer (SURVEY §4 item 4; north rule:
"resumable from checkpoint with per-partition lineage + metrics").

Each stage writes its output table plus a `_manifest.json` recording the
stage name, a config hash (covers every upstream parameter, the input
fingerprint and the qse_spark source fingerprint), row count,
per-partition row counts, and wall time. On
restart, a stage whose manifest matches its config hash is loaded from disk
instead of recomputed — a mid-pipeline kill resumes where it left off and
reproduces byte-identical results (tests/test_pipeline.py resume tests).

Storage is parquet directories. Stage checkpoints are deliberately NOT
routed through the format-pluggable `sources.tables.write_table` (which
serves the FINAL partitioned canonical-triples output): a checkpoint's
manifest lives as a plain file inside the stage directory, which requires
a path-addressed store, not an Iceberg table identifier.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


def config_hash(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


@functools.cache
def code_fingerprint() -> str:
    """Hash of the qse_spark package's .py source bytes (and their
    relative paths). It roots every stage's hash chain, so a run after
    an edit to stage code recomputes instead of resuming stale parquet.
    Cached: computed once per process, not on every pipeline run."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for root, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        for fn in sorted(f for f in files if f.endswith(".py")):
            fp = os.path.join(root, fn)
            h.update(os.path.relpath(fp, pkg).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def input_fingerprint(path: str) -> dict:
    """Cheap stable fingerprint of an input file/dir: total data bytes +
    max mtime (+ file count). Hashed into every stage's config so input
    REGENERATED at the same path invalidates stale checkpoints — hashing
    only the path string would silently resume against the old corpus
    (round-3 review finding). Non-local URIs (scheme://) fall back to
    the path string: remote inputs need versioned paths or an
    Iceberg-style snapshot id for invalidation."""
    if "://" in path:
        return {"uri": path}
    if not os.path.exists(path):
        return {"missing": path}
    if os.path.isfile(path):
        st = os.stat(path)
        return {"bytes": st.st_size, "mtime_ns": st.st_mtime_ns}
    total = mtime = n = 0
    for root, dirs, files in os.walk(path):
        # prune hidden/temp DIRECTORIES too: a crashed writer's
        # _temporary/.../part-*.parquet has an ordinary filename, and its
        # later cleanup would change the fingerprint with no data change,
        # recomputing the corpus-sized extraction checkpoint (review
        # finding)
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.startswith(("_", ".")):       # markers, manifests, crc
                continue
            st = os.stat(os.path.join(root, fn))
            total += st.st_size
            mtime = max(mtime, st.st_mtime_ns)
            n += 1
    return {"bytes": total, "mtime_ns": mtime, "files": n}


def _manifest_path(path: str) -> str:
    return os.path.join(path, MANIFEST)


def is_satisfied(path: str, conf_hash: str) -> bool:
    mp = _manifest_path(path)
    if not os.path.exists(mp):
        return False
    try:
        with open(mp) as f:
            m = json.load(f)
        return m.get("config_hash") == conf_hash and m.get("complete") is True
    except (json.JSONDecodeError, OSError):
        return False


def _parquet_part_counts(path: str) -> dict[str, int] | None:
    """Per-part-file row counts read from the parquet FOOTERS — a
    driver-side metadata read (a few KB per file), never a second
    executor scan of the stage output (round-4 verdict: at 100 TB the
    old read-back + groupBy(spark_partition_id) was a full re-read per
    stage per run). Keys are part-file names, i.e. the TRUE written
    partitions — the old read-back counted read-split partitions, which
    depend on maxPartitionBytes, not on what was written. Returns None
    for non-local URIs, and when the walk finds no parquet file (a
    scheme-less path written to a non-local default FS): the caller then
    records only a counted total (remote lineage belongs to the table
    format's own metadata)."""
    if "://" in path and not path.startswith("file:"):
        return None
    local = path[len("file:"):] if path.startswith("file:") else path
    import pyarrow.parquet as pq
    counts: dict[str, int] = {}
    for root, dirs, files in os.walk(local):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in sorted(files):
            if fn.startswith(("_", ".")) or not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            counts[os.path.relpath(fp, local)] = int(
                pq.ParquetFile(fp).metadata.num_rows)
    return counts or None


def write_stage(df: DataFrame, path: str, stage: str, conf_hash: str,
                t0: float | None = None) -> dict:
    """Materialize a stage: parquet + manifest with per-partition counts
    (from footers — the write is the ONLY job this function runs).
    `wall_sec` runs from `t0` (default: now)."""
    t0 = time.time() if t0 is None else t0
    df.write.mode("overwrite").parquet(path)
    part_counts = _parquet_part_counts(path)
    if part_counts is None:          # no footers found: count once
        rows = df.sparkSession.read.parquet(path).count()
        part_counts = {}
    else:
        rows = sum(part_counts.values())
    manifest = {
        "stage": stage,
        "config_hash": conf_hash,
        "rows": int(rows),
        "partition_counts": part_counts,
        "wall_sec": round(time.time() - t0, 3),
        "complete": True,
    }
    with open(_manifest_path(path), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def stage(spark: SparkSession, path: str, name: str, conf_hash: str,
          compute, counters: list | None = None) -> DataFrame:
    """Run-or-resume one stage. `compute` is a thunk returning the
    DataFrame; the manifest's wall_sec includes the thunk, since stage
    builders do eager work (pins, guard counts) before returning."""
    if is_satisfied(path, conf_hash):
        if counters is not None:
            with open(_manifest_path(path)) as f:
                counters.append({**json.load(f), "resumed": True})
        return spark.read.parquet(path)
    t0 = time.time()
    man = write_stage(compute(), path, name, conf_hash, t0)
    if counters is not None:
        counters.append({**man, "resumed": False})
    return spark.read.parquet(path)
