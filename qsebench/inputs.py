"""Workload inputs: seeded transcript worlds from `qse_spark.testdata`.

The program sees only the files written here. Each workload is a generator
world (turns, vocab_mult) written `replicate` times with distinct `conv_id`
prefixes, so the gold canonical triples scale exactly: `cnt` × replicate.

A change to the generator would silently change every workload, so each run
first regenerates two small pinned worlds and compares their content digests
with the values recorded here (`check_generator`).
"""

from __future__ import annotations

import hashlib
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Why each workload exists is stated in BENCHMARK.json and README.md.
WORKLOADS = {
    "corpus_heavy": {"turns": 10_000, "vocab_mult": 1, "replicate": 12},
    "vocab_heavy": {"turns": 12_000, "vocab_mult": 8, "replicate": 1},
}

GOLD_FILES = ("transcripts", "gold_mentions", "gold_triples_raw",
              "gold_canonical_map", "gold_triples")

# (seed, turns, vocab_mult) -> content digest of the generator's output
# files; see table_digest. Regenerate with `python3 qsebench/inputs.py`.
PINNED = {
    (1, 2000, 1): "e6cb230facf6cb6035453872563db8c665a757d94d9bc4196983c8d8b53e8235",
    (1, 2000, 8): "cf2a03221d5c7ad4f4efedc73e8d8f47c6e070ec1cd58fc61d2d1152abfc8dd4",
}


def table_digest(paths: list[str]) -> str:
    """sha256 over the column values of parquet files, independent of the
    parquet writer's own metadata (library version, page layout)."""
    h = hashlib.sha256()
    for p in paths:
        t = pq.read_table(p)
        h.update(repr(t.schema.names).encode())
        for col in t.columns:
            for chunk in col.chunks:
                h.update(repr(chunk.to_pylist()).encode())
    return h.hexdigest()


def _world(seed: int, turns: int, vocab_mult: int, out_dir: str) -> str:
    from qse_spark.testdata import generate
    return generate(seed=seed, n_turns=turns, vocab_mult=vocab_mult,
                    out_dir=out_dir)


def world_digest(seed: int, turns: int, vocab_mult: int, out_dir: str) -> str:
    d = _world(seed, turns, vocab_mult, out_dir)
    return table_digest([os.path.join(d, f"{f}.parquet") for f in GOLD_FILES])


def check_generator(scratch: str) -> None:
    """Raise if the generator no longer reproduces the pinned worlds."""
    for (seed, turns, vm), want in PINNED.items():
        got = world_digest(seed, turns, vm,
                           os.path.join(scratch, f"pin_{seed}_{turns}_{vm}"))
        if got != want:
            raise RuntimeError(
                f"qse_spark.testdata output changed for seed={seed} "
                f"turns={turns} vocab_mult={vm}: digest {got} != {want}; "
                "the workloads are no longer the recorded ones")


def make_inputs(workload: str, seed: int, out_dir: str) -> dict:
    """Generate the workload's world and write its transcript input.

    Returns paths and sizes: `transcripts` (the program's input directory),
    `gold` (the generator's output directory), `replicate`, `turns`."""
    spec = WORKLOADS[workload]
    t0 = time.time()
    gold = _world(seed, spec["turns"], spec["vocab_mult"],
                  os.path.join(out_dir, "world"))
    src = pq.read_table(os.path.join(gold, "transcripts.parquet"))
    inp = os.path.join(out_dir, "transcripts")
    os.makedirs(inp, exist_ok=True)
    for r in range(spec["replicate"]):
        prefix = pa.array([f"r{r:03d}-"] * len(src), pa.string())
        rep = src.set_column(
            0, "conv_id", pc.binary_join_element_wise(prefix, src["conv_id"],
                                                      ""))
        pq.write_table(rep, os.path.join(inp, f"part-{r:04d}.parquet"),
                       row_group_size=8192)
    return {"transcripts": inp, "gold": gold, "replicate": spec["replicate"],
            "turns": len(src) * spec["replicate"],
            "gen_s": time.time() - t0}


if __name__ == "__main__":
    import sys
    import tempfile
    sys.path.insert(0, os.getcwd())
    with tempfile.TemporaryDirectory(dir=os.getcwd()) as tmp:
        for key in PINNED:
            print(key, world_digest(*key, os.path.join(tmp, repr(key))))
