"""scripts/scale.py's kernel registry, run in-process at tiny sizes: every
kernel's timed call must pass its own closed-form check, and a check must
reject a corrupted output."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest

SCALE = Path(__file__).resolve().parents[1] / "scripts" / "scale.py"

TINY = {
    "pipeline": {"n_turns": 2000, "replicate": 2, "vocab_mult": 1},
    "linking": {"n_pairs": 500},
    "cc": {"nodes": 1200, "chain_len": 12},
    "stats": {"n_entities": 1000, "n_classes": 10},
}


@pytest.fixture(scope="module")
def scale():
    spec = importlib.util.spec_from_file_location("scale", SCALE)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def results(spark, scale, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("scale-input"))
    # the pipeline kernel's input sizes the scan split on the session
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    try:
        return {name: scale.measure(spark, name, size, root)
                for name, size in TINY.items()}
    finally:
        spark.conf.set(key, prev)


def test_registry_covers_the_tiny_sizes(scale):
    assert set(scale.KERNELS) == set(TINY)
    for name, k in scale.KERNELS.items():
        assert set(k.sizes) == set(TINY[name])


@pytest.mark.parametrize("name", sorted(TINY))
def test_kernel_passes_its_check(results, scale, name):
    got = results[name]
    assert got["sec"] > 0
    unit = scale.KERNELS[name].unit
    assert got[f"{unit}_per_sec"] > 0
    scale.KERNELS[name].check(got, TINY[name])


def test_pipeline_reports_every_stage(results):
    from qse_spark.pipeline import STAGES

    got = results["pipeline"]
    assert set(got["stages"]) == {name for name, *_ in STAGES}
    assert got["rows"]["shape_stats"] > 0


@pytest.mark.parametrize("name, field", [("pipeline", "sum_cnt"),
                                         ("linking", "true_pairs"),
                                         ("cc", "components"),
                                         ("stats", "knows_support")])
def test_check_rejects_corrupted_output(results, scale, name, field):
    bad = dict(results[name])
    bad[field] -= 1
    with pytest.raises(AssertionError):
        scale.KERNELS[name].check(bad, TINY[name])
