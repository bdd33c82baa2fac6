"""End-to-end pipeline: oracle equality, triple P/R >= 0.95 (the BASELINE
acceptance metric), resumability (byte-identical after mid-pipeline kill)."""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from conftest import assert_frames_match

from qse_spark.oracles import shape_stats_sql
from qse_spark.pipeline import PipelineConfig, run_pipeline
from qse_spark.shapes import precision_recall


@pytest.fixture(scope="module")
def pipe(spark, fixture_dir, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pipe"))
    counters = []
    out = run_pipeline(spark, f"{fixture_dir}/transcripts.parquet",
                       workdir=wd, counters=counters)
    return out, wd, counters


def test_e2e_stats_equal_oracle(spark, fixture_dir, pipe):
    out, _, _ = pipe
    got = out["shape_stats"].toPandas()
    exp = duckdb.sql(shape_stats_sql(
        f"read_parquet('{fixture_dir}/gold_triples.parquet')",
        weighted=True)).df()
    assert_frames_match(got, exp)


def test_triple_precision_recall(spark, fixture_dir, pipe):
    out, _, _ = pipe
    gold = spark.read.parquet(f"{fixture_dir}/gold_triples.parquet") \
        .select("subject", "predicate", "object")
    got = out["canonical_triples"].select("subject", "predicate", "object")
    pr = precision_recall(gold, got)
    assert pr["precision"] >= 0.95 and pr["recall"] >= 0.95
    # on the deterministic fixture linking is exact:
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0


def test_resume_is_identical_and_skips(spark, fixture_dir, pipe):
    out, wd, _ = pipe
    counters = []
    out2 = run_pipeline(spark, f"{fixture_dir}/transcripts.parquet",
                        workdir=wd, counters=counters)
    assert all(c["resumed"] for c in counters)
    assert sorted(map(tuple, out["shape_stats"].collect())) == \
        sorted(map(tuple, out2["shape_stats"].collect()))


def test_resume_after_mid_pipeline_kill(spark, fixture_dir, pipe):
    """Simulate a kill after stage 2: wipe downstream stage dirs, re-run,
    upstream stages resume and the final output is identical."""
    out, wd, _ = pipe
    before = sorted(map(tuple, out["canonical_triples"].collect()))
    for stage in ["canonical_map", "canonical_triples", "shape_stats"]:
        shutil.rmtree(f"{wd}/{stage}", ignore_errors=True)
    counters = []
    out2 = run_pipeline(spark, f"{fixture_dir}/transcripts.parquet",
                        workdir=wd, counters=counters)
    resumed = {c["stage"]: c["resumed"] for c in counters}
    assert resumed["triple_groups"] and resumed["links"]
    assert not resumed["canonical_map"]
    assert sorted(map(tuple, out2["canonical_triples"].collect())) == before


def test_pipeline_leaves_no_cached_rdds(spark, fixture_dir, tmp_path):
    """Operator-internal caches must not outlive the pipeline run: all
    vocabulary-sized intermediates are eager localCheckpoints whose blocks
    the ContextCleaner releases once unreferenced (the round-3 verdict
    found a pre-coalesce persist handle in linking_edges pinned until
    session end). Assert the persistent-RDD count drains back to the
    pre-run level after dropping the result and forcing GC."""
    import gc
    import time

    def n_persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # drain anything earlier tests left unreferenced, then snapshot
    for _ in range(30):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        before = n_persistent()
        if before == 0:
            break
    out = run_pipeline(spark, f"{fixture_dir}/transcripts.parquet",
                       workdir=str(tmp_path / "wd"))
    out["shape_stats"].count()
    del out
    for _ in range(30):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if n_persistent() <= before:
            break
        time.sleep(1)
    assert n_persistent() <= before, \
        f"{n_persistent()} persistent RDDs linger (pre-run: {before})"


def test_input_regeneration_invalidates(spark, fixture_dir, tmp_path):
    """Regenerating the corpus AT THE SAME PATH must invalidate every
    checkpoint: the stage hash covers the input's content fingerprint
    (bytes + mtime), not just the path string (round-3 review finding —
    hashing only the path silently resumed against the old corpus)."""
    import os
    src = f"{fixture_dir}/transcripts.parquet"
    dst = str(tmp_path / "transcripts.parquet")
    shutil.copy(src, dst)
    wd = str(tmp_path / "wd")
    run_pipeline(spark, dst, workdir=wd)
    # same content, same mtime -> full resume
    counters = []
    run_pipeline(spark, dst, workdir=wd, counters=counters)
    assert all(c["resumed"] for c in counters)
    # "regenerate" the input in place (content-identical, new mtime):
    # every stage must recompute
    os.utime(dst, None)
    counters = []
    run_pipeline(spark, dst, workdir=wd, counters=counters)
    assert not any(c["resumed"] for c in counters)


def test_config_change_invalidates(spark, fixture_dir, pipe):
    _, wd, _ = pipe
    counters = []
    run_pipeline(spark, f"{fixture_dir}/transcripts.parquet", workdir=wd,
                 config=PipelineConfig(tau=0.60), counters=counters)
    # tau feeds the links stage hash -> links and everything downstream rerun
    resumed = {c["stage"]: c["resumed"] for c in counters}
    assert not resumed["links"]


def test_pipeline_approx_mode(spark, fixture_dir, tmp_path):
    """PipelineConfig(approx=True) runs the QSE-Approximate entry point:
    the final stage equals approx_shape_stats over the same canonical
    triples, and its config hash differs from exact mode (no stale-stage
    reuse across modes)."""
    from qse_spark.operators.sampling import approx_shape_stats
    from qse_spark.pipeline import PipelineConfig, run_pipeline
    cfg = PipelineConfig(approx=True, approx_max_cap=50,
                         approx_target_pct=80.0, approx_seed=100,
                         approx_bully=False)
    out = run_pipeline(spark, f"{fixture_dir}/transcripts.parquet",
                       workdir=str(tmp_path / "w"), config=cfg)
    direct = approx_shape_stats(out["canonical_triples"], max_cap=50,
                                target_pct=80.0, seed=100, bully=False)
    got = sorted(map(tuple, out["shape_stats"].collect()))
    exp = sorted(map(tuple, direct.collect()))
    assert got == exp
    assert "sampled_class_count" in out["shape_stats"].columns


def test_approx_toggle_resumes_upstream_stages(spark, fixture_dir, tmp_path):
    """Stage hashes cover only the config fields each stage consumes, so
    flipping approx recomputes shape_stats but resumes extraction/
    linking/CC from the exact run's checkpoints."""
    from qse_spark.pipeline import PipelineConfig, run_pipeline
    wd = str(tmp_path / "w")
    run_pipeline(spark, f"{fixture_dir}/transcripts.parquet", workdir=wd,
                 config=PipelineConfig())
    counters = []
    run_pipeline(spark, f"{fixture_dir}/transcripts.parquet", workdir=wd,
                 config=PipelineConfig(approx=True, approx_max_cap=50),
                 counters=counters)
    resumed = {s["stage"]: s["resumed"] for s in counters}
    assert resumed == {"triple_groups": True,
                       "links": True, "canonical_map": True,
                       "canonical_triples": True, "shape_stats": False}


def test_first_checkpoint_is_fused_triple_groups(spark, fixture_dir, pipe):
    """The first checkpoint is the vocabulary-sized fused aggregate — no
    per-turn triple stage on disk — while the returned per-turn
    provenance handle still carries per-turn rows."""
    _, wd, _ = pipe
    assert "triple_groups" in os.listdir(wd)
    assert "triples" not in os.listdir(wd)
    # fresh handles via resume: earlier tests in this module overwrite
    # stage dirs in wd, which invalidates the fixture's DataFrames
    # (their file indexes pin the old part files)
    out = run_pipeline(spark, f"{fixture_dir}/transcripts.parquet",
                       workdir=wd)
    assert {"conv_id", "turn_idx"} <= set(out["triples"].columns)


def test_code_change_invalidates(spark, fixture_dir, pipe, monkeypatch):
    """The qse_spark source fingerprint roots the stage hash chain: a run
    after a code edit on a completed workdir resumes no stage."""
    from qse_spark import checkpoint as ckpt

    _, wd, _ = pipe
    monkeypatch.setattr(ckpt, "code_fingerprint", lambda: "edited")
    counters = []
    run_pipeline(spark, f"{fixture_dir}/transcripts.parquet", workdir=wd,
                 counters=counters)
    assert len(counters) == 5 and not any(c["resumed"] for c in counters)


def test_code_fingerprint_tracks_source_bytes(tmp_path, monkeypatch):
    """code_fingerprint changes with any .py byte of the package and with
    nothing else; the pipeline pays for it once per process."""
    from qse_spark import checkpoint as ckpt

    assert ckpt.code_fingerprint() == ckpt.code_fingerprint()
    assert ckpt.code_fingerprint.cache_info().misses == 1
    (tmp_path / "sub").mkdir()
    src = tmp_path / "sub" / "stage.py"
    src.write_text("x = 1\n")
    monkeypatch.setattr(ckpt, "__file__", str(tmp_path / "checkpoint.py"))
    uncached = ckpt.code_fingerprint.__wrapped__
    before = uncached()
    (tmp_path / "notes.txt").write_text("not code")
    assert uncached() == before
    src.write_text("x = 2\n")
    assert uncached() != before


def test_vocab_scaled_world_links_exactly(spark, tmp_path):
    """The vocab_mult>1 shared-pool world (3-word cores, pairwise <=1
    shared word) must keep the linking margins: cross-core similarity
    stays under tau while alias variants still link, so the pipeline is
    EXACT on the deterministic fixture even in the bench-scaling world."""
    from qse_spark.testdata import ensure_fixture
    fx = ensure_fixture(seed=44, n_turns=2000, vocab_mult=4)
    out = run_pipeline(spark, f"{fx}/transcripts.parquet")
    got = out["canonical_triples"].select("subject", "predicate", "object")
    gold = (spark.read.parquet(f"{fx}/gold_triples.parquet")
            .select("subject", "predicate", "object"))
    pr = precision_recall(gold, got)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0

def test_ensure_fixture_caches_both_worlds(tmp_path, monkeypatch):
    """ensure_fixture must be a real cache: a second call returns the same
    directory WITHOUT rewriting it. Regression for the shadowed `m` in
    generate() (loop variables at testdata.py:400/406 leaked into the
    meta version gate, writing version 5 for vocab_mult=1 worlds so every
    ensure_fixture call regenerated — which also broke checkpoint resume,
    because the input mtime fingerprint changed on every run)."""
    import qse_spark.testdata as td
    monkeypatch.setattr(td, "FIXTURE_ROOT", str(tmp_path))
    for kw in ({"seed": 7, "n_turns": 200},
               {"seed": 7, "n_turns": 200, "vocab_mult": 2}):
        fx = td.ensure_fixture(**kw)
        mt = os.stat(os.path.join(fx, "transcripts.parquet")).st_mtime_ns
        assert td.ensure_fixture(**kw) == fx
        assert os.stat(
            os.path.join(fx, "transcripts.parquet")).st_mtime_ns == mt


def test_write_stage_reads_only_footers(spark, tmp_path, monkeypatch):
    """write_stage's per-partition lineage comes from the parquet FOOTERS:
    the stage write must be the only Spark job it runs — the old
    read-back + groupBy(spark_partition_id) was a second full scan of
    every stage output per run (round-4 verdict item 6). Patching the
    reader to raise proves zero re-read; footer counts must still give
    exact per-written-file lineage."""
    from pyspark.sql.readwriter import DataFrameReader

    from qse_spark import checkpoint as ckpt

    df = spark.range(1000).selectExpr("id", "id % 7 as k").repartition(3)

    def _no_read(self, *a, **k):
        raise AssertionError("write_stage must not re-read its output")

    monkeypatch.setattr(DataFrameReader, "parquet", _no_read)
    man = ckpt.write_stage(df, str(tmp_path / "st"), "st", "h")
    assert man["rows"] == 1000
    pc = man["partition_counts"]
    assert sum(pc.values()) == 1000 and len(pc) == 3
    assert all(k.endswith(".parquet") for k in pc)


def test_fingerprint_ignores_hidden_and_temp_dirs(tmp_path):
    """A crashed writer's _temporary/.../part-*.parquet (ordinary
    filename, hidden DIRECTORY) must not perturb the input fingerprint:
    its later cleanup would invalidate every checkpoint with no data
    change (review finding — only file NAMES were filtered)."""
    from qse_spark.checkpoint import input_fingerprint

    d = tmp_path / "in"
    (d / "sub").mkdir(parents=True)
    (d / "part-00000.parquet").write_bytes(b"data")
    (d / "sub" / "part-00001.parquet").write_bytes(b"more")
    clean = input_fingerprint(str(d))

    tmp = d / "_temporary" / "0" / "task_1"
    tmp.mkdir(parents=True)
    (tmp / "part-00001.parquet").write_bytes(b"leftover")
    (d / ".hidden_dir").mkdir()
    (d / ".hidden_dir" / "junk.parquet").write_bytes(b"x")
    assert input_fingerprint(str(d)) == clean
    assert clean["files"] == 2


def test_stage_wall_time_covers_compute(spark, tmp_path):
    """A stage builder's eager work before it returns its DataFrame (pins,
    guard counts) is part of the stage: the manifest's wall_sec covers
    the thunk, not only the write."""
    import time

    from qse_spark import checkpoint as ckpt

    def build():
        time.sleep(0.5)
        return spark.range(10)

    counters = []
    ckpt.stage(spark, str(tmp_path / "st"), "st", "h", build, counters)
    assert counters[0]["wall_sec"] >= 0.5


def test_part_counts_absent_path_falls_back_to_count(tmp_path):
    """A scheme-less path whose walk finds no parquet file (written to a
    non-local default FS) must not read as rows=0: no footer counts means
    write_stage takes its count branch."""
    from qse_spark.checkpoint import _parquet_part_counts

    assert _parquet_part_counts(str(tmp_path / "absent")) is None


def test_release_survives_jvm_api_drift():
    """pins.release / release_df degrade to the GC fallback when the
    Spark-internal persistent-RDD API raises, like _rdd_id does."""
    from types import SimpleNamespace

    from qse_spark import pins

    def boom():
        raise RuntimeError("getPersistentRDDs is gone")

    spark = SimpleNamespace(sparkContext=SimpleNamespace(
        _jsc=SimpleNamespace(getPersistentRDDs=boom)))
    ids = [1, 2]
    assert pins.release(spark, ids) == 0 and ids == []

    rdd = SimpleNamespace(id=lambda: 7)
    plan = SimpleNamespace(analyzed=lambda: SimpleNamespace(rdd=lambda: rdd))
    df = SimpleNamespace(
        _jdf=SimpleNamespace(queryExecution=lambda: plan),
        sparkSession=spark)
    pins.release_df(df)
