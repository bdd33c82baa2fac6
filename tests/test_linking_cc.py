"""Linking + connected components: exact canonical map vs gold, CC
algebraic properties (permutation invariance, idempotence), block capping."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from qse_spark.operators.cc import canonical_map, connected_components
from qse_spark.operators.extraction import (extract_triples,
                                            mentions_from_triples)
from qse_spark.operators.linking import (blocking_report, link_mentions,
                                         linking_edges, mention_cores)


@pytest.fixture(scope="module")
def mentions(spark, fixture_dir):
    tr = spark.read.parquet(f"{fixture_dir}/transcripts.parquet")
    return mentions_from_triples(extract_triples(tr)).cache()


def test_canonical_map_matches_gold(spark, fixture_dir, mentions):
    got = {r["mention_id"]: r["canonical_id"]
           for r in canonical_map(linking_edges(mentions)).collect()}
    gold = dict(duckdb.sql(
        f"SELECT * FROM read_parquet('{fixture_dir}/gold_canonical_map.parquet')"
    ).fetchall())
    assert got == gold


def test_canonical_idempotent(spark, mentions):
    cmap = canonical_map(linking_edges(mentions))
    m = {r["mention_id"]: r["canonical_id"] for r in cmap.collect()}
    for canon in set(m.values()):
        assert m.get(canon, canon) == canon, "canon(canon(x)) != canon(x)"


def test_fuzzy_scores_bounded(spark, mentions):
    links = link_mentions(mentions).toPandas()
    assert len(links) > 0
    assert ((links["score"] >= 0.55) & (links["score"] <= 1.0)).all()
    assert (links["src"] < links["dst"]).all()


def test_cc_permutation_invariant(spark):
    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("z", "x"), ("q", "q2")]
    outs = []
    for seed in (0, 1, 2):
        df = (spark.createDataFrame(edges, ["src", "dst"])
              .orderBy(F.md5(F.concat(F.col("src"), F.lit(str(seed)))))
              .repartition(3 + seed))
        outs.append(sorted(map(tuple, connected_components(df).collect())))
    assert outs[0] == outs[1] == outs[2]
    comp = dict(outs[0])
    assert comp["c"] == "a" and comp["z"] == "x" and comp["a"] == "a"


def test_cc_long_chain_and_star(spark):
    chain = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(50)]
    star = [("hub", f"s{i}") for i in range(20)]
    df = spark.createDataFrame(chain + star, ["src", "dst"])
    comp = dict((r["node"], r["component"])
                for r in connected_components(df).collect())
    assert all(comp[f"n{i:03d}"] == "n000" for i in range(51))
    assert all(comp[f"s{i}"] == "hub" for i in range(20))


def test_block_capping_gates_candidates(spark):
    # a genuinely linkable pair (Jaccard ~0.8) links under a sane cap but
    # produces NO candidates when every block exceeds max_block=1 — the
    # skew guard really gates the self-join
    m = spark.createDataFrame([("kasir_tebon",), ("kasir_tebonson",)],
                              ["mention_id"])
    assert link_mentions(m, max_block=100).count() == 1
    assert link_mentions(m, max_block=1).count() == 0


def test_blocking_report_flags_hot_blocks(spark):
    cores = spark.createDataFrame(
        [(f"w{i:03d}_samecore",) for i in range(40)], ["core"])
    rep = blocking_report(cores, max_block=5)
    assert rep.count() == 0 or rep.toPandas()["count"].max() <= 40


def test_blocking_report_audits_token_backstop_blocks(spark):
    """The audit counts the SAME key set the candidate pass caps,
    including the rare-token backstop blocks (band = -1) — a token with
    max_block < df <= token_max_df used to be dropped by the cap while
    appearing in NEITHER report (review finding)."""
    # 30 cores share token 'hub' (df 30); unique suffixes keep LSH bands
    # from also exceeding the cap
    cores = spark.createDataFrame(
        [(f"hub_{i:02d}x{'abcdefg'[i % 7]}",) for i in range(30)], ["core"])
    rep = blocking_report(cores, max_block=10, token_max_df=100).toPandas()
    tok_rows = rep[rep["band"] == -1]
    assert not tok_rows.empty and tok_rows["count"].max() == 30
    # above token_max_df the token never enters the pass, so the audit
    # moves to dropped_token_report instead
    from qse_spark.operators.linking import dropped_token_report
    rep2 = blocking_report(cores, max_block=10, token_max_df=20).toPandas()
    assert rep2[rep2["band"] == -1].empty
    assert dropped_token_report(cores, token_max_df=20).count() >= 1


def test_cc_distributed_path_equals_driver_path(spark):
    import random
    rng = random.Random(7)
    edges = [(f"v{rng.randrange(200):03d}", f"v{rng.randrange(200):03d}")
             for _ in range(300)]
    df = spark.createDataFrame(edges, ["src", "dst"]) \
        .filter(F.col("src") != F.col("dst"))
    dist = sorted(map(tuple,
                      connected_components(df, driver_threshold=0).collect()))
    drv = sorted(map(tuple, connected_components(df).collect()))
    assert dist == drv and len(dist) > 0


def test_cc_distributed_permutation_invariant(spark):
    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("z", "x"), ("q", "q2")]
    outs = []
    for seed in (0, 1):
        df = (spark.createDataFrame(edges, ["src", "dst"])
              .orderBy(F.md5(F.concat(F.col("src"), F.lit(str(seed)))))
              .repartition(3 + seed))
        outs.append(sorted(map(tuple, connected_components(
            df, driver_threshold=0).collect())))
    assert outs[0] == outs[1]
    comp = dict(outs[0])
    assert comp["c"] == "a" and comp["z"] == "x" and comp["a"] == "a"


def test_cc_empty_edge_set(spark):
    """ADVICE r1: zero link edges is a legal corpus — canonical_map and
    connected_components must return empty frames with the right schema."""
    from qse_spark.operators.cc import canonical_map, connected_components
    empty = spark.createDataFrame([], "src string, dst string")
    comp = connected_components(empty)
    assert comp.columns == ["node", "component"]
    assert comp.count() == 0
    cmap = canonical_map(empty)
    assert cmap.columns == ["mention_id", "canonical_id"]
    assert cmap.count() == 0


def test_tfidf_cosine_pairs_properties(spark):
    """North-star TF-IDF scorer: identical token multisets score 1.0,
    disjoint ones produce no pair, and a shared rare token outscores a
    shared ubiquitous one (the idf weighting doing its job)."""
    from qse_spark.operators.linking import tfidf_cosine_pairs
    docs = spark.createDataFrame(
        [(1, "acme corp"), (2, "acme corp"),          # identical
         (3, "zz ww"),                                 # disjoint
         (4, "common rare_x"), (5, "common rare_x"),   # rare overlap
         (6, "common qq"), (7, "common pp")],          # common-only overlap
        ["doc_id", "text"])
    rows = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in tfidf_cosine_pairs(docs, tau=0.0, id_col="doc_id",
                                        text_col="text").collect()}
    assert abs(rows[(1, 2)] - 1.0) < 1e-9
    assert not any(3 in p for p in rows)
    assert rows[(4, 5)] > rows[(6, 7)]


def test_tfidf_scores_core_aliases(spark):
    """Scoring mention cores: underscore tokens split, so suffix-extended
    aliases share their token weights."""
    from qse_spark.operators.linking import tfidf_cosine_pairs
    cores = spark.createDataFrame(
        [("acme_corp",), ("acme_corp_inc",), ("other_co",)], ["core"])
    got = {(r["id_a"], r["id_b"]) for r in
           tfidf_cosine_pairs(cores, tau=0.3).collect()}
    assert ("acme_corp", "acme_corp_inc") in got


def test_tfidf_scorer_reconstructs_gold_clusters(spark, fixture_dir, mentions):
    """Swapping the Jaccard verify for the TF-IDF shingle-cosine scorer
    must still recover the gold canonical map almost exactly (P/R >= 0.95
    of (mention, canonical) pairs) — the two scorers agree on which
    candidates are real aliases, they just weight the evidence
    differently."""
    gold = {(r["mention_id"], r["canonical_id"]) for r in spark.read.parquet(
        f"{fixture_dir}/gold_canonical_map.parquet").collect()}
    got = {(r["mention_id"], r["canonical_id"]) for r in canonical_map(
        linking_edges(mentions, tau=0.5, scorer="tfidf")).collect()}
    inter = len(gold & got)
    precision = inter / len(got)
    recall = inter / len(gold)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)


def test_hot_token_blocks_excluded_but_alias_recall_kept(spark):
    """Round-4 scale fix: the token-block recall pass only fires for RARE
    tokens (df <= token_max_df). A shared word appearing in many cores
    must NOT generate its quadratic candidate block, while alias variants
    of one entity (which share rare distinctive words / high shingle
    Jaccard) still link. Pure-zipf worlds never hit this; the shared-pool
    bench world measured 48M candidates without the cap."""
    from qse_spark.operators.linking import _candidate_pairs
    from qse_spark.functions.columns import shingles_col
    # 80 cores all sharing the hot word 'shared'; distinctive tails are
    # pairwise-dissimilar coined words (distinct syllable pairs), so LSH
    # correctly proposes almost none of the C(80,2) hot-block pairs
    syl = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu",
           "ra", "se", "ti", "vo", "wu", "za", "je", "hy", "qo", "xi"]
    tails = [syl[i] + syl[j] + syl[(i * 7 + j * 3) % 20]
             for i in range(20) for j in range(4)]
    hot = [(f"shared_{t}",) for t in tails]
    # one alias family sharing the rare word 'zephyrine'
    fam = [("zephyrine_quill",), ("dr_zephyrine_quill",),
           ("zephyrine_quillson",)]
    cores = spark.createDataFrame(hot + fam, ["core"])
    sh = cores.select("core", shingles_col("core").alias("sh"))

    def pair_set(cap):
        cand = _candidate_pairs(sh, bands=12, rows=3, max_block=2000,
                                token_max_df=cap)
        return {(r["a"], r["b"]) for r in cand.collect()}

    capped = pair_set(8)
    uncapped = pair_set(10 ** 9)
    # without the cap the hot-word block contributes ALL C(80,2) = 3160
    # pairs; with it, only LSH's (verifiable, high-overlap) proposals
    # remain — measured 862 vs 3163 on this fixture
    assert uncapped.issuperset(capped)
    assert len(capped) < 0.4 * len(uncapped), (len(capped), len(uncapped))
    # the rare-word alias family is fully covered by the token backstop;
    # candidates carry 8-byte core ids (round 5), so expected pairs are
    # computed through the pure-Python xxhash64 twin
    from qse_spark.xxh import spark_xxhash64
    fam_ids = sorted(spark_xxhash64(c) for (c,) in fam)
    for i in range(len(fam_ids)):
        for j in range(i + 1, len(fam_ids)):
            assert (fam_ids[i], fam_ids[j]) in capped


def test_dropped_token_report_flags_hot_tokens(spark):
    """Drops-are-observable contract for the rare-token backstop: a token
    above the df cap appears in the report; rare tokens do not."""
    from qse_spark.operators.linking import dropped_token_report
    cores = spark.createDataFrame(
        [(f"hotword_tail{i:02d}",) for i in range(10)]
        + [("rareword_quill",)], ["core"])
    rep = {r["tok"]: r["df"]
           for r in dropped_token_report(cores, token_max_df=4).collect()}
    assert rep.get("hotword") == 10
    assert "rareword" not in rep and "quill" not in rep


def test_canonical_map_exact_on_hot_token_world(spark):
    """End-to-end under the rare-token df cap: in a world where EVERY core
    shares one hot word, alias families still collapse to one canonical id
    (their high shingle-Jaccard pairs ride the LSH pass) and unrelated
    hot-word cores stay singletons (verify rejects J < tau) — the
    clustering the 100 TB shared-vocabulary regime needs."""
    syl = ["ba", "ce", "di", "fo", "gu", "ka", "le", "mi", "no", "pu",
           "ra", "se", "ti", "vo", "wu", "za", "je", "hy", "qo", "xi"]
    tails = [syl[i] + syl[j] + syl[(i * 7 + j * 3) % 20]
             for i in range(20) for j in range(4)]
    hot = [f"shared_{t}" for t in tails]
    fams = [["zephyrine_quill", "dr_zephyrine_quill", "zephyrine_quillson"],
            ["shared_krovatel", "dr_shared_krovatel", "shared_krovatelson"]]
    mids = hot + [m for f in fams for m in f]
    m = spark.createDataFrame([(x,) for x in mids], ["mention_id"])
    cmap = {r["mention_id"]: r["canonical_id"]
            for r in canonical_map(linking_edges(m, token_max_df=8))
            .collect()}
    for fam in fams:
        assert len({cmap[x] for x in fam}) == 1, fam   # family collapses
    # hot cores must NOT collapse wholesale (a handful of syllable-tail
    # pairs legitimately exceed tau and merge — that's the verify working,
    # not the quadratic hot-block failure this test guards against)
    hot_classes = {cmap[x] for x in hot}
    assert len(hot_classes) >= len(hot) - 10


@pytest.mark.parametrize("scorer", ["jaccard", "tfidf"])
def test_verify_guard_sort_merge_branch_equals_broadcast(
        spark, mentions, monkeypatch, scorer):
    """Both branches of the verify broadcast guard
    (VERIFY_BROADCAST_MAX_CORES) give row-identical linking_edges. With
    auto-broadcast off, the hinted branch still broadcasts and the
    branch above the guard plans no broadcast join at all. The tfidf
    score is a float sum whose order follows the join strategy, so it
    may differ in the last bit; it is compared at 1e-12."""
    from qse_spark.operators import linking
    from qse_spark.plans import plan_summary

    def rows(df):
        return sorted((r["src"], r["dst"], round(r["score"], 12))
                      for r in df.collect())

    want = rows(linking_edges(mentions, scorer=scorer))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        hinted = plan_summary(linking_edges(mentions, scorer=scorer))
        assert hinted["broadcast_joins"] >= 2, hinted
        monkeypatch.setattr(linking, "VERIFY_BROADCAST_MAX_CORES", 0)
        shuffled = linking_edges(mentions, scorer=scorer)
        s = plan_summary(shuffled)
        assert s["broadcast_joins"] == 0, s
        assert s["sortmerge_joins"] + s["shuffledhash_joins"] >= 2, s
        assert rows(shuffled) == want
    finally:
        spark.conf.set(key, prev)
