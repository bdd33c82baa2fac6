"""Stage 2 — blocking-key entity linking over mention surface forms.

Multi-pass blocking (standard entity-resolution practice), all in native
Spark SQL expressions — no Python in the hot path:

  pass 0  exact block: mentions sharing the same decoration-stripped core
          are trivially linked (strip_core in textnorm.py).
  pass 1  minhash/LSH: 3-gram character shingles of each distinct core ->
          H=B*R minhash values (xxhash64(shingle, seed)) -> B band keys ->
          equi-self-join on band key -> candidate core pairs.
  pass 2  rare-token block: cores sharing a full RARE token (document
          frequency <= token_max_df) are also candidates — a recall
          backstop for suffix-extended aliases a probabilistic LSH band
          could miss; hot tokens are excluded because their blocks are
          quadratic and their true matches are high-Jaccard, i.e. LSH's
          job (see _candidate_pairs).

Every candidate pair is then verified with the exact 3-gram Jaccard
(array_intersect over the per-core shingle arrays) and kept iff
jaccard >= tau.

Skew handling: band buckets larger than `max_block` are dropped with a
logged count (SURVEY §4 item 2 — an over-dense block means a near-stopword
surface pattern; its pairs are almost all false candidates and would square
the join). Token blocks are capped identically.

Scale note: the self-join is quadratic per block, bounded by max_block²;
blocks are hashed across the cluster by band key, so the stage parallelizes
with executor count and AQE splits residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.columns import shingles_col, strip_core_col
from ..pins import pin

DEFAULT_TAU = 0.55
DEFAULT_BANDS = 12
DEFAULT_ROWS_PER_BAND = 3
# token-block recall backstop: only tokens in <= this many cores form
# blocks (see _candidate_pairs — hot tokens are LSH's job, and their
# blocks are quadratic)
DEFAULT_TOKEN_MAX_DF = 64


def mention_cores(mentions: DataFrame) -> DataFrame:
    """mentions(mention_id) -> (mention_id, core)."""
    return mentions.select(
        "mention_id", strip_core_col(F.col("mention_id")).alias("core"))


def _band_keys(sh: DataFrame, bands: int, rows: int) -> DataFrame:
    """(cid, band, key) LSH band keys with ZERO exchange: `sh` already
    holds the per-core shingle array, so every one of the H = bands*rows
    minhash values is a per-row array_min(transform(...)) projection and
    the only explode is the 12-element band list. The previous form
    (explode shingles -> groupBy("core") with H min aggregations)
    re-shuffled the corpus-sized dimension to aggregate values that are
    computable row-locally — at 100 TB that exchange is the stage's
    whole cost (round-4 scaling pass). `sh` is a stored column of the
    checkpointed dimension, so the H transforms re-read it rather than
    recompute it (the CollapseProject trap text.py's winnow documents
    applies to chained COMPUTED arrays, not leaf columns). Key values
    are bit-identical to the aggregation form: same per-seed minima,
    same xxhash64 combination. The core rides as its 8-byte id (see
    _block_keys)."""
    def _minhash(i: int):
        # single-arg lambda in its own scope: a two-arg transform lambda
        # would receive (element, array_index) and shadow the seed
        return F.array_min(F.transform("sh",
                                       lambda g: F.xxhash64(g, F.lit(i))))

    mins = [_minhash(i).alias(f"h{i}") for i in range(bands * rows)]
    # explode(sh) dropped null/empty shingle arrays; keep that contract
    sig = sh.where(F.size("sh") > 0).select(
        F.xxhash64("core").alias("cid"), *mins)
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
                 .alias("key"))
        for b in range(bands)])
    return (sig.select("cid", F.explode(band_structs).alias("bk"))
            .select("cid", F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))


def _core_tokens(cores: DataFrame) -> DataFrame:
    """Distinct (cid, tok) full-token rows — THE tokenization of the
    rare-token pass, shared by _candidate_pairs and dropped_token_report
    so the drops-observable audit can never drift from the real pass."""
    return (cores.select(
        F.xxhash64("core").alias("cid"),
        F.explode(F.split("core", "_")).alias("tok"))
        .filter(F.length("tok") > 0).distinct())


def _token_df(toks: DataFrame) -> DataFrame:
    """(tok, df) document frequency over distinct (core, tok) rows."""
    return toks.groupBy("tok").agg(F.count("*").alias("df"))


def _block_keys(sh: DataFrame, bands: int, rows: int,
                token_max_df: int) -> DataFrame:
    """(cid, band, key): LSH band keys ∪ rare-token backstop keys
    (band = -1) — THE key set _candidate_pairs self-joins (and caps) on.
    blocking_report counts this same set, so every block kind the
    max_block cap can drop is auditable (review finding: token blocks
    above max_block were invisible to both reports when
    token_max_df > max_block).

    Cores travel as `cid` = xxhash64(core) — 8-byte ids, not strings
    (round 5): this 12x-the-input table crosses the cap window's
    exchange, the self-join and the candidate distinct, so id rows cut
    the shuffled bytes ~40% and replace string sort/hash comparisons
    with longs. The verify joins resolve ids back to (core, sh, n)
    through the pinned dimension. A 64-bit collision (~1e-7 odds at 4M
    cores) merges two cores' block memberships. The Jaccard verify still
    scores REAL core pairs exactly (each id row joins back to its true
    cores), so on that path no false link is possible; the only effect
    is that a colliding pair itself is not self-compared — recall
    epsilon far below the LSH band miss probability. The tfidf verify
    keys its term weights by cid, so there a collision merges the two
    cores' weight vectors and can score a pair on the wrong terms."""
    lsh_keys = _band_keys(sh, bands, rows)
    toks = _core_tokens(sh)
    # no broadcast hint: the rare-token dim is token-vocabulary-sized —
    # unbounded at corpus scale — so AQE picks the join strategy
    rare = _token_df(toks).filter(F.col("df") <= token_max_df)
    tok_keys = (toks.join(rare, "tok")
                .select("cid", F.lit(-1).alias("band"),
                        F.xxhash64("tok").alias("key")))
    return lsh_keys.unionByName(tok_keys)


def _candidate_pairs(sh: DataFrame, bands: int, rows: int,
                     max_block: int,
                     token_max_df: int = DEFAULT_TOKEN_MAX_DF) -> DataFrame:
    """Distinct candidate (a, b) core-ID pairs (a < b by cid — see
    _block_keys), via LSH ∪ rare-token blocks. `sh` is the cached
    (core, sh) shingle table; callers resolve ids back to cores through
    the dimension after scoring.

    The token pass is a recall BACKSTOP for the regime where a
    probabilistic LSH band can mathematically miss: short surface forms
    whose alias variants sit near tau. It is restricted to RARE tokens
    (document frequency <= token_max_df): a token shared by hundreds of
    cores generates df² candidate pairs of which essentially none reach
    tau. The trade, stated precisely: a true pair whose ONLY shared
    token is hot now relies on LSH alone, whose hit probability
    1-(1-J^rows)^bands is 0.887 at J = tau = 0.55 (defaults 12x3),
    0.97 at J = 0.62, ≥ 0.99 at J ≥ 0.7 — so up to ~11% of
    borderline-J, hot-token-only true pairs are probabilistically
    missed where the uncapped pass guaranteed them. That narrow class
    is a vanishing fraction of true alias pairs (alias variants share
    rare distinctive tokens and/or high-J cores), and the uncapped
    alternative is quadratic: measured 48M candidate pairs / minutes of
    single-core verify on a 145K-mention shared-vocabulary world
    (round-4 bench) where LSH alone still linked every alias cluster
    exactly. Raise `bands` (recall) or `token_max_df` (backstop width)
    to buy recall with compute."""
    keys = _block_keys(sh, bands, rows, token_max_df)

    # cap over-dense blocks (skew guard) — dropped blocks are observable via
    # blocking_report(); silent truncation would undercount links.
    counted = keys.withColumn(
        "blk_n", F.count("*").over(Window.partitionBy("band", "key")))
    kept = counted.filter(F.col("blk_n") <= max_block).drop("blk_n")

    a = kept.select(F.col("band"), F.col("key"), F.col("cid").alias("a"))
    b = kept.select(F.col("band"), F.col("key"), F.col("cid").alias("b"))
    return (a.join(b, ["band", "key"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b").distinct())


def _hashed_sh(core_col) -> F.Column:
    """array<bigint> shingle set: xxhash64 of each 3-gram string. The
    dimension ships and compares 8-byte longs instead of short strings
    through the candidate self-join, the verify join, and the minhash
    explode — ~2x fewer shuffle bytes and cheaper array_intersect: the
    single-executor minhash stage measured 11.1 s -> 4.8 s and the full
    kernel ~10-25% faster at both executor counts on the
    `scripts/scale.py linking` worlds (absolute cost, not the
    1-vs-4 efficiency ratio, which stays exchange-bound — see
    BENCH_SCALING.md's linking appendix). Jaccard over hashed shingles equals
    string-shingle Jaccard unless two distinct 3-grams collide in 64
    bits (~1e-19 per pair) — the same equivalence the minhash pass
    already relies on."""
    return F.transform(shingles_col(core_col), lambda g: F.xxhash64(g))


def blocking_report(cores: DataFrame, bands: int = DEFAULT_BANDS,
                    rows: int = DEFAULT_ROWS_PER_BAND,
                    max_block: int = 2000,
                    token_max_df: int = DEFAULT_TOKEN_MAX_DF) -> DataFrame:
    """Blocks exceeding max_block (these get dropped): (band, key, count).
    Counts the SAME key set the candidate pass caps (_block_keys) — and
    hashes shingles the same way — so both LSH bands (band >= 0) and
    rare-token backstop blocks (band = -1) are auditable. Cores are
    deduped first, mirroring _core_sh_dim: callers routinely pass
    mention_cores output where duplicate cores are the norm, and counting
    one row per MENTION would inflate block sizes relative to what the
    candidate pass caps (round-4 advice — flagged-as-dropped blocks that
    were actually kept)."""
    sh = (cores.select("core").distinct()
          .select("core", _hashed_sh("core").alias("sh")))
    return (_block_keys(sh, bands, rows, token_max_df)
            .groupBy("band", "key").count()
            .filter(F.col("count") > max_block))


def dropped_token_report(cores: DataFrame,
                         token_max_df: int = DEFAULT_TOKEN_MAX_DF
                         ) -> DataFrame:
    """(tok, df) for tokens the rare-token backstop skips (df > cap) —
    the same drops-are-observable contract as blocking_report /
    dropped_chunk_report: a hot token here means its candidate block was
    left to the LSH pass, never silently truncated. Tokenization and df
    are the exact helpers the candidate pass uses."""
    return _token_df(_core_tokens(cores)).filter(F.col("df") > token_max_df)


def _core_sh_dim(cores: DataFrame) -> tuple[DataFrame, int]:
    """THE cached (core, sh, n) shingle dimension, adaptively coalesced,
    and its row count — shared by link_mentions and linking_edges so the
    two paths cannot drift (review finding: the standalone path missed
    the width fix). The count is returned so the verify paths size their
    broadcast guard from it instead of counting the dimension again.

    Eager localCheckpoint: the table feeds many plan branches and the
    blocks are GC-cleaned when the DataFrame goes out of scope. Adaptive
    width: the core dimension is usually orders of magnitude smaller
    than the corpus (vocabulary vs occurrences); collapse it so the ~8
    tiny LSH stages don't each pay a full-width shuffle. The count is
    one cheap action against the checkpointed table, and the coalesce is
    a narrow re-read of the checkpoint blocks per consumer. Width ~ one
    partition per 8K cores (each core pays ~20 shingles x bands*rows
    minhashes in the signature map stage — at 50K/partition a
    145K-core world ran that stage on 2 of 4 executors; widening it
    profiled linking_edges 30 s -> 25 s at 4 executors, round-4
    vocabulary-scaled world), bounded by the cluster's parallelism so
    tiny vocabularies stay single-partition (stage-latency-optimal at
    the driver-bench scale)."""
    sh_dim = pin(cores.select("core").distinct()
                 .withColumn("cid", F.xxhash64("core"))
                 .withColumn("sh", _hashed_sh("core"))
                 .withColumn("n", F.size("sh")))
    n_cores = sh_dim.count()
    npart = max(1, min(cores.sparkSession.sparkContext.defaultParallelism,
                       n_cores // 8_000))
    return sh_dim.coalesce(npart), n_cores


# verify-join broadcast guard: the shingle dimension is vocabulary-sized
# (distinct cores x ~150 B). Up to this many cores it is broadcast to both
# verify joins — removing two shuffle sides AND the candidate-table
# re-exchanges, the round-4 linking stage's scaling tail — while larger
# vocabularies keep the sort-merge join (an unconditional hint at 10^9
# mentions would be a driver OOM, the same reasoning as
# pipeline.canonicalize_triples' dictionary guard).
VERIFY_BROADCAST_MAX_CORES = 500_000


def _fuzzy_links(sh_dim: DataFrame, n_cores: int, tau: float, bands: int,
                 rows: int, max_block: int,
                 token_max_df: int = DEFAULT_TOKEN_MAX_DF) -> DataFrame:
    """Verified fuzzy core pairs from a cached (core, sh, n) table of
    `n_cores` rows.

    Round-5 note on the verify shape (round-4 standalone scaling 0.579):
    three rewrites were built and MEASURED against this plan before
    keeping it — (a) shingle payload carried through the cap window with
    inline self-join scoring, (b) collect_list blocks with in-array pair
    generation + scoring, (c) streaming candidates with a zero-join
    pure-projection verify that recomputes shingles from the core
    strings. All three lost: (a)/(b) pay per-block array machinery and a
    sort-based collect aggregation that cost more CPU than the exchanges
    they save at every scale tried (pathological at 2M cores, where the
    window's thin sort became a wide sort), and (c) re-derives string
    shingling per candidate that the cached dimension computes once per
    CORE (measured 8.2 s -> 13.1 s warm on the 400K-mention world). What
    actually removes the exchange tail with no CPU trade is the
    size-guarded broadcast of the vocabulary-sized dimension below."""
    cand = _candidate_pairs(sh_dim.select("core", "sh"), bands, rows,
                            max_block, token_max_df)
    hint = (F.broadcast if n_cores <= VERIFY_BROADCAST_MAX_CORES
            else (lambda d: d))
    a_sh = hint(sh_dim.select(F.col("cid").alias("a"),
                              F.col("core").alias("core_a"),
                              F.col("sh").alias("sh_a"),
                              F.col("n").alias("n_a")))
    b_sh = hint(sh_dim.select(F.col("cid").alias("b"),
                              F.col("core").alias("core_b"),
                              F.col("sh").alias("sh_b"),
                              F.col("n").alias("n_b")))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    # candidates were ordered by cid; the emitted pair is normalized to
    # string order so the output contract (src < dst) is id-free
    return (cand.join(a_sh, "a").join(b_sh, "b")
            .withColumn("score", jac)
            .filter(F.col("score") >= tau)
            .select(F.least("core_a", "core_b").alias("src"),
                    F.greatest("core_a", "core_b").alias("dst"),
                    "score"))


def _tfidf_shingle_links(sh_dim: DataFrame, n_cores: int, tau: float,
                         bands: int, rows: int, max_block: int,
                         token_max_df: int = DEFAULT_TOKEN_MAX_DF
                         ) -> DataFrame:
    """TF-IDF cosine verify over the same LSH candidates, with the 3-gram
    shingles as terms (so single-token typo aliases still overlap, unlike
    full-token terms). idf down-weights near-stopword grams, which plain
    Jaccard counts at full weight — the scorer the north star names."""
    cand = _candidate_pairs(sh_dim.select("core", "sh"), bands, rows,
                            max_block, token_max_df)
    terms = sh_dim.select(F.col("cid").alias("id"),
                          F.explode("sh").alias("tok"))
    ww = _weights_from_terms(terms, n_cores, max_df=2 ** 31 - 1)
    a = ww.select(F.col("id").alias("a"), "tok", F.col("w").alias("w_a"),
                  F.col("norm").alias("n_a"))
    b = ww.select(F.col("id").alias("b"), "tok", F.col("w").alias("w_b"),
                  F.col("norm").alias("n_b"))
    hint = (F.broadcast if n_cores <= VERIFY_BROADCAST_MAX_CORES
            else (lambda d: d))
    a_core = hint(sh_dim.select(F.col("cid").alias("a"),
                                F.col("core").alias("core_a")))
    b_core = hint(sh_dim.select(F.col("cid").alias("b"),
                                F.col("core").alias("core_b")))
    return (cand.join(a, "a").join(b, ["b", "tok"])
            .groupBy("a", "b")
            .agg((F.sum(F.col("w_a") * F.col("w_b"))
                  / (F.max("n_a") * F.max("n_b"))).alias("score"))
            .filter(F.col("score") >= tau)
            # resolve surviving id pairs back to strings, normalized to
            # string order (same contract as the jaccard path)
            .join(a_core, "a").join(b_core, "b")
            .select(F.least("core_a", "core_b").alias("src"),
                    F.greatest("core_a", "core_b").alias("dst"),
                    "score"))


def link_mentions(mentions: DataFrame, tau: float = DEFAULT_TAU,
                  bands: int = DEFAULT_BANDS,
                  rows: int = DEFAULT_ROWS_PER_BAND,
                  max_block: int = 2000,
                  scorer: str = "jaccard",
                  token_max_df: int = DEFAULT_TOKEN_MAX_DF) -> DataFrame:
    """mentions(mention_id) -> fuzzy core links(src, dst, score>=tau).
    scorer: 'jaccard' (exact 3-gram Jaccard, the gold-pinned default) or
    'tfidf' (idf-weighted cosine over the same shingle terms)."""
    if scorer not in ("jaccard", "tfidf"):
        raise ValueError(f"unknown scorer {scorer!r}")
    score_fn = (_tfidf_shingle_links if scorer == "tfidf"
                else _fuzzy_links)
    return score_fn(*_core_sh_dim(mention_cores(mentions)), tau, bands,
                    rows, max_block, token_max_df)


def linking_edges(mentions: DataFrame, tau: float = DEFAULT_TAU,
                  bands: int = DEFAULT_BANDS,
                  rows: int = DEFAULT_ROWS_PER_BAND,
                  max_block: int = 2000,
                  scorer: str = "jaccard",
                  token_max_df: int = DEFAULT_TOKEN_MAX_DF) -> DataFrame:
    """Full CC input: fuzzy core-core edges ∪ mention->core edges.

    Core node ids live in the same string space as mention ids (a core IS a
    valid normalized surface, often an actually-occurring mention), so the
    component minimum over {mentions ∪ cores} could be a synthetic node —
    therefore cores are namespaced with a '\\x7f' prefix (sorts after every
    printable mention id) so the component min is always a real mention id.

    The mention->core projection and the fuzzy path share one cached core
    table (mentions is scanned once).
    """
    if scorer not in ("jaccard", "tfidf"):
        raise ValueError(f"unknown scorer {scorer!r}")
    # intermediates consumed by many plan branches are eagerly
    # localCheckpoint-ed, not persist-ed: the blocks are GC-cleaned when
    # the DataFrame goes out of scope, so an operator that returns a lazy
    # result can't leak caches (round-3 verdict item: the pre-coalesce
    # persist handle here used to stay cached until session end).
    # Fault-tolerance trade (round-4 review note): localCheckpoint blocks
    # are unreplicated — losing an executor mid-job fails the job instead
    # of recomputing. In the pipeline that costs at most one stage replay
    # (run_pipeline parquet-checkpoints every stage to the workdir); the
    # durable alternative for standalone callers is checkpoint() against
    # a real checkpoint dir. `cores` is sized like the INPUT mention
    # table — vocabulary-sized when the caller passes deduped mentions
    # (as mentions_from_triples does), occurrence-sized otherwise.
    cores = pin(mention_cores(mentions))
    sh_dim, n_cores = _core_sh_dim(cores)
    core_node = F.concat(F.lit("\x7f"), F.col("core"))
    proj = cores.select(F.col("mention_id").alias("src"),
                        core_node.alias("dst"),
                        F.lit(1.0).alias("score"))
    score_fn = (_tfidf_shingle_links if scorer == "tfidf"
                else _fuzzy_links)
    fuzzy = score_fn(sh_dim, n_cores, tau, bands, rows, max_block,
                     token_max_df=token_max_df).select(
        F.concat(F.lit("\x7f"), F.col("src")).alias("src"),
        F.concat(F.lit("\x7f"), F.col("dst")).alias("dst"),
        "score")
    return proj.unionByName(fuzzy)


# ------------------------------------------------------- TF-IDF cosine path

def _weights_from_terms(terms: DataFrame, n_docs: int,
                        max_df: int) -> DataFrame:
    """(id, tok, w, norm) from raw (id, tok) term occurrences — the one
    TF-IDF formula both scorers share: w = tf * (1 + ln((N+1)/(df+1))),
    norm = per-doc L2; terms in more than `max_df` docs are dropped like
    stopwords. Fully relational: two aggregations, no UDFs."""
    tf = terms.groupBy("id", "tok").agg(F.count("*").alias("tf"))
    dfreq = (tf.groupBy("tok")
             .agg(F.count("*").alias("df"))
             .filter(F.col("df") <= max_df))
    w = (tf.join(dfreq, "tok")
         .withColumn("w", F.col("tf") *
                     (F.lit(1.0) + F.log((F.lit(float(n_docs + 1)))
                                         / (F.col("df") + 1)))))
    norm = (w.groupBy("id")
            .agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm")))
    return w.join(norm, "id").select("id", "tok", "w", "norm")


def tfidf_weights(docs: DataFrame, id_col: str = "core",
                  text_col: str = "core",
                  max_df: int = 10000) -> DataFrame:
    """(id, tok, w, norm) — smoothed TF-IDF weights over underscore/space
    tokens, plus the doc's L2 norm (repeated per row for the join-side
    division). N counts ALL docs (token-less docs included) so idf does
    not drift when empty docs exist."""
    toks = (docs.select(F.col(id_col).alias("id"),
                        F.explode(F.split(F.col(text_col), r"[_\s]+"))
                        .alias("tok"))
            .filter(F.length("tok") > 0))
    return _weights_from_terms(toks, docs.select(id_col).distinct().count(),
                               max_df)


def tfidf_cosine_pairs(docs: DataFrame, tau: float = 0.3,
                       id_col: str = "core", text_col: str = "core",
                       max_df: int = 10000,
                       prefix_filter: bool | None = None) -> DataFrame:
    """(id_a, id_b, cosine>=tau) — sparse cosine over TF-IDF weights via the
    inverted-index self-join: pairs sharing at least one surviving token,
    dot = sum of shared-token weight products, divided by the norms.

    This is the north-star's 'TF-IDF cosine scoring' linking path
    (complementing the 3-gram Jaccard verify): candidates are generated
    by a token join, so no all-pairs product ever exists; `max_df`
    bounds every token's posting list, which bounds the join fan-out
    exactly like the LSH block cap.

    prefix_filter (None = auto: on iff tau >= 0.5) engages LOSSLESS
    prefix filtering (the AllPairs bound, Bayardo et al. WWW'07): for a
    unit vector x split into any prefix P and suffix S, a pair sharing
    no token of P has cos(x,y) <= ||x_S|| (Cauchy-Schwarz), so each doc
    only INDEXES its smallest-weight token set's complement once the
    suffix's squared mass is capped at tau^2 - eps. Hot near-stopword
    tokens carry tiny idf weight, so they fall into almost every doc's
    suffix and their quadratic posting-list self-join disappears from
    candidate generation; the exact cosine is then computed relationally
    over the surviving candidate pairs only (same pattern as
    minhash_dedup's verify). At tau = 0.9 a doc indexes only the rarest
    ~19% of its squared mass. Measured on the deliberately worst-case
    sf0.1 documents table (31-token vocabulary, every token df ~3900,
    so ALL 12.5M pairs share a token and stay candidates): 170 s direct
    -> 62 s prefix with the posting table pinned (41 s warm) — the
    residual cost is the irreducible 12.5M-pair exact scoring; on a
    real Zipf vocabulary the hot tokens vanish from candidate
    generation entirely and the candidate set tracks the true pair
    count. Below tau = 0.5 the suffix can hold too little mass to
    prune, so the direct fused join wins and is kept as the low-tau
    path.

    The posting table feeds five plan branches in the prefix path
    (prefix split, both candidate sides, both scoring sides), so it is
    eagerly localCheckpoint-ed — without the pin each branch would
    re-run the two TF-IDF aggregations over the corpus (same
    GC-cleaned-blocks rationale as linking_edges' sh_dim)."""
    wts = tfidf_weights(docs, id_col, text_col, max_df)
    if prefix_filter is None:
        prefix_filter = tau >= 0.5
    # pinned for BOTH paths: the direct join consumes wts from two
    # branches (a and b), the prefix path from five — without the pin
    # each branch re-runs the two TF-IDF aggregations over the corpus
    # (review finding: only the prefix path was pinned)
    wts = pin(wts)
    a = wts.select(F.col("id").alias("id_a"), "tok",
                   F.col("w").alias("w_a"), F.col("norm").alias("n_a"))
    b = wts.select(F.col("id").alias("id_b"), "tok",
                   F.col("w").alias("w_b"), F.col("norm").alias("n_b"))
    if not prefix_filter:
        return (a.join(b, "tok")
                .filter(F.col("id_a") < F.col("id_b"))
                .groupBy("id_a", "id_b")
                .agg((F.sum(F.col("w_a") * F.col("w_b"))
                      / (F.max("n_a") * F.max("n_b"))).alias("cosine"))
                .filter(F.col("cosine") >= tau))
    # suffix = the maximal lowest-unit-weight token set with squared mass
    # <= tau^2 - eps (eps keeps the Cauchy-Schwarz bound strictly below
    # tau against float cumsum error); everything else is the indexed
    # prefix. One window shuffle by doc id — vocabulary-bounded rows.
    uw2 = (F.col("w") / F.col("norm")) ** 2
    cum = F.sum(uw2).over(
        Window.partitionBy("id").orderBy(F.col("w").asc(), F.col("tok").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = (wts.withColumn("_cum", cum)
           .filter(F.col("_cum") > tau * tau - 1e-9)
           .select("id", "tok"))
    # one orientation suffices: cos >= tau forces a shared token inside
    # EACH side's prefix, so (prefix of one side) x (full postings of the
    # other) catches every qualifying pair at least once
    cand = (pre.select(F.col("id").alias("pid"), "tok")
            .join(wts.select(F.col("id").alias("fid"), "tok"), "tok")
            .filter(F.col("pid") != F.col("fid"))
            .select(F.least("pid", "fid").alias("id_a"),
                    F.greatest("pid", "fid").alias("id_b"))
            .distinct())
    return (cand.join(a, "id_a").join(b, ["id_b", "tok"])
            .groupBy("id_a", "id_b")
            .agg((F.sum(F.col("w_a") * F.col("w_b"))
                  / (F.max("n_a") * F.max("n_b"))).alias("cosine"))
            .filter(F.col("cosine") >= tau))
