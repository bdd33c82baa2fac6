"""Deterministic synthetic transcripts + gold KG fixtures.

The BASELINE.json input_hint table `(conv_id, turn_idx, role, text, tool, ts)`
is synthesized as a pure function of a seed (numpy PCG64), together with the
gold artifacts the pipeline must reproduce:

  transcripts.parquet        the input table
  gold_mentions.parquet      (conv_id, turn_idx, surface, mention_id, entity_key)
  gold_triples_raw.parquet   per-turn pre-canonical triples (extraction oracle)
  gold_canonical_map.parquet mention_id -> canonical_id (linking+CC oracle)
  gold_triples.parquet       canonical distinct (subject,predicate,object,obj_kind,cnt)

Texts are template sentences over a closed vocabulary, so extraction is
exactly computable. Every entity owns two dedicated coined words (globally
unique, greedily separated so any two pool words have 3-gram Jaccard <= 0.3);
alias variants are either decoration tokens that `strip_core` removes
("Dr X", "X Corp.", "X City" -> exact core match) or lexical extensions
("Xson", "Xix") whose core-level Jaccard vs the base stays >= ~0.7 while any
cross-entity pair stays <= ~0.4 — so minhash-LSH linking at tau=0.55 is
unambiguous and P/R vs gold is exactly testable.

Edge cases required by FIXTURES.md §6 are all present: multi-class entities
(Person+Employee), untyped project IRIs (undefined obj type + forced
minCount), repeated property on one entity (maxCount), skewed conversations
and hot tool names, empty/unicode turns.

Written with pyarrow (no Spark) so DuckDB and Spark read identical bytes.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .constants import TYPE_PREDICATE
from .textnorm import normalize_surface

FIXTURE_ROOT = os.environ.get("QSE_FIXTURE_ROOT", "/root/repo/.fixtures")

# ---------------------------------------------------------------- vocabulary

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v",
           "z", "ch", "dr", "gr", "pl"]
_VOWELS = ["a", "e", "i", "o", "u"]
_CODAS = ["k", "l", "m", "n", "r", "s", "t", "x"]

_LANG_GREETINGS = {"fr": "bonjour", "de": "hallo", "es": "hola",
                   "it": "ciao", "pt": "ola"}

_MOTTO_WORDS = ["quality", "velocity", "trust", "clarity", "rigor",
                "craft", "signal", "focus", "momentum", "precision"]

_NOISE = [
    "okay let me think about that for a moment.",
    "sure, here is the summary you asked for.",
    "hmm, that does not look right to me.",
    "can you elaborate on the previous point?",
    "understood. proceeding with the plan.",
    "",  # empty turn (robustness)
    "   ",  # whitespace-only turn
    "nächste schritte: überprüfung — 了解しました ✨",  # unicode
]

_TOOLS = ["search_web", "run_code", "read_file", "write_file",
          "query_db", "send_mail", "fetch_url", "calc"]


def _shingles(s: str) -> set:
    return {s[i:i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else {s}


def _coined_words(rng: np.random.Generator, n: int) -> list[str]:
    """Unique pronounceable coinages, greedily filtered so any two accepted
    words have 3-gram Jaccard <= 0.3 — the foundation of the linking-margin
    guarantee (cross-entity similarity stays far below the link threshold).

    Uses a shingle inverted index: only candidates sharing >= 2 shingles
    with an accepted word can exceed the threshold, so the greedy pass is
    near-linear.
    """
    space = len(_ONSETS) * len(_VOWELS)
    order = rng.permutation(space * space * space // 4)  # 3-syllable words
    accepted: list[str] = []
    accepted_sh: list[frozenset] = []
    index: dict[str, list[int]] = {}
    for i in order:
        if len(accepted) >= n:
            break
        i = int(i) * 4 + int(i) % 4
        rest, c = divmod(i, space)
        a, b = divmod(rest, space)

        def syl(x):
            return _ONSETS[x // len(_VOWELS)] + _VOWELS[x % len(_VOWELS)]

        w = syl(a % space) + syl(b) + syl(c) + _CODAS[i % len(_CODAS)]
        ws = frozenset(_shingles(w))
        hits: dict[int, int] = {}
        for g in ws:
            for wi in index.get(g, ()):
                hits[wi] = hits.get(wi, 0) + 1
        ok = True
        for wi, inter in hits.items():
            if inter >= 2 and inter / len(ws | accepted_sh[wi]) > 0.3:
                ok = False
                break
        if ok:
            wi = len(accepted)
            accepted.append(w)
            accepted_sh.append(ws)
            for g in ws:
                index.setdefault(g, []).append(wi)
    if len(accepted) < n:
        raise ValueError(f"coined pool exhausted: {len(accepted)} < {n}")
    return accepted


def _shared_pool_cores(rng: np.random.Generator, pool: list[str],
                       n: int) -> list[str]:
    """n distinct 3-word cores over a SHARED word pool, any two cores
    sharing at most ONE word. With pool words pairwise 3-gram-separated
    (<= 0.3), one shared word out of three keeps cross-core Jaccard
    ~0.2-0.3 — far below the linking tau (0.55) — while the pool size
    grows only as sqrt(entities). This is the vocabulary-SCALED world for
    bench realism at large entity counts (VERDICT r3 missing #1); the
    correctness fixtures keep vocab_mult=1's dedicated-words guarantee."""
    P = len(pool)
    used_pairs: set[frozenset] = set()
    cores: list[str] = []
    for v in rng.permutation(P * P):
        if len(cores) >= n:
            break
        i, j = divmod(int(v), P)
        k = (i * 31 + j * 17 + len(cores)) % P
        if i == j or j == k or i == k:
            continue
        pairs = (frozenset((i, j)), frozenset((i, k)), frozenset((j, k)))
        if any(p in used_pairs for p in pairs):
            continue
        used_pairs.update(pairs)
        cores.append(f"{pool[i]} {pool[j]} {pool[k]}")
    if len(cores) < n:
        raise ValueError(f"shared-pool core space exhausted: "
                         f"{len(cores)} < {n} (pool {P})")
    return cores


class World:
    """The closed entity universe for one fixture.

    Every entity core is "<w1> <w2>" over two dedicated pool words
    (vocab_mult == 1, the correctness-fixture guarantee: cross-entity
    similarity bounded by the pool's 0.3 separation), or a 3-word
    shared-pool core (vocab_mult > 1, the bench-scaling world — see
    _shared_pool_cores). Alias variants per kind:
      person  [core, "dr <core>", "<core>son" (extended w2), "<core> phd"]
      org     [<core> corporation|incorporated, <core> corp|inc, <core>ix]
      city    [core, "<core> city"]
      project ["<w1> <w2>" single form]  (never typed -> undefined objType)
      tool    fixed single names
    """

    def __init__(self, seed: int, n_persons: int, n_orgs: int, n_cities: int,
                 n_projects: int, vocab_mult: int = 1):
        rng = np.random.default_rng(seed)
        n_ent = n_persons + n_orgs + n_cities + n_projects
        if vocab_mult > 1:
            pool_n = min(6000, max(300, int((12 * n_ent) ** 0.5) + 100))
            pool = _coined_words(rng, pool_n)
            cores_list = _shared_pool_cores(rng, pool, n_ent)
            it = iter(cores_list)

            def core():
                return next(it)
        else:
            need = 2 * n_ent
            pool = _coined_words(rng, need)
            wit = iter(pool)

            def core():
                return f"{next(wit)} {next(wit)}"

        self.persons = []
        for i in range(n_persons):
            c = core()
            self.persons.append({
                "key": f"P{i}",
                "aliases": [c, f"dr {c}", f"{c}son", f"{c} phd"],
            })
        self.orgs = []
        for i in range(n_orgs):
            c = core()
            fam = ("corporation", "corp") if i % 2 == 0 else ("incorporated", "inc")
            self.orgs.append({
                "key": f"O{i}",
                "aliases": [f"{c} {fam[0]}", f"{c} {fam[1]}", f"{c}ix"],
            })
        self.cities = []
        for i in range(n_cities):
            c = core()
            self.cities.append({
                "key": f"C{i}",
                "aliases": [c, f"{c} city"],
            })
        self.projects = []
        for i in range(n_projects):
            c = core()
            self.projects.append({
                "key": f"J{i}",
                "aliases": [c],
            })
        self.tools = [{"key": f"T{i}", "aliases": [t]}
                      for i, t in enumerate(_TOOLS)]
        self.by_key = {}
        for group, cls in [(self.persons, "Person"), (self.orgs, "Company"),
                           (self.cities, "City"), (self.projects, None),
                           (self.tools, "Tool")]:
            for e in group:
                e["class"] = cls
                self.by_key[e["key"]] = e


# Templates: (weight, role-kinds). Each renders one turn text and yields
# (mentions, raw triples). Role-typed extraction: the template position
# determines the entity class, mirroring how the engine's regex extractor
# assigns rdf:type (reference analogue: phase-1 type triples,
# `/root/reference/src/main/java/cs/qse/filebased/Parser.java:98-146`).
def _zipf_pick(rng: np.random.Generator, n: int) -> int:
    """Skewed entity pick: small ranks are hot (exercises skew joins)."""
    r = rng.zipf(1.6)
    return int(min(n - 1, r - 1))


def generate(seed: int = 42, n_turns: int = 2000, out_dir: str | None = None,
             n_persons: int | None = None, n_orgs: int | None = None,
             n_cities: int | None = None, n_projects: int | None = None,
             vocab_mult: int = 1) -> str:
    """Generate the fixture; returns the output directory. vocab_mult > 1
    multiplies the entity-world caps (shared-pool 3-word cores) so mention
    vocabulary grows with corpus size — the bench-scaling knob."""
    # entity-world caps bounded by the greedy coined-word pool (~6.5k words
    # at the 0.3 separation threshold -> <=6k words = 3k entities at
    # vocab_mult=1; the shared-pool world lifts the ceiling to sqrt growth)
    m = max(1, int(vocab_mult))
    n_persons = n_persons or max(20, min(1400 * m, n_turns // 40))
    n_orgs = n_orgs or max(10, min(900 * m, n_turns // 60))
    n_cities = n_cities or max(8, min(450 * m, n_turns // 80))
    n_projects = n_projects or max(5, min(250 * m, n_turns // 100))
    world = World(seed, n_persons, n_orgs, n_cities, n_projects,
                  vocab_mult=m)
    rng = np.random.default_rng(seed + 1)

    conv_ids, turn_idxs, roles, texts, tools, tss = [], [], [], [], [], []
    gm = {"conv_id": [], "turn_idx": [], "surface": [], "mention_id": [],
          "entity_key": []}
    gt = {"conv_id": [], "turn_idx": [], "subject": [], "predicate": [],
          "object": [], "obj_kind": []}
    mention_sets: dict[str, set] = {}

    # vocab_mult == 1 (correctness fixtures): pure Zipf picks — small
    # ranks hot, exercises skew handling. vocab_mult > 1 (bench-scaling
    # world): half the picks are UNIFORM so the observed mention
    # vocabulary actually grows with the entity pool — pure Zipf leaves
    # the 16x pool ~87% unvisited (round-4 measurement: 16,130 mentions
    # from a 48,000-entity world), which defeats the point of the
    # vocabulary-scaled benchmark. The short-circuit keeps the
    # vocab_mult=1 RNG stream byte-identical to earlier versions.
    uniform_frac = 0.5 if m > 1 else 0.0

    def pick(group):
        if uniform_frac and rng.random() < uniform_frac:
            e = group[int(rng.integers(len(group)))]
        else:
            e = group[_zipf_pick(rng, len(group))]
        alias = e["aliases"][int(rng.integers(len(e["aliases"])))]
        return e, alias

    def surface_title(s: str) -> str:
        return " ".join(w.capitalize() for w in s.split())

    base_ts = datetime(2025, 1, 1)

    def emit_mention(conv, turn, e, alias):
        mid = normalize_surface(alias)
        gm["conv_id"].append(conv); gm["turn_idx"].append(turn)
        gm["surface"].append(surface_title(alias))
        gm["mention_id"].append(mid); gm["entity_key"].append(e["key"])
        mention_sets.setdefault(e["key"], set()).add(mid)
        return mid

    def emit_triple(conv, turn, s, p, o, kind):
        gt["conv_id"].append(conv); gt["turn_idx"].append(turn)
        gt["subject"].append(s); gt["predicate"].append(p)
        gt["object"].append(o); gt["obj_kind"].append(kind)

    def typed(conv, turn, e, mid):
        if e["class"] is not None:
            emit_triple(conv, turn, mid, TYPE_PREDICATE, e["class"], "iri")

    # Conversation sizing: lognormal lengths + a few giants (skew).
    lens = np.maximum(2, rng.lognormal(2.0, 0.7, size=max(1, n_turns // 10))).astype(int)
    if len(lens) > 3:
        lens[0] = max(lens.max() * 8, 100)  # one giant conversation
    total, convs = 0, []
    for i, ln in enumerate(lens):
        if total >= n_turns:
            break
        ln = int(min(ln, n_turns - total))
        convs.append((f"conv-{i:06d}", ln))
        total += ln

    tmpl_w = np.array([18, 10, 8, 7, 6, 4, 5, 6, 5, 18, 13], dtype=float)
    tmpl_w /= tmpl_w.sum()

    for conv, ln in convs:
        for t in range(ln):
            k = int(rng.choice(11, p=tmpl_w))
            role, tool, text = ("user" if t % 2 == 0 else "assistant"), None, None
            if k == 0:
                p, pa_ = pick(world.persons); o, oa = pick(world.orgs)
                text = f"{surface_title(pa_)} works at {surface_title(oa)}."
                pm = emit_mention(conv, t, p, pa_); om = emit_mention(conv, t, o, oa)
                typed(conv, t, p, pm); typed(conv, t, o, om)
                emit_triple(conv, t, pm, "worksAt", om, "iri")
            elif k == 1:
                o, oa = pick(world.orgs); c, ca = pick(world.cities)
                text = f"{surface_title(oa)} is located in {surface_title(ca)}."
                om = emit_mention(conv, t, o, oa); cm = emit_mention(conv, t, c, ca)
                typed(conv, t, o, om); typed(conv, t, c, cm)
                emit_triple(conv, t, om, "locatedIn", cm, "iri")
            elif k == 2:
                p, pa_ = pick(world.persons); p2, pa2 = pick(world.persons)
                text = f"{surface_title(pa_)} collaborates with {surface_title(pa2)}."
                pm = emit_mention(conv, t, p, pa_); qm = emit_mention(conv, t, p2, pa2)
                typed(conv, t, p, pm); typed(conv, t, p2, qm)
                emit_triple(conv, t, pm, "collaboratesWith", qm, "iri")
            elif k == 3:
                p, pa_ = pick(world.persons)
                age = int(rng.integers(21, 70))
                text = f"{surface_title(pa_)} is {age} years old."
                pm = emit_mention(conv, t, p, pa_); typed(conv, t, p, pm)
                emit_triple(conv, t, pm, "age", str(age), "integer")
            elif k == 4:
                p, pa_ = pick(world.persons)
                d = (datetime(2020, 1, 1) + timedelta(days=int(rng.integers(0, 1800)))).date().isoformat()
                text = f"{surface_title(pa_)} joined on {d}."
                pm = emit_mention(conv, t, p, pa_); typed(conv, t, p, pm)
                emit_triple(conv, t, pm, "joinedOn", d, "date")
            elif k == 5:
                p, pa_ = pick(world.persons)
                lang = list(_LANG_GREETINGS)[int(rng.integers(5))]
                w = _LANG_GREETINGS[lang]
                text = f'{surface_title(pa_)} greeted in {lang}: "{w}".'
                pm = emit_mention(conv, t, p, pa_); typed(conv, t, p, pm)
                emit_triple(conv, t, pm, "greeting", f"{w}@{lang}", "langString")
            elif k == 6:
                o, oa = pick(world.orgs)
                motto = " ".join(_MOTTO_WORDS[int(rng.integers(10))]
                                 for _ in range(2))
                text = f'{surface_title(oa)} motto is "{motto}".'
                om = emit_mention(conv, t, o, oa); typed(conv, t, o, om)
                emit_triple(conv, t, om, "motto", motto, "string")
            elif k == 7:
                p, pa_ = pick(world.persons); j, ja = pick(world.projects)
                text = f"{surface_title(pa_)} contributes to {surface_title(ja)}."
                pm = emit_mention(conv, t, p, pa_); jm = emit_mention(conv, t, j, ja)
                typed(conv, t, p, pm)  # projects stay untyped -> undefined objType
                emit_triple(conv, t, pm, "contributesTo", jm, "iri")
            elif k == 8:
                p, pa_ = pick(world.persons)
                text = f"{surface_title(pa_)} is an employee."
                pm = emit_mention(conv, t, p, pa_); typed(conv, t, p, pm)
                emit_triple(conv, t, pm, TYPE_PREDICATE, "Employee", "iri")
            elif k == 9:
                text = _NOISE[int(rng.integers(len(_NOISE)))]
            else:
                role = "tool"
                # hot tool (index 0) gets ~60% of tool turns: deliberate skew
                ti = 0 if rng.random() < 0.6 else int(rng.integers(1, len(world.tools)))
                e = world.tools[ti]; tool = e["aliases"][0]
                code = int(rng.choice([200, 200, 200, 404, 500]))
                text = f"{tool} returned status {code}."
                tm = emit_mention(conv, t, e, tool); typed(conv, t, e, tm)
                emit_triple(conv, t, tm, "returnedStatus", str(code), "integer")
            conv_ids.append(conv); turn_idxs.append(t); roles.append(role)
            texts.append(text); tools.append(tool)
            tss.append(base_ts + timedelta(hours=len(tss) // 1000,
                                           seconds=30 * t))

    # gold canonical map: canonical id = min mention_id in each alias group
    # that actually appears (same rule the CC stage uses: min id in component).
    canon = {k: min(v) for k, v in mention_sets.items()}
    cmap = {"mention_id": [], "canonical_id": []}
    for k, mids in sorted(mention_sets.items()):
        for m in sorted(mids):
            cmap["mention_id"].append(m)
            cmap["canonical_id"].append(canon[k])

    # gold canonical triples: map mention ids -> canonical, distinct + count.
    key_of = {}
    for m, ek in zip(gm["mention_id"], gm["entity_key"]):
        key_of[m] = ek
    agg: dict[tuple, int] = {}
    for s, p, o, kind in zip(gt["subject"], gt["predicate"], gt["object"],
                             gt["obj_kind"]):
        cs = canon[key_of[s]]
        co = canon[key_of[o]] if kind == "iri" and o in key_of else o
        tkey = (cs, p, co, kind)
        agg[tkey] = agg.get(tkey, 0) + 1
    gct = {"subject": [], "predicate": [], "object": [], "obj_kind": [],
           "cnt": []}
    for (s, p, o, kind), c in sorted(agg.items()):
        gct["subject"].append(s); gct["predicate"].append(p)
        gct["object"].append(o); gct["obj_kind"].append(kind)
        gct["cnt"].append(c)

    # the default path carries the SAME vocab tag ensure_fixture uses:
    # a direct generate(vocab_mult>1) call must never overwrite the
    # vocab_mult=1 fixture directory (round-4 review finding — that both
    # corrupts open readers and churns every input-fingerprint-keyed
    # pipeline checkpoint when the v1 world is regenerated)
    out_dir = out_dir or os.path.join(FIXTURE_ROOT, _fixture_tag(
        seed, n_turns, max(1, int(vocab_mult))))  # NB: not the shadowed m
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "conv_id": pa.array(conv_ids, pa.string()),
        "turn_idx": pa.array(turn_idxs, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": pa.array(texts, pa.string()),
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(tss, pa.timestamp("us")),
    }), os.path.join(out_dir, "transcripts.parquet"),
        # small row groups keep the single file splittable: a one-row-group
        # file collapses a Spark scan to one task regardless of cluster size
        row_group_size=8192)
    pq.write_table(pa.table({k: pa.array(v) for k, v in gm.items()}),
                   os.path.join(out_dir, "gold_mentions.parquet"))
    pq.write_table(pa.table({
        "conv_id": pa.array(gt["conv_id"], pa.string()),
        "turn_idx": pa.array(gt["turn_idx"], pa.int32()),
        "subject": pa.array(gt["subject"], pa.string()),
        "predicate": pa.array(gt["predicate"], pa.string()),
        "object": pa.array(gt["object"], pa.string()),
        "obj_kind": pa.array(gt["obj_kind"], pa.string()),
    }), os.path.join(out_dir, "gold_triples_raw.parquet"))
    pq.write_table(pa.table({k: pa.array(v) for k, v in cmap.items()}),
                   os.path.join(out_dir, "gold_canonical_map.parquet"))
    pq.write_table(pa.table({
        "subject": pa.array(gct["subject"], pa.string()),
        "predicate": pa.array(gct["predicate"], pa.string()),
        "object": pa.array(gct["object"], pa.string()),
        "obj_kind": pa.array(gct["obj_kind"], pa.string()),
        "cnt": pa.array(gct["cnt"], pa.int64()),
    }), os.path.join(out_dir, "gold_triples.parquet"))
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"seed": seed, "n_turns": n_turns, "n_persons": n_persons,
                   "n_orgs": n_orgs, "n_cities": n_cities,
                   "n_projects": n_projects, "vocab_mult": vocab_mult,
                   # v1 worlds are byte-identical across versions 4/5 (the
                   # uniform-mixture pick is short-circuited off), so only
                   # the vocab-scaled worlds carry the bumped version
                   # NB: not the loop-shadowed `m` — the version gate must
                   # agree with ensure_fixture's `want` or caching breaks
                   "version": 4 if max(1, int(vocab_mult)) == 1 else 5}, f)
    return out_dir


def _fixture_tag(seed: int, n_turns: int, vocab_mult: int) -> str:
    """One naming scheme for fixture directories, shared by generate's
    default out_dir and ensure_fixture so the two can never collide."""
    return f"seed{seed}_n{n_turns}" + \
        (f"_v{vocab_mult}" if vocab_mult > 1 else "")


def ensure_fixture(seed: int = 42, n_turns: int = 2000,
                   vocab_mult: int = 1) -> str:
    """Generate-if-missing; safe to call from tests, entry() and bench."""
    out_dir = os.path.join(FIXTURE_ROOT, _fixture_tag(seed, n_turns,
                                                      vocab_mult))
    meta = os.path.join(out_dir, "meta.json")
    want = 4 if vocab_mult <= 1 else 5
    if os.path.exists(meta):
        with open(meta) as f:
            if json.load(f).get("version") == want:
                return out_dir
    return generate(seed=seed, n_turns=n_turns, out_dir=out_dir,
                    vocab_mult=vocab_mult)


def replicated_input(spark, fixture_dir: str, replicate: int,
                     root: str) -> str:
    """The fixture's transcripts replicated `replicate` x under distinct
    conv_ids (`<conv_id>_r<k>`), written once as a 64-file parquet dir
    under `root` and returned. Replication grows the corpus while the
    vocabulary stays fixed; replicate=1 still rewrites, because the
    generator emits ONE parquet file and a single-file scan caps the
    extraction stage at one task per row group.

    The dir is keyed by the fixture dir name and the generator version in
    its meta.json, so it is rebuilt when the world's content changes, not
    only when its size does. Also sets `spark.sql.files.maxPartitionBytes`
    to one file per scan task: packing several Python-heavy files into a
    128 MB partition creates coarse waves whose stragglers idle executors
    at the stage tail (measured 13% on 4 executors)."""
    import glob

    from pyspark.sql import functions as F

    with open(os.path.join(fixture_dir, "meta.json")) as f:
        gen_ver = json.load(f).get("version", 0)
    out = os.path.join(root, f"{os.path.basename(fixture_dir)}"
                       f"x{replicate}g{gen_ver}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        base = spark.read.parquet(os.path.join(fixture_dir,
                                               "transcripts.parquet"))
        (base.withColumn("_r", F.explode(F.sequence(F.lit(1),
                                                    F.lit(replicate))))
         .withColumn("conv_id", F.concat("conv_id", F.lit("_r"),
                                         F.col("_r")))
         .drop("_r")
         .repartition(64)
         .write.mode("overwrite").parquet(out))
    fsz = max((os.path.getsize(p)
               for p in glob.glob(os.path.join(out, "part-*"))), default=0)
    if fsz:
        spark.conf.set("spark.sql.files.maxPartitionBytes",
                       str(fsz + 1024 * 1024))
    return out
