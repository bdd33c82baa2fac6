"""Each correctness check of the benchmark fails on a corrupted output.

    python3 -m pytest qsebench/test_checks.py -q

Fast: no Spark. The "program output" is the gold itself, which every check
must accept, then one corruption at a time, which it must reject.
"""

from __future__ import annotations

import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import oracle  # noqa: E402

CONF, SUPP = 0.25, 10


@pytest.fixture(scope="module")
def gold(tmp_path_factory):
    d = inputs._world(3, 4000, 8, str(tmp_path_factory.mktemp("world")))
    return oracle.Gold(d, replicate=2)


def test_gold_passes_every_check(gold):
    assert oracle.check_canonical_triples(gold.canonical_triples, gold) == []
    assert oracle.check_cnt_conserved(gold.raw_triples, gold.raw_triples,
                                      gold) == []
    assert oracle.check_canonical_map(gold.canonical_map.items(), gold) == []
    assert oracle.check_stats(gold.stats, gold.stats) == []
    assert oracle.check_validation(gold.validation(CONF, SUPP),
                                   gold.validation(CONF, SUPP)) == []
    assert oracle.check_approx(_approx(gold), gold.stats, 1000, 10.0) == []


def test_dropped_canonical_triple_fails(gold):
    rows = sorted(gold.canonical_triples)[1:]
    assert oracle.check_canonical_triples(rows, gold)


def test_lost_cnt_fails(gold):
    assert oracle.check_cnt_conserved(gold.raw_triples,
                                      gold.raw_triples - 1, gold)


def test_two_entities_merged_fails(gold):
    ids = sorted(set(gold.canonical_map.values()))
    a, b = ids[0], ids[1]
    merged = {m: (a if c == b else c) for m, c in gold.canonical_map.items()}
    assert oracle.check_canonical_map(merged.items(), gold)


def test_canonical_id_not_fixed_fails(gold):
    m = dict(gold.canonical_map)
    c, other = min((v, k) for k, v in m.items() if k != v)
    m[c] = other
    assert oracle.check_canonical_map(m.items(), gold)


def test_support_off_by_one_fails(gold):
    rows = [list(r) for r in gold.stats]
    rows[0][3] += 1
    assert oracle.check_stats([tuple(r) for r in rows], gold.stats)


def test_missing_violation_row_fails(gold):
    want = gold.validation(CONF, SUPP)
    assert want, "the world must have violations at these thresholds"
    assert oracle.check_validation(sorted(want, key=repr)[1:], want)


def test_empty_validation_oracle_fails():
    assert oracle.check_validation([], set())


def _approx(gold, cap=1000, pct=10.0):
    out = []
    for c, p, o, sup, n, *_ in gold.stats:
        sampled = min(cap, math.ceil(pct / 100.0 * n))
        out.append((c, p, o, min(sup, sampled), n, sampled))
    return out


def test_wrong_sampled_class_count_fails(gold):
    rows = _approx(gold)
    c, p, o, sup, n, sampled = rows[0]
    rows[0] = (c, p, o, sup, n, sampled + 1)
    assert oracle.check_approx(rows, gold.stats, 1000, 10.0)


def test_approx_support_above_exact_fails(gold):
    rows = _approx(gold, cap=10**9, pct=100.0)
    c, p, o, sup, n, sampled = rows[0]
    rows[0] = (c, p, o, sup + 1, n, sampled)
    assert oracle.check_approx(rows, gold.stats, 10**9, 100.0)


def test_shape_classes(gold):
    kept = sorted({r[0] for r in gold.stats if r[4] > SUPP})
    ttl = "".join(f"<s{c}> sh:targetClass <{oracle.SHAPES_NS}{c}> .\n"
                  for c in kept)
    assert oracle.check_shape_classes(ttl, gold.stats, SUPP) == []
    dropped = ttl.split("\n", 1)[1]
    assert oracle.check_shape_classes(dropped, gold.stats, SUPP)
