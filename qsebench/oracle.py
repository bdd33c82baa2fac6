"""Independent answers and the checks that compare the program against them.

Everything here is computed apart from the program: DuckDB SQL written for
this benchmark (it does not import `qse_spark.oracles`) over the generator's
gold files, and plain Python over collected rows. Each `check_*` function
returns a list of failure messages, empty when the output is correct; the
tests in test_checks.py feed each one a corrupted output.
"""

from __future__ import annotations

import math

import duckdb

TYPE = "rdf:type"
UNDEF = "http://shaclshapes.org/object-type/undefined"
SHAPES_NS = "http://shaclshapes.org/"

_LITERAL_TYPE = """CASE {k} WHEN 'integer' THEN 'xsd:integer'
                      WHEN 'date' THEN 'xsd:date'
                      WHEN 'langString' THEN 'rdf:langString'
                      ELSE 'xsd:string' END"""

STATS_COLS = ("class", "property", "obj_type", "support", "class_count",
              "confidence", "min_count", "max_count")


def stats_sql(rel: str) -> str:
    """QSE statistics of a (subject, predicate, object, obj_kind, cnt)
    relation: support and confidence per (class, property, object type);
    an IRI object counts once per class of the object entity, or as UNDEF;
    min_count 1 when every instance has the pair; max_count 1 when some
    instance of the class uses the property with weighted cardinality <= 1.
    """
    return f"""
WITH types AS (
  SELECT DISTINCT subject AS ent, object AS cls FROM {rel}
  WHERE predicate = '{TYPE}'),
sizes AS (SELECT cls, count(*) AS class_count FROM types GROUP BY cls),
typed_values AS (
  SELECT r.subject AS ent, r.predicate AS prop,
         coalesce(o.cls, '{UNDEF}') AS ot, r.cnt AS w
  FROM {rel} r LEFT JOIN types o ON o.ent = r.object
  WHERE r.obj_kind = 'iri'
  UNION ALL
  SELECT subject, predicate, {_LITERAL_TYPE.format(k="obj_kind")}, cnt
  FROM {rel} WHERE obj_kind <> 'iri'),
per_entity AS (
  SELECT ent, prop, ot, sum(w) AS w FROM typed_values GROUP BY ALL),
support AS (
  SELECT t.cls, p.prop, p.ot, count(*) AS support
  FROM per_entity p JOIN types t ON t.ent = p.ent GROUP BY ALL),
cardinality AS (
  SELECT t.cls, p.ent, p.prop, sum(p.w) AS n
  FROM per_entity p JOIN types t ON t.ent = p.ent GROUP BY ALL),
max_flag AS (
  SELECT cls, prop, CASE WHEN min(n) <= 1 THEN 1 END AS max_count
  FROM cardinality GROUP BY ALL)
SELECT s.cls AS class, s.prop AS property, s.ot AS obj_type,
       s.support, z.class_count,
       s.support::DOUBLE / z.class_count AS confidence,
       CASE WHEN s.support = z.class_count THEN 1 END AS min_count,
       m.max_count
FROM support s JOIN sizes z USING (cls)
LEFT JOIN max_flag m ON m.cls = s.cls AND m.prop = s.prop
"""


def _gate(col: str, support: int) -> str:
    return f"{col} >= {support}" if support == 1 else f"{col} > {support}"


def validation_sql(triples: str, stats: str, confidence: float,
                   support: int) -> str:
    """SHACL-core violations of the QSE-Pruned shapes at (confidence,
    support): node shapes for classes passing the support gate, property
    shapes from the rows passing both thresholds. Rows are (focus,
    target_class, property, violation, obj_type, cnt)."""
    lit = _LITERAL_TYPE.format(k="v.kind")
    return f"""
WITH types AS (
  SELECT DISTINCT subject AS ent, object AS cls FROM {triples}
  WHERE predicate = '{TYPE}'),
node_shapes AS (
  SELECT class AS cls FROM {stats} GROUP BY class
  HAVING {_gate("max(class_count)", support)}),
kept AS (
  SELECT * FROM {stats}
  WHERE confidence > {confidence} AND {_gate("support", support)}
    AND class IN (SELECT cls FROM node_shapes)),
prop_shapes AS (
  SELECT class AS cls, property AS prop,
         bool_or(support = class_count)
           OR (count(*) = 1 AND bool_or(obj_type = '{UNDEF}')) AS min1,
         max(max_count) = 1 AS max1
  FROM kept GROUP BY ALL),
focus AS (SELECT * FROM types WHERE cls IN (SELECT cls FROM node_shapes)),
uses AS (
  SELECT subject AS ent, predicate AS prop, count(DISTINCT object) AS n
  FROM {triples} GROUP BY ALL),
v_min AS (
  SELECT f.ent, f.cls, p.prop, 'minCount' AS violation,
         NULL::VARCHAR AS obj_type, NULL::BIGINT AS cnt
  FROM focus f JOIN prop_shapes p ON p.cls = f.cls AND p.min1
  WHERE NOT EXISTS (SELECT 1 FROM uses u
                    WHERE u.ent = f.ent AND u.prop = p.prop)),
v_max AS (
  SELECT f.ent, f.cls, p.prop, 'maxCount', NULL, u.n
  FROM focus f JOIN prop_shapes p ON p.cls = f.cls AND p.max1
  JOIN uses u ON u.ent = f.ent AND u.prop = p.prop
  WHERE u.n > 1),
vals AS (
  SELECT DISTINCT f.ent, f.cls, t.predicate AS prop, t.object AS obj,
         t.obj_kind AS kind
  FROM {triples} t JOIN focus f ON f.ent = t.subject
  JOIN prop_shapes p ON p.cls = f.cls AND p.prop = t.predicate),
iri_vals AS (
  SELECT v.ent, v.cls, v.prop, v.obj, coalesce(o.cls, '{UNDEF}') AS ot
  FROM vals v LEFT JOIN types o ON o.ent = v.obj WHERE v.kind = 'iri'),
iri_ok AS (
  SELECT DISTINCT i.ent, i.cls, i.prop, i.obj FROM iri_vals i
  JOIN kept k ON k.class = i.cls AND k.property = i.prop
             AND k.obj_type = i.ot),
bad AS (
  SELECT i.ent, i.cls, i.prop, i.ot FROM iri_vals i
  WHERE NOT EXISTS (SELECT 1 FROM iri_ok g WHERE g.ent = i.ent
                    AND g.cls = i.cls AND g.prop = i.prop AND g.obj = i.obj)
    AND NOT EXISTS (SELECT 1 FROM kept k WHERE k.class = i.cls
                    AND k.property = i.prop AND k.obj_type = '{UNDEF}')
  UNION ALL
  SELECT v.ent, v.cls, v.prop, {lit} FROM vals v
  WHERE v.kind <> 'iri'
    AND NOT EXISTS (SELECT 1 FROM kept k WHERE k.class = v.cls
                    AND k.property = v.prop AND k.obj_type = {lit})),
v_type AS (
  SELECT DISTINCT ent, cls, prop, 'valueType', ot, NULL::BIGINT FROM bad)
SELECT * FROM v_min UNION ALL SELECT * FROM v_max
UNION ALL SELECT * FROM v_type
"""


class Gold:
    """The generator's gold files, scaled by the workload's replication."""

    def __init__(self, gold_dir: str, replicate: int):
        self.db = duckdb.connect()
        self.db.execute(
            f"CREATE TABLE canon AS SELECT subject, predicate, object, "
            f"obj_kind, cnt * {replicate} AS cnt "
            f"FROM read_parquet('{gold_dir}/gold_triples.parquet')")
        self.raw_triples = self.db.execute(
            f"SELECT count(*) FROM read_parquet("
            f"'{gold_dir}/gold_triples_raw.parquet')").fetchone()[0] \
            * replicate
        self.canonical_map = dict(self.db.execute(
            f"SELECT mention_id, canonical_id FROM read_parquet("
            f"'{gold_dir}/gold_canonical_map.parquet')").fetchall())
        self.canonical_triples = set(
            self.db.execute("SELECT * FROM canon").fetchall())
        self.db.execute(f"CREATE TABLE stats AS {stats_sql('canon')}")
        self.stats = self.db.execute(
            f"SELECT {', '.join(STATS_COLS)} FROM stats").fetchall()

    def validation(self, confidence: float, support: int) -> set[tuple]:
        return set(self.db.execute(
            validation_sql("canon", "stats", confidence, support)).fetchall())


# ------------------------------------------------------------------ checks

def _diff(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    extra, missing = sorted(got - want, key=repr), sorted(want - got, key=repr)
    return [f"{name}: {len(extra)} unexpected {extra[:3]}, "
            f"{len(missing)} missing {missing[:3]}"]


def check_canonical_triples(rows, gold: Gold) -> list[str]:
    """Canonical (subject, predicate, object, obj_kind, cnt) == gold."""
    return _diff("canonical triples", {tuple(r) for r in rows},
                 gold.canonical_triples)


def check_cnt_conserved(group_cnt: int, canon_cnt: int,
                        gold: Gold) -> list[str]:
    """Σcnt of triple_groups and of the canonical triples both equal the
    gold raw-triple count × replication."""
    want = gold.raw_triples
    return [f"Σcnt of {name} is {got}, gold raw triples × replication "
            f"is {want}"
            for name, got in (("triple_groups", group_cnt),
                              ("canonical triples", canon_cnt))
            if got != want]


def check_canonical_map(pairs, gold: Gold) -> list[str]:
    """The map partitions the mentions exactly as the gold map does, and
    every canonical id maps to itself."""
    got = dict(pairs)
    want = gold.canonical_map
    errs = _diff("mapped mentions", set(got), set(want))
    if errs:
        return errs
    blocks = {(got[m], want[m]) for m in want}
    if not (len(blocks) == len({c for c, _ in blocks})
            == len(set(want.values()))):
        errs.append(f"canonical map: {len(set(got.values()))} components, "
                    f"gold has {len(set(want.values()))}, and "
                    f"{len(blocks)} (program, gold) id pairs")
    not_fixed = sorted(c for c in set(got.values()) if got.get(c) != c)
    if not_fixed:
        errs.append(f"canonical ids that do not map to themselves: "
                    f"{not_fixed[:3]}")
    return errs


def _stats_rows(rows) -> set[tuple]:
    out = set()
    for r in rows:
        r = tuple(r)
        out.add(r[:5] + (round(float(r[5]), 12),)
                + tuple(None if v is None else int(v) for v in r[6:8]))
    return out


def check_stats(rows, want_rows, name: str = "shape stats") -> list[str]:
    """Rows of STATS_COLS equal, confidence to 12 decimals."""
    return _diff(name, _stats_rows(rows), _stats_rows(want_rows))


def check_validation(rows, want: set[tuple]) -> list[str]:
    got = {tuple(r[:5]) + (None if r[5] is None else int(r[5]),)
           for r in rows}
    if not want:
        return ["validation oracle is empty: the check would be vacuous"]
    return _diff("validation report", got, want)


def check_approx(rows, exact_rows, cap: int, pct: float) -> list[str]:
    """rows: (class, property, obj_type, support, class_count,
    sampled_class_count). sampled_class_count = min(cap, ceil(pct/100 ·
    class_count)); support <= sampled_class_count and <= exact support."""
    exact = {tuple(r[:3]): r[3] for r in exact_rows}
    errs = []
    for c, p, o, sup, n, sampled in rows:
        want = min(cap, math.ceil(pct / 100.0 * n))
        if sampled != want:
            errs.append(f"approx {c}: sampled_class_count {sampled}, "
                        f"want min({cap}, ceil({pct}% of {n})) = {want}")
        if sup > sampled or sup > exact.get((c, p, o), -1):
            errs.append(f"approx {(c, p, o)}: support {sup} exceeds "
                        f"sampled {sampled} or exact "
                        f"{exact.get((c, p, o))}")
    if not rows:
        errs.append("approx stats are empty")
    return errs[:5]


def check_shape_classes(ttl: str, stats_rows, support: int) -> list[str]:
    """The TTL's node shapes target exactly the classes whose instance
    count passes the support gate (> support, >= when support is 1)."""
    import re
    got = set(re.findall(r"sh:targetClass\s+<([^>]+)>", ttl))
    sizes = {r[0]: r[4] for r in stats_rows}
    want = {c if "://" in c else SHAPES_NS + c for c, n in sizes.items()
            if (n >= support if support == 1 else n > support)}
    if not want:
        return ["no class passes the support gate: the check would be "
                "vacuous"]
    return _diff("node shape classes", got, want)
