"""V2 — SHACL-core validation report (qse_spark.validation), mirroring
QseSHACLValidator.java:70-134 for the constraint kinds QSE emits."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qse_spark.validation import sh_not_report, validation_report

# Fixture: class A has 3 instances. Property q: e1 has it twice (violates
# the maxCount=1 the ∃-semantics derives from e2's single use), e3 lacks it
# entirely. Property p: e3 uses a rare integer objType that pruning removes
# while the dominant class-C objType survives -> valueType violation.
TRIPLES = [
    ("e1", "rdf:type", "A", "iri"),
    ("e2", "rdf:type", "A", "iri"),
    ("e3", "rdf:type", "A", "iri"),
    ("o1", "rdf:type", "C", "iri"),
    ("e1", "p", "o1", "iri"),
    ("e2", "p", "o1", "iri"),
    ("e3", "p", "7", "integer"),     # support 1/3 -> pruned at conf 0.5
    ("e1", "q", "x", "string"),
    ("e1", "q", "y", "string"),      # cardinality 2
    ("e2", "q", "z", "string"),      # cardinality 1 -> maxCount=1 flag
]


def _report(spark, conf, supp):
    t = spark.createDataFrame(TRIPLES, ["subject", "predicate", "object",
                                        "obj_kind"])
    return validation_report(t, conf, supp)


def test_max_count_violation(spark):
    rows = _report(spark, 0.5, 1).filter(
        F.col("violation") == "maxCount").collect()
    assert {(r["focus"], r["property"], r["cnt"]) for r in rows} == {
        ("e1", "q", 2)}


def test_value_type_violation_from_pruning(spark):
    rows = _report(spark, 0.5, 1).filter(
        F.col("violation") == "valueType").collect()
    # e3's integer objType for p was pruned (conf 1/3 <= 0.5) while the
    # shape for (A, p) survived via the class-C row
    assert {(r["focus"], r["property"], r["obj_type"]) for r in rows} == {
        ("e3", "p", "xsd:integer")}


def test_no_violations_against_default_shapes(spark):
    """Validating the corpus against its own UNPRUNED shapes can only yield
    maxCount rows (∃-semantics); min/valueType are consistent by
    construction."""
    rep = _report(spark, 0.0, 1)
    kinds = {r["violation"] for r in rep.collect()}
    assert "minCount" not in kinds
    assert "valueType" not in kinds


def test_sh_not_conformance_is_the_violation(spark):
    """sh:not flags focus nodes CONFORMING to the negated shape: e3's
    value matches the negated xsd:integer branch, e4 conforms vacuously
    (no values on the path, no minCount in the negated shape); e1/e2
    have a class-C value outside the negated branch set, so they do NOT
    conform and are NOT flagged."""
    triples = [
        ("e1", "rdf:type", "A", "iri"), ("e2", "rdf:type", "A", "iri"),
        ("e3", "rdf:type", "A", "iri"), ("e4", "rdf:type", "A", "iri"),
        ("o1", "rdf:type", "C", "iri"),
        ("e1", "p", "o1", "iri"), ("e2", "p", "o1", "iri"),
        ("e3", "p", "7", "integer"),
    ]
    t = spark.createDataFrame(triples, ["subject", "predicate", "object",
                                        "obj_kind"])
    # (A, p, xsd:integer): support 1 < 2, confidence 0.25 <= 0.5 -> negated;
    # (A, p, C): support 2 -> stays positive
    rows = sh_not_report(t, 0.5, 2).collect()
    assert {(r["focus"], r["target_class"], r["property"], r["obj_type"])
            for r in rows} == {("e3", "A", "p", "xsd:integer"),
                               ("e4", "A", "p", "xsd:integer")}
    assert all(r["not_shape"].endswith("pA_PS_NotShape") for r in rows)


def test_pruned_class_not_validated(spark):
    """A class whose node shape fails the support gate produces no report
    rows at all (no shape -> no constraint)."""
    rep = _report(spark, 0.5, 100)      # class_count 3 <= 100 -> no shapes
    assert rep.count() == 0


def test_value_type_is_existential_per_value_node(spark):
    """SHACL sh:or conformance is existential PER VALUE NODE (Jena
    semantics, QseSHACLValidator.java:70-134 — review finding): an
    object typed {C, D} conforms to a kept sh:class C branch even when
    the D branch is pruned (no spurious row for D), a kept nodeKind-IRI
    (undefined) branch accepts ANY IRI value, and a value whose every
    class is unkept is reported under each of its observed classes."""
    t = spark.createDataFrame(
        [("e1", "rdf:type", "A", "iri"),
         ("e2", "rdf:type", "A", "iri"),
         ("e3", "rdf:type", "A", "iri"),
         # o1 is multi-typed {C, D}: D is the 1/3-confidence minority
         ("o1", "rdf:type", "C", "iri"),
         ("o1", "rdf:type", "D", "iri"),
         ("o2", "rdf:type", "C", "iri"),
         ("o3", "rdf:type", "C", "iri"),
         ("e1", "p", "o1", "iri"),
         ("e2", "p", "o2", "iri"),
         ("e3", "p", "o3", "iri"),
         # r: two untyped-IRI values and one typed-D value -> the
         # undefined branch (conf 2/3) survives 0.5 pruning, D (1/3)
         # does not; the D-typed value still CONFORMS via nodeKind-IRI
         ("e1", "r", "u1", "iri"),
         ("e2", "r", "u2", "iri"),
         ("e3", "r", "o1", "iri")],
        ["subject", "predicate", "object", "obj_kind"])
    rep = validation_report(t, 0.5, 1)
    vt = {(r["focus"], r["property"], r["obj_type"])
          for r in rep.filter(F.col("violation") == "valueType").collect()}
    # e1's p-value o1 conforms through C (kept) despite D being pruned;
    # e3's r-value o1 conforms through the kept undefined/nodeKind-IRI
    # branch despite being typed only with pruned-for-r classes
    assert vt == set(), vt

    # counter-case: no undefined branch for r (u1/u2 typed C) and e3's
    # r-value is a D-ONLY object -> (A, r, C) conf 2/3 kept, (A, r, D)
    # conf 1/3 pruned, value o4 fails ALL branches -> reported under D
    t2 = spark.createDataFrame(
        [("e1", "rdf:type", "A", "iri"),
         ("e2", "rdf:type", "A", "iri"),
         ("e3", "rdf:type", "A", "iri"),
         ("u1", "rdf:type", "C", "iri"),
         ("u2", "rdf:type", "C", "iri"),
         ("o4", "rdf:type", "D", "iri"),
         ("e1", "r", "u1", "iri"),
         ("e2", "r", "u2", "iri"),
         ("e3", "r", "o4", "iri")],
        ["subject", "predicate", "object", "obj_kind"])
    rep2 = validation_report(t2, 0.5, 1)
    vt2 = {(r["focus"], r["property"], r["obj_type"])
           for r in rep2.filter(F.col("violation") == "valueType").collect()}
    assert vt2 == {("e3", "r", "D")}, vt2


def test_sh_not_report_sampled_matches_emitted_wrappers(spark):
    """sh_not_report(sampled=True) must describe the SAME wrapper set a
    sampled TTL artifact contains (relative complement rule,
    negativePruning ShapesExtractor.java:400-404) — the absolute rule
    would also report wrappers the emitted file does not have (round-4
    review finding). Ratios are 0.5, so at (C=0.5, S=100) the support-60
    row is absolute-only: reported without sampled=, gone with it."""
    xsd_s = "xsd:string"
    st = spark.createDataFrame(
        [("http://ex/C", "http://ex/keep", xsd_s, 80, 0.9,
          200, 100, 100, 100),
         ("http://ex/C", "http://ex/relonly", xsd_s, 10, 0.1,
          200, 100, 100, 100),
         ("http://ex/C", "http://ex/absonly", xsd_s, 60, 0.1,
          200, 100, 100, 100)],
        "class string, property string, obj_type string, support long, "
        "confidence double, class_count long, sampled_class_count long, "
        "prop_count long, sampled_prop_count long")
    t = spark.createDataFrame(
        [("e1", "rdf:type", "http://ex/C", "iri"),
         ("e1", "http://ex/relonly", "v", "string")],
        ["subject", "predicate", "object", "obj_kind"])
    rel = {r.not_shape for r in sh_not_report(
        t, 0.5, 100, stats=st, sampled=True).collect()}
    assert rel and all("absonly" not in s for s in rel)
    assert any("relonlyC_PS_NotShape" in s for s in rel)
    ab = {r.not_shape for r in sh_not_report(t, 0.5, 100, stats=st).collect()}
    assert any("absonly" in s for s in ab)  # the discriminator


@pytest.mark.skipif(not os.path.isdir("/root/reference/validation/example"),
                    reason="reference validation/example/ not present")
def test_cross_engine_shacl_mini_validator(spark, tmp_path):
    """Cross-engine V2 check (round-4 verdict missing #2): the relational
    validation_report vs qse_spark.shaclcheck — an independent pure-Python
    per-focus-node SHACL-core interpreter over the EMITTED shapes TTL
    artifact (the pyshacl/Jena stand-in; neither is installable in this
    environment). Shapes are extracted from the reference's own
    example_data.ttl (the file QseSHACLValidator.java:70-134 validates),
    violations are planted in a mutated corpus, and the two engines must
    report the identical violation set. sh:in shapes (the instance-type
    property) are excluded per shaclcheck's documented deltas."""
    import glob

    from qse_spark import shaclcheck
    from qse_spark.shapes import pruned_shapes, write_ttl
    from qse_spark.sources import read_turtle
    from qse_spark.sources.turtle import RDF_TYPE
    from qse_spark.stats import shape_stats

    conf, supp = 0.25, 1
    orig = read_turtle(spark, "/root/reference/validation/example/"
                              "example_data.ttl")
    stats = shape_stats(orig, type_predicate=RDF_TYPE).localCheckpoint()
    ns, ps = pruned_shapes(stats, conf, supp, type_predicate=RDF_TYPE)
    out = str(tmp_path / "shapes_ttl")
    write_ttl(ns.coalesce(1), ps.coalesce(1), out)
    ttl = "".join(open(p).read()
                  for p in sorted(glob.glob(f"{out}/part-*")))

    rows = [(r["subject"], r["predicate"], r["object"], r["obj_kind"])
            for r in orig.collect()]
    S = "http://schema.org/"
    E = "http://example.org/ns#"
    mutated = [t for t in rows
               # planted minCount: Bob loses his address (min_count 1)
               if not (t[0] == f"{E}Bob" and t[1] == f"{S}address")] + [
        # planted maxCount: Alice gets a second distinct birthDate
        (f"{E}Alice", f"{S}birthDate", "1999-01-01", "date"),
        # planted valueType (literal): integer givenName vs xsd:string
        (f"{E}Bob", f"{S}givenName", "42", "integer"),
        # planted valueType (IRI on a datatype-only branch): obj_type
        # resolves to the undefined sentinel in both engines
        (f"{E}Alice", f"{S}deathDate", f"{E}SomewhereElse", "iri"),
    ]
    mdf = spark.createDataFrame(
        mutated, ["subject", "predicate", "object", "obj_kind"])

    got_spark = {
        (r["focus"], r["target_class"], r["property"], r["violation"],
         r["obj_type"], int(r["cnt"]) if r["cnt"] is not None else None)
        for r in validation_report(mdf, conf, supp,
                                   type_predicate=RDF_TYPE,
                                   stats=stats).collect()
        if r["property"] != RDF_TYPE}
    got_mini = {
        (f, c, p, v, o, n)
        for (f, c, p, v, o, n) in shaclcheck.validate(
            ttl, mutated, type_predicate=RDF_TYPE)
        if v != "inList" and p != RDF_TYPE}

    assert got_mini == got_spark, (
        f"mini-only: {got_mini - got_spark}\n"
        f"spark-only: {got_spark - got_mini}")
    # planted violations all surfaced (not a vacuous equality)
    kinds = {v for (_, _, _, v, _, _) in got_spark}
    assert kinds == {"minCount", "maxCount", "valueType"}, got_spark

    # self-validation sanity: both engines are clean on the untouched data
    clean_spark = validation_report(
        orig, conf, supp, type_predicate=RDF_TYPE, stats=stats).count()
    clean_mini = {t for t in shaclcheck.validate(
        ttl, rows, type_predicate=RDF_TYPE) if t[3] != "inList"}
    assert clean_spark == 0 and clean_mini == set()


def test_cross_engine_shacl_mini_sh_or_and_pruning(spark, tmp_path):
    """Second cross-engine case, on the module's synthetic corpus: at
    (0.25, 1) property p keeps BOTH objType branches -> the emitted PS
    carries an sh:or union and the mini-validator must apply per-VALUE
    existential semantics; at (0.5, 1) the integer branch is pruned ->
    e3's value becomes a valueType violation in BOTH engines, alongside
    the ∃-semantics maxCount flag on q. Violation sets must be identical
    at both thresholds."""
    import glob

    from qse_spark import shaclcheck
    from qse_spark.shapes import pruned_shapes, write_ttl
    from qse_spark.stats import shape_stats

    # full-IRI copy of the module corpus: the TTL sink namespace-prefixes
    # bare names (shapes._iri), so a TTL-interpreting validator can only
    # match focus classes / paths that are real IRIs in the data — as
    # they are in any real corpus (the module's bare-name TRIPLES stay
    # for the relational-report tests, which never round-trip TTL)
    NS = "http://shaclshapes.org/"
    iri = {"A": f"{NS}A", "C": f"{NS}C", "p": f"{NS}p", "q": f"{NS}q"}
    corpus = [(s, iri.get(p, p), iri.get(o, o) if k == "iri" else o, k)
              for (s, p, o, k) in TRIPLES]
    t = spark.createDataFrame(corpus, ["subject", "predicate", "object",
                                       "obj_kind"])
    stats = shape_stats(t).localCheckpoint()
    for conf in (0.25, 0.5):
        ns, ps = pruned_shapes(stats, conf, 1)
        out = str(tmp_path / f"ttl_{conf}")
        write_ttl(ns.coalesce(1), ps.coalesce(1), out)
        ttl = "".join(open(p).read()
                      for p in sorted(glob.glob(f"{out}/part-*")))
        got_spark = {
            (r["focus"], r["target_class"], r["property"], r["violation"],
             r["obj_type"], int(r["cnt"]) if r["cnt"] is not None else None)
            for r in validation_report(t, conf, 1, stats=stats).collect()
            if r["property"] != "rdf:type"}
        got_mini = {
            row for row in shaclcheck.validate(
                ttl, corpus, type_predicate="rdf:type")
            if row[3] != "inList" and row[2] != "rdf:type"}
        assert got_mini == got_spark, (conf, got_mini ^ got_spark)
    # the 0.5 threshold must actually exercise both violation kinds
    assert {v for (_, _, _, v, _, _) in got_spark} == {"maxCount",
                                                       "valueType"}
