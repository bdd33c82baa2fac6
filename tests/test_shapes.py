"""Shape construction: constraint kinds, sh:or grouping, forced minCount,
node-shape pruning gates, sh:node post-annotation, TTL rendering, metrics,
precision/recall parity (V1)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from qse_spark.constants import SHAPES_NAMESPACE, UNDEFINED_OBJECT_TYPE
from qse_spark.shapes import (annotate_sh_node, node_shapes, precision_recall,
                              property_shapes, pruned_shapes, render_ttl_rows,
                              shape_metrics, write_ttl)
from qse_spark.stats import shape_stats

MICRO = [
    ("e1", "rdf:type", "A", "iri"),
    ("e2", "rdf:type", "A", "iri"),
    ("o1", "rdf:type", "C", "iri"),
    ("e1", "p", "o1", "iri"),
    ("e1", "p", "5", "integer"),     # p has two objTypes -> sh:or
    ("e2", "p", "o1", "iri"),
    ("e1", "u", "ox", "iri"),        # sole undefined objType -> minCount 1
    ("e2", "u", "oy", "iri"),
]


def _stats(spark):
    return shape_stats(spark.createDataFrame(
        MICRO, ["subject", "predicate", "object", "obj_kind"])).cache()


def test_property_shape_kinds_and_or(spark):
    ps = {(r["target_class"], r["path"]): r
          for r in property_shapes(_stats(spark)).collect()}
    p = ps[("A", "p")]
    assert p["uses_or"] and p["n_obj_types"] == 2
    kinds = {c["kind"] for c in p["constraints"]}
    assert kinds == {"class", "datatype"}
    u = ps[("A", "u")]
    assert not u["uses_or"]
    assert u["constraints"][0]["kind"] == "nodeKind"
    assert u["min_count"] == 1          # forced: sole undefined objType
    t = ps[("A", "rdf:type")]
    assert t["constraints"][0]["kind"] == "in"
    assert t["min_count"] == 1          # support == class_count


def test_shape_naming(spark):
    ns = {r["target_class"]: r["node_shape"]
          for r in node_shapes(_stats(spark)).collect()}
    assert ns["A"] == f"{SHAPES_NAMESPACE}AShape"
    ps = property_shapes(_stats(spark)).collect()
    assert any(r["prop_shape"] == f"{SHAPES_NAMESPACE}pAShapeProperty"
               for r in ps)


def test_pruned_shapes_gates(spark):
    st = _stats(spark)
    ns, ps = pruned_shapes(st, confidence=0.9, support=1)
    # class C has 1 instance -> survives S==1 gate (>=); A survives
    assert {r["target_class"] for r in ns.collect()} == {"A", "C"}
    # confidence 0.9: only conf-1.0 rows survive; type property always kept
    paths = {(r["target_class"], r["path"]) for r in ps.collect()}
    assert ("A", "rdf:type") in paths
    assert ("A", "u") in paths          # undefined row has conf 1.0
    ns2, _ = pruned_shapes(st, confidence=0.0, support=1000)
    assert ns2.count() == 0             # class_count gate


def test_sh_node_annotation(spark):
    st = _stats(spark)
    ns = node_shapes(st)
    ann = annotate_sh_node(property_shapes(st), ns)
    by = {(r["target_class"], r["path"]): r["sh_node"] for r in ann.collect()}
    # (A, u) single undefined -> no sh_node; single-class shapes pointing at
    # C get C's node shape
    assert by[("A", "u")] is None
    # p has 2 objTypes -> not single-class -> None
    assert by[("A", "p")] is None


def test_ttl_render_and_write(spark, tmp_path):
    st = _stats(spark)
    ns, ps = node_shapes(st), property_shapes(st)
    chunks = render_ttl_rows((
        [r.asDict() for r in ns.collect()],
        [r.asDict(recursive=True) for r in ps.collect()]))
    txt = "".join(chunks)
    assert "sh:NodeShape" in txt and "sh:PropertyShape" in txt
    assert "sh:or" in txt and "sh:minCount 1" in txt
    assert f"<{SHAPES_NAMESPACE}AShape>" in txt
    out = str(tmp_path / "shapes.ttl")
    write_ttl(ns.coalesce(1), ps.coalesce(1), out)
    import glob
    files = glob.glob(f"{out}/part-*")
    assert files
    body = open(files[0]).read()
    assert body.startswith("@prefix sh:")
    assert "sh:targetClass" in body


def test_shape_metrics(spark):
    st = _stats(spark)
    m = shape_metrics(node_shapes(st), property_shapes(st))
    assert m["node_shapes"] == 2        # classes A and C
    assert m["property_shapes"] >= 4
    assert m["sh_or_shapes"] == 1
    assert m["min_count_constraints"] >= 2
    assert m["avg_ps_per_ns"] > 0


def test_precision_recall(spark):
    a = spark.createDataFrame([("x",), ("y",), ("z",)], ["k"])
    b = spark.createDataFrame([("x",), ("y",), ("w",)], ["k"])
    pr = precision_recall(a, b)
    assert abs(pr["precision"] - 2 / 3) < 1e-9
    assert abs(pr["recall"] - 2 / 3) < 1e-9


def test_shape_metrics_df_matches_dict(spark):
    from qse_spark.shapes import shape_metrics_df
    st = _stats(spark)
    row = shape_metrics_df(st).collect()[0].asDict()
    m = shape_metrics(node_shapes(st), property_shapes(st))
    for key in ("node_shapes", "property_shapes", "class_constraints",
                "literal_constraints", "undefined_constraints",
                "min_count_constraints", "max_count_constraints",
                "sh_or_shapes", "min_ps_per_ns", "max_ps_per_ns"):
        assert row[key] == m[key], key
    assert abs(row["avg_ps_per_ns"] - m["avg_ps_per_ns"]) < 1e-6


def test_min_cardinality_rule(spark):
    from qse_spark.shapes import min_cardinality
    st = _stats(spark)
    out = min_cardinality(st, 0.5, 1)
    for r in out.collect():
        expected = 1 if (r["support"] > 1 and r["confidence"] > 0.5) else None
        assert r["min_count_exp"] == expected, r


def test_negative_shapes_sh_not(spark, tmp_path):
    """S13 back half: complement rows become sh:not wrapper shapes with the
    reference's _PS_NotShape naming, and they render into the TTL."""
    from qse_spark.shapes import negative_shapes
    from qse_spark.stats import shape_stats
    # a third A instance lifts class_count to 3 so A passes the node-shape
    # gate at S=2 (negative_shapes now applies ns_support_gate, matching
    # the reference's buildAndPruneShapes — review finding); the original
    # MICRO world (class_count == 2) is the gate-dropped case below
    st = shape_stats(spark.createDataFrame(
        MICRO + [("e3", "rdf:type", "A", "iri")],
        ["subject", "predicate", "object", "obj_kind"])).cache()
    # (A, p, xsd:integer): support 1, conf 1/3 -> negative under (0.5, 2)
    neg = negative_shapes(st, confidence=0.5, support=2)
    rows = {(r["target_class"], r["path"]): r for r in neg.collect()}
    assert ("A", "p") in rows
    # gate-dropped: without the third instance, class_count == S == 2
    # fails ns_support_gate and NO sh:not row may resurrect class A
    ungated = negative_shapes(_stats(spark), confidence=0.5, support=2)
    assert ungated.filter("target_class = 'A'").count() == 0
    r = rows[("A", "p")]
    assert r["not_shape"] == f"{SHAPES_NAMESPACE}pA_PS_NotShape"
    # the inner negated prop shape must NOT reuse the positive
    # `...ShapeProperty` IRI (one subject, conflicting constraints when
    # both shape sets land in one TTL graph)
    assert r["prop_shape"] == f"{SHAPES_NAMESPACE}pANegShapeProperty"
    ns = node_shapes(st)
    out = str(tmp_path / "neg.ttl")
    write_ttl(ns.coalesce(1), property_shapes(st).limit(0).coalesce(1), out,
              neg_props=neg.coalesce(1))
    import glob
    body = open(glob.glob(f"{out}/part-*")[0]).read()
    assert f"sh:not <{SHAPES_NAMESPACE}pA_PS_NotShape>" in body
    assert f"<{SHAPES_NAMESPACE}pA_PS_NotShape> a sh:NodeShape" in body


def test_annotate_examples_and_ttl(spark, tmp_path):
    """E4: example annotations join into shape records and render as
    <http://example.org/example> lines."""
    from qse_spark.constants import EXAMPLE_PRED
    from qse_spark.operators.examples import example_nodes, example_values
    from qse_spark.shapes import annotate_examples
    from qse_spark.stats import entity_types_df
    st = _stats(spark)
    t = spark.createDataFrame(MICRO, ["subject", "predicate", "object",
                                      "obj_kind"])
    ets = entity_types_df(t)
    exn = example_nodes(ets, k=2, seed=100)
    exv = example_values(
        t.filter(F.col("predicate") != "rdf:type")
        .select(F.col("subject").alias("entity"),
                F.col("predicate").alias("property"),
                F.col("object").alias("obj_value")),
        ets, k=2, seed=100)
    n2, p2 = annotate_examples(node_shapes(st), property_shapes(st), exn, exv)
    nrows = {r["target_class"]: r["examples"] for r in n2.collect()}
    assert set(nrows["A"].split("\x1f")) == {"e1", "e2"}
    prows = {(r["target_class"], r["path"]): r["examples"]
             for r in p2.collect()}
    assert set(prows[("A", "p")].split("\x1f")) <= {"o1", "5"}
    assert prows[("A", "rdf:type")] is None      # E2 excludes type triples
    out = str(tmp_path / "ex.ttl")
    write_ttl(n2.coalesce(1), p2.coalesce(1), out)
    import glob
    body = open(glob.glob(f"{out}/part-*")[0]).read()
    assert f"<{EXAMPLE_PRED}>" in body


def test_read_ttl_shapes_roundtrip(spark, tmp_path):
    """V1 tooling: write_ttl -> read_ttl_shapes recovers exactly the shape
    keys, so P/R can run against reference-emitted TTL files."""
    from qse_spark.shapes import read_ttl_shapes
    st = _stats(spark)
    ns, ps = node_shapes(st), property_shapes(st)
    out = str(tmp_path / "rt.ttl")
    write_ttl(ns.coalesce(1), ps.coalesce(1), out)
    back = read_ttl_shapes(spark, out)
    got_ns = {(r["shape"], r["key"]) for r in
              back.filter(F.col("kind") == "NS").collect()}
    exp_ns = {(r["node_shape"], f"{SHAPES_NAMESPACE}{r['target_class']}")
              for r in ns.collect()}
    assert got_ns == exp_ns
    got_ps = {r["shape"] for r in back.filter(F.col("kind") == "PS").collect()}
    exp_ps = {r["prop_shape"] for r in ps.collect()}
    assert got_ps == exp_ps
    from qse_spark.shapes import precision_recall
    pr = precision_recall(back, back)
    assert pr["precision"] == 1.0 and pr["recall"] == 1.0


def test_positive_and_negative_shapes_share_one_ttl(spark, tmp_path):
    """The review-found collision: writing positive AND negative shapes
    into one TTL must not define any property-shape subject twice (the
    negated inner shape has its own NegShapeProperty IRI)."""
    import glob
    import re

    from qse_spark.shapes import negative_shapes
    from qse_spark.stats import shape_stats
    # third A instance: A must pass ns_support_gate at S=2 for any
    # sh:not rows to exist at all (see test_negative_shapes_sh_not)
    st = shape_stats(spark.createDataFrame(
        MICRO + [("e3", "rdf:type", "A", "iri")],
        ["subject", "predicate", "object", "obj_kind"])).cache()
    ns, ps = pruned_shapes(st, 0.5, 2)
    neg = negative_shapes(st, confidence=0.5, support=2)
    out = str(tmp_path / "both.ttl")
    write_ttl(ns.coalesce(1), ps.coalesce(1), out, neg_props=neg.coalesce(1))
    body = open(glob.glob(f"{out}/part-*")[0]).read()
    subjects = re.findall(r"<([^>]+)> a sh:(?:PropertyShape|NodeShape)", body)
    assert len(subjects) == len(set(subjects)), sorted(subjects)
    assert any(s.endswith("pANegShapeProperty") for s in subjects)


REF_EXAMPLE = "/root/reference/validation/example"
SCHEMA = "http://schema.org/"
needs_ref_example = pytest.mark.skipif(
    not os.path.isdir(REF_EXAMPLE),
    reason="reference validation/example/ not present")


@needs_ref_example
def test_reference_ttl_shape_keys(spark):
    """Cross-implementation parity: the only genuinely reference-emitted
    SHACL artifact in the tree (validation/example/example_shapes.ttl,
    consumed by QseSHACLValidator.java:70-134) parses into exactly the
    NS target / PS path key sets the file declares — prefixed names and
    inline blank-node property shapes included."""
    from qse_spark.shapes import read_ttl_shapes
    keys = read_ttl_shapes(spark, f"{REF_EXAMPLE}/example_shapes.ttl")
    ns = {(r["shape"], r["key"]) for r in
          keys.filter(F.col("kind") == "NS").collect()}
    assert ns == {(f"{SCHEMA}PersonShape", f"{SCHEMA}Person")}
    ps = {r["key"] for r in keys.filter(F.col("kind") == "PS").collect()}
    assert ps == {f"{SCHEMA}{p}" for p in
                  ("givenName", "birthDate", "gender", "address",
                   "streetAddress", "postalCode")}


@needs_ref_example
def test_reference_ttl_data_through_kernel(spark):
    """example_data.ttl loads through the Turtle source and the stats
    kernel computes the hand-checkable statistics: 2 Persons, givenName
    support 1 / confidence 0.5, address resolving to the undefined
    object-type sentinel — and the extracted shapes validate their own
    corpus cleanly after pruning the low-confidence property."""
    from qse_spark.constants import LITERAL_DATATYPES
    from qse_spark.sources import read_turtle
    from qse_spark.sources.turtle import RDF_TYPE
    from qse_spark.validation import validation_report
    t = read_turtle(spark, f"{REF_EXAMPLE}/example_data.ttl")
    assert t.count() == 13
    st = shape_stats(t, type_predicate=RDF_TYPE)
    rows = {(r["class"], r["property"], r["obj_type"]): r
            for r in st.collect()}
    g = rows[(f"{SCHEMA}Person", f"{SCHEMA}givenName",
              LITERAL_DATATYPES["string"])]
    assert g["support"] == 1 and g["class_count"] == 2
    assert g["confidence"] == 0.5 and g["min_count"] is None
    a = rows[(f"{SCHEMA}Person", f"{SCHEMA}address", UNDEFINED_OBJECT_TYPE)]
    assert a["support"] == 2 and a["min_count"] == 1 and a["max_count"] == 1
    b = rows[(f"{SCHEMA}Person", f"{SCHEMA}birthDate",
              LITERAL_DATATYPES["date"])]
    assert b["confidence"] == 1.0
    rep = validation_report(t, 0.6, 1, type_predicate=RDF_TYPE)
    assert rep.count() == 0


def test_parse_turtle_doc_edge_cases():
    """Pure-parser unit: decimal dots never split statements, lang and
    typed literals map to the N-Triples reader's obj_kind labels, blank
    node objects are skipped and counted (never silently mangled)."""
    from qse_spark.sources.turtle import parse_turtle_doc
    doc = """@prefix ex: <http://ex.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:a ex:score 0.25 ;
     ex:label "hi"@es-419 , "x\\"y" ;
     ex:when "2020-01-01"^^xsd:date ;
     ex:blank [ ex:inner 1 ] ;
     a ex:Thing .
"""
    rows, skipped = parse_turtle_doc(doc)
    got = {(r[1], r[2], r[3]) for r in rows}
    assert ("http://ex.org/score", "0.25", "integer") in got
    assert ("http://ex.org/label", "hi@es-419", "langString") in got
    assert ("http://ex.org/label", 'x"y', "string") in got
    assert ("http://ex.org/when", "2020-01-01", "date") in got
    assert ("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://ex.org/Thing", "iri") in got
    assert skipped == 1 and len(rows) == 5


def test_parse_turtle_doc_comments_and_undeclared_prefix():
    """Review findings (round 4): '#' comments are stripped string-aware
    (a comment never glues onto or splits a statement, quotes/brackets
    inside comments never corrupt the scan, '#' inside IRIs and strings
    is data), a commented-out @prefix never registers, and a pname with
    an UNDECLARED prefix is skipped+counted — never emitted verbatim as
    a bogus IRI."""
    from qse_spark.sources.turtle import parse_turtle_doc, ttl_prefixes
    doc = """# exported by tool — don't "quote" me . really
@prefix ex: <http://ex.org/> .
# @prefix bad: <http://bad.org/> .
ex:a ex:p ex:b .   # trailing comment with ] and " inside
ex:a ex:frag <http://ex.org/x#frag> .
ex:a ex:lit "a # not comment" .
"""
    rows, skipped = parse_turtle_doc(doc)
    assert skipped == 0 and len(rows) == 3
    got = {(r[1], r[2], r[3]) for r in rows}
    assert ("http://ex.org/frag", "http://ex.org/x#frag", "iri") in got
    assert ("http://ex.org/lit", "a # not comment", "string") in got
    assert "bad" not in ttl_prefixes(doc)

    rows2, skipped2 = parse_turtle_doc(
        "@prefix ex: <http://ex.org/> .\nex:a ex:p exx:b .\n")
    assert rows2 == [] and skipped2 == 1


def test_parse_turtle_doc_sequential_prefix_scoping():
    """Turtle prefix scoping is sequential: a re-declared prefix rebinds
    only statements AFTER it (a last-wins map used to retroactively
    rewrite earlier statements' IRIs — round-4 review finding), and a
    pname used BEFORE its prefix is declared is skipped+counted, never
    resolved through a later declaration."""
    from qse_spark.sources.turtle import parse_turtle_doc, ttl_prefix_decls

    doc = ("@prefix ex: <http://one/> .\n"
           "ex:a ex:p ex:b .\n"
           "PREFIX ex: <http://two/>\n"
           'ex:c ex:p "decoy @prefix ex: <http://lit/> ." .\n'
           "@prefix : <http://d1/> .\n:x :q :y .\n"
           "@prefix : <http://d2/> .\n:x :q :y .\n")
    rows, skipped = parse_turtle_doc(doc)
    assert skipped == 0
    assert rows[0] == ("http://one/a", "http://one/p", "http://one/b", "iri")
    assert rows[1][:2] == ("http://two/c", "http://two/p")
    assert rows[2][0] == "http://d1/x" and rows[3][0] == "http://d2/x"
    # the decl list is position-ordered and literal decoys never register
    assert [(p, iri) for _, p, iri in ttl_prefix_decls(doc)] == [
        ("ex", "http://one/"), ("ex", "http://two/"),
        ("", "http://d1/"), ("", "http://d2/")]

    early, skipped_early = parse_turtle_doc(
        "ex:a ex:p ex:b .\n@prefix ex: <http://late/> .\nex:c ex:p ex:d .\n")
    assert skipped_early == 1
    assert early == [("http://late/c", "http://late/p",
                      "http://late/d", "iri")]


def test_parse_ttl_shape_doc_quoted_brackets_and_comments():
    """Review finding (round 4): the inline blank-node close scan is
    string-aware — a ']' inside a quoted literal (sh:message) never
    truncates the sh:property body, so its sh:path is still captured."""
    from qse_spark.shapes import _parse_ttl_shape_doc
    doc = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex.org/> .
# a comment with ] and " inside
ex:S a sh:NodeShape ;
  sh:targetClass ex:T ;
  sh:property [ sh:message "see ] in docs" ; sh:path ex:x ] ;
  sh:property [ sh:path ex:y ] .
"""
    rows = _parse_ttl_shape_doc(doc)
    assert {(s, k) for t, s, k in rows if t == "NS"} == \
        {("http://ex.org/S", "http://ex.org/T")}
    assert {k for t, s, k in rows if t == "PS"} == \
        {"http://ex.org/x", "http://ex.org/y"}


def test_parse_turtle_doc_sparql_decls_base_and_literal_forgery():
    """Review findings (round 4, second batch): dot-less SPARQL-style
    PREFIX lines never glue onto (and swallow) the next statement; a
    declaration quoted inside a literal never registers or overrides a
    prefix; relative IRIs resolve against @base when declared and are
    skipped+counted when not."""
    from qse_spark.sources.turtle import (parse_turtle_doc, ttl_base,
                                          ttl_prefixes)
    doc = "PREFIX ex: <http://ex.org/>\nex:a ex:p ex:b .\nex:c ex:p ex:d .\n"
    rows, sk = parse_turtle_doc(doc)
    assert len(rows) == 2 and sk == 0

    forged = ('@prefix ex: <http://ex.org/> .\n'
              'ex:a ex:note "declare @prefix tmp: <http://t.org/> here" .\n'
              'ex:a ex:p tmp:x .\n'
              'ex:a ex:note2 "@prefix ex: <http://evil.org/> ." .\n')
    rows2, sk2 = parse_turtle_doc(forged)
    assert "tmp" not in ttl_prefixes(forged)
    assert sk2 == 1                       # tmp:x skipped, not mangled
    assert all(r[0] == "http://ex.org/a" for r in rows2)   # no override

    rows3, sk3 = parse_turtle_doc(
        "@base <http://ex.org/> .\n<alice> a <Person> .\n")
    assert rows3 == [("http://ex.org/alice",
                      "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
                      "http://ex.org/Person", "iri")] and sk3 == 0
    rows4, sk4 = parse_turtle_doc("<alice> a <Person> .\n")
    assert rows4 == [] and sk4 == 1       # no base -> skip, not verbatim
    assert ttl_base("BASE <http://b.org/>\nx:a x:b x:c .") == "http://b.org/"


def test_parse_ttl_shape_doc_literal_injection_rejected():
    """Review finding (round 4): example annotations carry raw transcript
    text — sh:path / sh:targetClass / 'a <type>' tokens inside string
    literals must never inject shape keys into read_ttl_shapes output."""
    from qse_spark.shapes import _parse_ttl_shape_doc
    doc = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex.org/> .
ex:P a sh:PropertyShape ;
  sh:path ex:real ;
  <http://example.org/example> "user wrote: sh:path <http://evil/x>" .
ex:S a sh:NodeShape ;
  sh:targetClass ex:T ;
  <http://example.org/example> "try sh:targetClass <http://evil/T> now" .
"""
    rows = _parse_ttl_shape_doc(doc)
    ks = {(t, k) for t, s, k in rows}
    assert ("PS", "http://evil/x") not in ks
    assert ("NS", "http://evil/T") not in ks
    assert ("PS", "http://ex.org/real") in ks
    assert ("NS", "http://ex.org/T") in ks


def test_parse_turtle_doc_default_prefix():
    """Review finding (round 4b): a declared DEFAULT prefix (':Bob') is
    valid, common Turtle and must resolve through ttl_prefixes' '' key —
    not silently drop every triple."""
    from qse_spark.sources.turtle import parse_turtle_doc
    doc = "@prefix : <http://ex/> .\n:Bob a :Person .\n:Bob :age 44 .\n"
    rows, skipped = parse_turtle_doc(doc)
    assert skipped == 0
    got = {(r[0], r[1], r[2], r[3]) for r in rows}
    assert ("http://ex/Bob",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://ex/Person", "iri") in got
    assert ("http://ex/Bob", "http://ex/age", "44", "integer") in got
    # SPARQL-style default-prefix declaration is excised the same way
    rows2, skipped2 = parse_turtle_doc(
        "PREFIX : <http://ex/>\n:Bob :age 44 .\n")
    assert skipped2 == 0 and rows2 == [r for r in rows if r[2] == "44"]


def test_parse_ttl_shape_doc_alt_shacl_prefix_label():
    """Review finding (round 4b): SHACL predicates resolve through the
    document's own prefix declarations — a doc binding shx: (or using
    full <IRI> predicates) parses identically to one binding sh:."""
    from qse_spark.shapes import _parse_ttl_shape_doc
    doc = """@prefix shx: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://ex/> .
ex:PersonShape a shx:NodeShape ;
  shx:targetClass ex:Person ;
  shx:property [ shx:path ex:age ] .
"""
    rows = set(_parse_ttl_shape_doc(doc))
    assert ("NS", "http://ex/PersonShape", "http://ex/Person") in rows
    assert ("PS", "_:http://ex/PersonShape/http://ex/age",
            "http://ex/age") in rows
    iri_doc = """@prefix sh: <http://www.w3.org/ns/shacl#> .
<http://ex/S> a sh:NodeShape ;
  <http://www.w3.org/ns/shacl#targetClass> <http://ex/C> .
"""
    assert ("NS", "http://ex/S", "http://ex/C") in set(
        _parse_ttl_shape_doc(iri_doc))

def test_iri_rendering_authorityless_schemes():
    """_iri must pass through ANY absolute IRI (urn:, mailto:, did: have a
    scheme but no '://' — a '://' test mangled them into the shapes
    namespace, review finding) and still namespace bare labels."""
    from qse_spark.shapes import SHAPES_NAMESPACE, _iri

    assert _iri("urn:isbn:0451450523") == "<urn:isbn:0451450523>"
    assert _iri("mailto:a@b.example") == "<mailto:a@b.example>"
    assert _iri("http://ex.org/C") == "<http://ex.org/C>"
    assert _iri("undefined") == f"<{SHAPES_NAMESPACE}undefined>"
    # a leading digit is not a scheme start
    assert _iri("123:x") == f"<{SHAPES_NAMESPACE}123:x>"

def test_type_property_sh_in_holds_target_class(spark):
    """The instance-type property's sh:in list holds the TARGET CLASS
    itself (ShapesExtractor.java:452-461: RDFCollections.asRDF(List.of(
    subj))), never the branch's obj_type — which is usually the undefined
    sentinel that no instance's rdf:type value ever matches (review
    finding: a real SHACL validator would flag every instance)."""
    from qse_spark.shapes import _prop_block, property_shapes
    st = _stats(spark)
    t = [r for r in property_shapes(st).collect()
         if r["path"] == "rdf:type" and r["target_class"] == "A"][0]
    block = _prop_block(t.asDict(recursive=True))
    assert f"sh:in ( <{SHAPES_NAMESPACE}A> )" in block
    assert UNDEFINED_OBJECT_TYPE not in block
    # annotations for the branch still present on the prop shape
    assert "/support> 2" in block
