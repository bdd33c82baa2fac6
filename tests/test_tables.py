"""Format-pluggable table sink/source (sources/tables.py) — the north
star's "materializes (subj, pred, obj) triples ... into partitioned
Iceberg output". The Iceberg jars are absent from this image, so these
tests exercise the documented parquet fallback with the identical
partition layout; on a real cluster QSE_TABLE_FORMAT=iceberg swaps the
format with no caller change."""

from __future__ import annotations

import os
from urllib.parse import unquote

from qse_spark.sources.tables import iceberg_available, read_table, write_table


def test_partitioned_triples_roundtrip(spark, fixture_dir, tmp_path):
    """Canonical-triples materialization: partitioned by predicate (the
    bounded-cardinality key), hive-style directory layout, lossless
    round-trip through read_table."""
    gold = spark.read.parquet(f"{fixture_dir}/gold_triples.parquet") \
        .select("subject", "predicate", "object")
    out = str(tmp_path / "canonical_triples")
    write_table(gold, out, partition_by=["predicate"])
    # hive layout: one predicate=<value> directory per distinct predicate
    # (special chars like ':' are percent-escaped in the dir name)
    parts = {unquote(d) for d in os.listdir(out)
             if d.startswith("predicate=")}
    preds = {r["predicate"] for r in gold.select("predicate")
             .distinct().collect()}
    assert parts == {f"predicate={p}" for p in preds}
    back = read_table(spark, out)
    assert sorted(map(tuple, back.select(*gold.columns).collect())) == \
        sorted(map(tuple, gold.collect()))


def test_append_mode_and_unpartitioned(spark, tmp_path):
    df = spark.range(5).withColumnRenamed("id", "v")
    out = str(tmp_path / "t")
    write_table(df, out)
    write_table(df, out, mode="append")
    assert read_table(spark, out).count() == 10


def test_iceberg_probe_is_honest(spark):
    """This image ships no Iceberg jars: the probe must say so (the
    fallback path above is then the one actually under test)."""
    assert iceberg_available(spark) is False


class _FakeDelta:
    columns = ["subject", "predicate", "object", "obj_kind", "cnt"]

    def __init__(self):
        self.views = []

    def createOrReplaceTempView(self, name):
        self.views.append(name)


class _FakeSpark:
    """Records the SQL `merge_into_groups` sends; the Iceberg jar the real
    statement needs is not required."""

    def __init__(self):
        self.sql_text, self.dropped = [], []
        self.catalog = self

    def sql(self, q):
        self.sql_text.append(q)

    def dropTempView(self, name):
        self.dropped.append(name)


def test_merge_into_groups_sql_names_view_and_insert_columns():
    from qse_spark.sources.tables import merge_into_groups

    spark, keys = _FakeSpark(), ["subject", "predicate", "object", "obj_kind"]
    d1, d2 = _FakeDelta(), _FakeDelta()
    merge_into_groups(spark, "qse.db.groups", d1, keys)
    merge_into_groups(spark, "qse.db.groups", d2, keys)
    (v1,), (v2,) = d1.views, d2.views
    assert v1 != v2, "two merges must not share a temp view"
    assert spark.dropped == [v1, v2]
    q = " ".join(spark.sql_text[0].split())
    assert f"USING {v1} s ON t.subject <=> s.subject AND" in q
    assert "INSERT *" not in q
    assert ("WHEN NOT MATCHED THEN INSERT (subject, predicate, object, "
            "obj_kind, cnt) VALUES (s.subject, s.predicate, s.object, "
            "s.obj_kind, s.cnt)") in q
