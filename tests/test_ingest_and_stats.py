"""S1 CSV ingest semantics, O6 uid assignment, S7 stats .properties parity."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pprl_scaling_framework_spark.sources import ingest

REF_CSV = "/root/reference/pprl-scaling-framework-lib/src/test/resources/data/person_small/csv/person_small.csv"
REF_STATS = "/root/reference/pprl-scaling-framework-lib/src/test/resources/data/stats_1.properties"
needs_ref_csv = pytest.mark.skipif(not os.path.exists(REF_CSV), reason="reference tree not mounted")
needs_ref_stats = pytest.mark.skipif(not os.path.exists(REF_STATS), reason="reference tree not mounted")


@needs_ref_csv
def test_csv_ingest_reference_fixture(spark):
    schema = T.StructType([
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("surname", T.StringType()),
        T.StructField("location", T.StringType()),
    ])
    df = ingest.csv_ingest(spark, REF_CSV, schema)
    rows = {r["id"]: r for r in df.collect()}
    assert rows["Person#000"]["name"] == "conner"
    assert rows["Person#001"]["surname"] == "dradien"
    assert all(r["location"] is not None for r in rows.values())


def test_csv_ingest_empty_value_semantics(spark, tmp_path):
    p = tmp_path / "x.csv"
    p.write_text("a,,3,,true\n,str,,2.5,\n")
    schema = T.StructType([
        T.StructField("s1", T.StringType()),
        T.StructField("s2", T.StringType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("b", T.BooleanType()),
    ])
    rows = ingest.csv_ingest(spark, str(p), schema).orderBy("s1").collect()
    import math
    r1 = [r for r in rows if r["s1"] == "a"][0]
    assert r1["s2"] == "-NA-" and r1["i"] == 3 and math.isnan(r1["d"]) and r1["b"] is True
    r2 = [r for r in rows if r["s1"] == "-NA-"][0]
    assert r2["s2"] == "str" and r2["i"] == 0 and r2["d"] == 2.5 and r2["b"] is False


def test_assign_uid_ordinal(spark):
    df = spark.createDataFrame([("z",), ("a",), ("m",)], ["v"])
    got = {r["v"]: r["uid"] for r in ingest.assign_uid(df, prefix="a", order_by=["v"]).collect()}
    assert got == {"a": "a0", "m": "a1", "z": "a2"}


@needs_ref_stats
def test_stats_properties_fixture_roundtrip():
    text = open(REF_STATS).read()
    parsed = ingest.properties_to_stats(text)
    assert parsed["record_count"] == 120
    assert set(parsed["field_names"]) == {"name", "surname"}
    assert parsed["fields"]["surname"]["avg.2grams.count"] == pytest.approx(7.516666666666667)
    assert parsed["fields"]["name"]["avg.length"] == pytest.approx(6.033333333333333)


def test_stats_properties_roundtrip():
    out = ingest.stats_to_properties(
        record_count=120,
        field_stats={
            "name": {"avg_len": 6.03, "avg_2grams": 7.03, "avg_unique_2grams": 7.01},
            "surname": {"avg_len": 6.52, "avg_2grams": 7.52},
        },
    )
    back = ingest.properties_to_stats(out)
    assert back["record_count"] == 120
    assert back["fields"]["name"]["avg.unique.2grams.count"] == pytest.approx(7.01)


@needs_ref_csv
def test_qgram_stats_match_reference_convention(spark):
    """avg q-gram counts computed by our A4 expr over the person_small rows
    reproduce QGramUtil semantics (cross-checked against core.qgrams)."""
    schema = T.StructType([T.StructField(c, T.StringType()) for c in
                           ["id", "name", "surname", "location"]])
    df = ingest.csv_ingest(spark, REF_CSV, schema)
    from pprl_scaling_framework_spark.matching.em_pipeline import field_qgram_stats
    from pprl_scaling_framework_spark.core.qgrams import qgram_count

    stats = field_qgram_stats(df, ["name", "surname"])
    rows = df.collect()
    for f_name in ["name", "surname"]:
        want = sum(qgram_count(r[f_name], 2) for r in rows) / len(rows)
        assert stats[f_name]["avg_2grams"] == pytest.approx(want)
