from __future__ import annotations

from deduplicate_spark.functions import text as TX


def _df(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "text string")


def test_lang_id(spark):
    df = _df(
        spark,
        [
            "the cat is on the mat and the dog is here",
            "el gato y la casa de los perros que viven",
            "der hund und die katze ist nicht hier",
            "12345 67890",
        ],
    )
    got = [r[0] for r in df.select(TX.lang_id("text")).collect()]
    assert got[0] == "en"
    assert got[1] == "es"
    assert got[2] == "de"
    assert got[3] == "und"


def test_doc_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [("a", "Hello   World"), ("b", "hello world"), ("c", "different")],
        "id string, text string",
    )
    rows = {r["id"]: r["fp"] for r in df.select("id", TX.doc_fingerprint("text").alias("fp")).collect()}
    assert rows["a"] == rows["b"]
    assert rows["a"] != rows["c"]
