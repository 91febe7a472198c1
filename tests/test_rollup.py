from __future__ import annotations

from deduplicate_spark.operators.rollup import group_rollup, prefix_explode


def test_prefix_explode(spark):
    df = spark.createDataFrame([("a/b/c",), ("x/y",), ("flat",)], "conv_id string")
    rows = sorted(
        (r["conv_id"], r["group_prefix"]) for r in prefix_explode(df).collect()
    )
    assert rows == [
        ("a/b/c", "a"),
        ("a/b/c", "a/b"),
        ("flat", ""),
        ("x/y", "x"),
    ]


def _fixture(spark):
    docs = spark.createDataFrame(
        [
            ("s1/a", 100),
            ("s1/b", 200),
            ("s2/a", 100),
            ("s2/sub/c", 50),
        ],
        "conv_id string, total_len long",
    )
    actions = spark.createDataFrame(
        [
            ("s1/a", "s1/a", "s1/a", "keep", 0),
            ("s2/a", "s1/a", "s1/a", "delete", 100),
        ],
        "conv_id string, cluster_id string, canonical_conv_id string, action string, freed_len long",
    )
    return docs, actions


def test_group_rollup(spark):
    docs, actions = _fixture(spark)
    rows = {r["group_prefix"]: r for r in group_rollup(actions, docs).collect()}
    # s1: 2 members, 1 dupe, 0 deletes
    assert rows["s1"]["n_members"] == 2
    assert rows["s1"]["n_dupes"] == 1
    assert rows["s1"]["n_deletes"] == 0
    assert not rows["s1"]["is_full_dupe"]
    # s2: 2 members (a, sub/c), 1 dupe, 1 delete, 100 reclaimable
    assert rows["s2"]["n_members"] == 2
    assert rows["s2"]["n_deletes"] == 1
    assert rows["s2"]["reclaimable_len"] == 100
    # s2/sub rolls up separately
    assert rows["s2/sub"]["n_members"] == 1
    # full-dupe flag: a prefix whose every member is clustered
    assert rows["s2"]["is_full_dupe"] is False
