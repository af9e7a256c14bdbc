"""r14: O(k) point lookups on merge targets
(plans.merge.lookup_merged_keys) — the read-path completion of the
bucketed store's cost model: writes O(touched buckets), change feed
O(changed buckets), point reads O(looked-up buckets).

Correctness oracle: lookup == read_merged_table semi-joined on the
same keys.  The scale claim — only the looked-up buckets' live
generations are read — is pinned through inputFiles().
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lens_sds_batch_spark.plans.merge import (
    BUCKET_COL,
    evolve_schema,
    lookup_merged_keys,
    merge_into,
    read_merged_table,
)

SCHEMA = "k string, pri int, v string, dead boolean"


def _merge(spark, target, rows, **kw):
    return merge_into(
        spark, target, spark.createDataFrame(rows, SCHEMA),
        keys=["k"], order_cols=["pri"], is_delete=F.col("dead"), **kw,
    )


def _rows(df, cols=("k", "pri", "v")):
    return sorted(
        (tuple(r[c] for c in cols) for r in df.collect()),
        key=repr,
    )


def _expected(spark, target, keys_rows):
    full = read_merged_table(spark, target)
    probe = spark.createDataFrame(keys_rows, "k string")
    return full.join(probe, full["k"].eqNullSafe(probe["k"]), "left_semi")


CORPUS = [(f"k{i}", 1, f"v{i}", False) for i in range(40)] + [
    (None, 1, "nullkey", False)
]


@pytest.mark.parametrize(
    "kw",
    [
        {"num_buckets": 8, "protocol": "manifest"},
    ],
    ids=["manifest"],
)
def test_lookup_matches_semi_join_all_layouts(spark, tmp_path, kw):
    tgt = str(tmp_path / "t")
    _merge(spark, tgt, CORPUS, **kw)
    _merge(spark, tgt, [("k3", 2, "v3b", False), ("k5", 2, None, True)])
    probe_keys = [("k3",), ("k7",), ("k5",), (None,), ("missing",)]
    probe = spark.createDataFrame(probe_keys, "k string")
    got = lookup_merged_keys(spark, tgt, probe)
    assert _rows(got) == _rows(_expected(spark, tgt, probe_keys))
    # k5 was tombstoned, 'missing' never existed: both absent
    assert {r["k"] for r in got.collect()} == {"k3", "k7", None}
    # duplicate probe keys read once (semi-join semantics)
    got_dup = lookup_merged_keys(
        spark, tgt, spark.createDataFrame([("k3",), ("k3",)], "k string")
    )
    assert got_dup.count() == 1


def test_lookup_reads_only_looked_up_buckets(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _merge(spark, tgt, CORPUS, num_buckets=8, protocol="manifest")
    probe = spark.createDataFrame([("k3",)], "k string")
    got = lookup_merged_keys(spark, tgt, probe)
    buckets_read = {
        seg
        for f in got.inputFiles()
        for seg in f.split("/")
        if seg.startswith(BUCKET_COL + "=")
    }
    assert len(buckets_read) == 1  # exactly k3's bucket
    assert _rows(got) == [("k3", 1, "v3")]


def test_lookup_refusals_and_empty_cases(spark, tmp_path):
    tgt = str(tmp_path / "t")
    _merge(spark, tgt, CORPUS, num_buckets=8, protocol="manifest")
    # dtype drift: same logical value, other bucket space — refused
    with pytest.raises(ValueError, match="key dtype drift"):
        lookup_merged_keys(
            spark, tgt, spark.createDataFrame([(3,)], "k int")
        )
    # wrong columns
    with pytest.raises(ValueError, match="pass exactly the key columns"):
        lookup_merged_keys(
            spark, tgt, spark.createDataFrame([("x", 1)], "k string, extra int")
        )
    # empty probe: typed empty frame, not an error
    empty = lookup_merged_keys(
        spark, tgt, spark.createDataFrame([], "k string")
    )
    assert empty.count() == 0
    assert set(SCHEMA.replace(",", "").split()[::2]) <= set(empty.columns)


def test_lookup_after_metadata_add_conforms(spark, tmp_path):
    """A metadata-only evolve leaves old generations without the added
    column — the lookup read must conform like every other resolver
    read (typed NULL on pre-add rows)."""
    tgt = str(tmp_path / "t")
    _merge(spark, tgt, CORPUS[:10], num_buckets=4, protocol="manifest")
    evolve_schema(spark, tgt, add={"extra": "string"})
    got = lookup_merged_keys(
        spark, tgt, spark.createDataFrame([("k2",)], "k string")
    )
    row = got.collect()[0].asDict()
    assert row["extra"] is None and row["v"] == "v2"
