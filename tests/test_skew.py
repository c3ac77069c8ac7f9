"""plans/skew.py: the one skew primitive the conflation cell join and the
LSH / n-gram pair self-joins share."""

import itertools
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from osm_merge_spark.plans import skew

PKG = pathlib.Path(__file__).resolve().parents[1] / "osm_merge_spark"


def test_shuffle_width_setting_is_always_an_integer(spark):
    """shuffle_width reads the setting with a bare int(): Spark itself
    rejects a non-integer value such as Databricks' "auto" at set time."""
    with pytest.raises(Exception, match="INVALID_CONF_VALUE"):
        spark.conf.set(skew.SHUFFLE_PARTITIONS, "auto")
    assert skew.shuffle_width(spark) == int(spark.conf.get(skew.SHUFFLE_PARTITIONS))


def test_hot_factor_none_when_nothing_hot(spark):
    df = spark.range(50).select((F.col("id") % 10).alias("k"))
    assert skew.hot_factor(df, ["k"], threshold=5, cap=8) is None


def test_hot_factor_struct_key_lookup(spark):
    # (0, 7): 40 rows → ceil(40/10) = 4, or the cap; (1, 7): 25 rows → 3;
    # (2, 7): 5 rows, not hot → 1
    rows = [(0, 7)] * 40 + [(1, 7)] * 25 + [(2, 7)] * 5
    df = spark.createDataFrame(rows, "band int, bucket bigint")
    nb = skew.hot_factor(df, ["band", "bucket"], threshold=10, cap=3)
    got = {(r["band"], r["bucket"]): r["nb"] for r in df.distinct().select("*", nb.alias("nb")).collect()}
    assert got == {(0, 7): 3, (1, 7): 3, (2, 7): 1}
    nb = skew.hot_factor(df, ["band", "bucket"], threshold=10, cap=16)
    got = {(r["band"], r["bucket"]): r["nb"] for r in df.distinct().select("*", nb.alias("nb")).collect()}
    assert got == {(0, 7): 4, (1, 7): 3, (2, 7): 1}


def test_self_pairs_blocked_asymmetric_payload(spark):
    """Off-diagonal blocks meet a pair in either order; each payload value
    must stay beside its own id when the ids are canonicalized."""
    ids = list(range(1, 61))
    keys = [0 if i <= 50 else 1 for i in ids]
    rows = [(k, i, i * 10) for k, i in zip(keys, ids)] + [(0, None, -1)]
    df = spark.createDataFrame(rows, "k int, id bigint, v bigint")
    got = skew.self_pairs_blocked(df, ["k"], "id", threshold=4, max_blocks=8, payload=["v"]).toPandas()
    assert (got["v_a"] == got["id_a"] * 10).all()
    assert (got["v_b"] == got["id_b"] * 10).all()
    want = {
        (a, b)
        for k in (0, 1)
        for a, b in itertools.combinations([i for i, kk in zip(ids, keys) if kk == k], 2)
    }
    pairs = list(zip(got["id_a"], got["id_b"]))
    assert len(pairs) == len(want) and set(pairs) == want


def test_no_hand_copies_outside_skew():
    """The shuffle-width read and the top-K hot-key map live in
    plans/skew.py only; a fifth hand copy anywhere else fails here."""
    pattern = re.compile(r"spark\.sql\.shuffle\.partitions|\.limit\(4096\)|create_map\(\*entries\)")
    offenders = [
        f"{path.relative_to(PKG)}:{n}"
        for path in PKG.rglob("*.py")
        if path.name != "skew.py" or path.parent.name != "plans"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []
