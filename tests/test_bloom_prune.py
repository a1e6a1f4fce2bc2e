"""Bloom-sidecar file skipping: point lookups must read a strict
subset of files and return exactly the full-scan answer."""

from pyspark.sql import functions as F

from lcmap_blackmagic_spark import storage
from lcmap_blackmagic_spark.registry import _t


def test_bloom_prunes_and_answers_exactly(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_bloom")
    orders = _t(spark, sf_dir, "orders")
    n_files = storage.write_with_bloom(orders, out, "o_orderkey",
                                       n_files=8)
    assert n_files == 8

    keys = [r["o_orderkey"] for r in
            orders.select("o_orderkey").orderBy("o_orderkey")
            .limit(5).collect()]
    pruned_counts = []
    for k in keys:
        df, read, total = storage.read_bloom_pruned(spark, out, k)
        assert total == 8
        pruned_counts.append(read)
        got = sorted(map(tuple, df.collect()))
        want = sorted(map(tuple,
                          orders.filter(F.col("o_orderkey") == k).collect()))
        assert got == want and len(got) >= 1
    # hash-repartitioned: each key lives in ONE file; blooms may add
    # false-positive files but must never read all of them
    assert max(pruned_counts) < 8
    assert min(pruned_counts) >= 1


def test_bloom_absent_key_reads_nothing_or_fp(spark, sf_dir, tmp_path):
    out = str(tmp_path / "orders_bloom2")
    orders = _t(spark, sf_dir, "orders")
    storage.write_with_bloom(orders, out, "o_orderkey", n_files=4)
    df, read, total = storage.read_bloom_pruned(spark, out, -99999)
    # an absent key may hit false-positive files, but the result is
    # still exactly empty (blooms skip, never answer)
    assert df.count() == 0
    assert read <= total


def test_cross_typed_probe_never_prunes(spark, tmp_path):
    """An int probe against a DOUBLE key: Spark renders the stored
    key as "107.0", the probe as "107", so the sidecar cannot prove
    absence — every file is read and the exact filter answers."""
    out = str(tmp_path / "double_bloom")
    df = spark.range(200).select(F.col("id").cast("double").alias("k"))
    storage.write_with_bloom(df, out, "k", n_files=4)
    got, read, total = storage.read_bloom_pruned(spark, out, 107)
    assert [r["k"] for r in got.collect()] == [107.0]
    assert read == total == 4


def test_null_keys_set_no_bits(spark, tmp_path):
    """NULL keys are left out of the filters instead of breaking the
    sidecar build; lookups of present keys still answer exactly."""
    out = str(tmp_path / "null_bloom")
    df = spark.createDataFrame([(1,), (None,), (3,)], "k long")
    storage.write_with_bloom(df, out, "k", n_files=2)
    got, read, _ = storage.read_bloom_pruned(spark, out, 3)
    assert [r["k"] for r in got.collect()] == [3]
    assert read >= 1
