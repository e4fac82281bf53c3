"""Z-order layout: the Morton key must interleave bits correctly, and
files range-partitioned and sorted on it must skip files on the
non-sort dimension that a single-column sort cannot."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from farmrpg_etl_spark.operators.zorder import zvalue
from farmrpg_etl_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_zvalue_bit_interleave(spark):
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5)], "a long, b long"
    )
    got = [
        r["z"] for r in df.select(zvalue(F.col("a"), F.col("b"), 4).alias("z"))
        .collect()
    ]

    def morton(a, b):
        z = 0
        for i in range(4):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    assert got == [morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5)]]
    # a=3,b=5: bits a=0b0011 at even positions, b=0b0101 at odd
    assert got[3] == 0b100111


def _file_boxes(spark, path):
    out = []
    for f in sorted(glob.glob(path + "/part-*")):
        r = (
            spark.read.parquet(f)
            .agg(F.min("user_id"), F.max("user_id"), F.min("v"), F.max("v"))
            .first()
        )
        out.append(tuple(r))
    return out


def _hits(boxes, ulo=None, uhi=None, vlo=None, vhi=None):
    n = 0
    for umin, umax, vmin, vmax in boxes:
        ok = True
        if ulo is not None:
            ok = ok and not (umax < ulo or umin > uhi)
        if vlo is not None:
            ok = ok and not (vmax < vlo or vmin > vhi)
        n += ok
    return n


def test_zorder_layout_skips_files_on_second_dimension(spark, tmp_path):
    e = load_table(spark, SF_DIR, "events").select(
        "user_id",
        F.least(F.floor(F.col("value")).cast("long"), F.lit(65535)).alias("v"),
    )
    by_user = str(tmp_path / "by_user")
    by_z = str(tmp_path / "by_z")
    (
        e.repartitionByRange(8, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(by_user)
    )
    (
        e.withColumn("z", zvalue(F.col("user_id"), F.col("v"), 16))
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite")
        .parquet(by_z)
    )
    a = _file_boxes(spark, by_user)
    b = _file_boxes(spark, by_z)
    assert len(a) == len(b) == 8
    # a predicate on the NON-sort column hits every user-sorted file but
    # only the z-curve tiles whose value range intersects
    assert _hits(a, vlo=100, vhi=150) == 8
    assert _hits(b, vlo=100, vhi=150) < 4
    # the 2-D box is never worse under z-order
    assert _hits(b, 10, 19, 100, 150) <= _hits(a, 10, 19, 100, 150)
