"""The Iceberg seam: SnapshotCatalog's API surface is the same shape a
real Iceberg catalog exposes, and the real-Iceberg branch is exercised
whenever the runtime jar is on the classpath.

Mapping (parquet SnapshotCatalog → Iceberg):
- ``commit(table, df)``              → ``df.writeTo(t).createOrReplace()``
- ``append(table, df)``              → ``df.writeTo(t).append()`` (fast append)
- ``read(table)``                    → ``spark.table(t)`` (current snapshot)
- ``read(table, snapshot='snap-k')`` → ``VERSION AS OF k`` (time travel)
- ``manifest(table)``                → snapshot summary metadata
- ``partition_by=['_bucket'] + read_buckets`` → ``bucket(B, id)`` partition
  transform + partition pruning
- manifest-last atomic publish      → Iceberg metadata-pointer swap

Jar drop-in path (pinned): the image has no Iceberg runtime jar (verified:
pyspark 4.1.2's jars/ dir has none and there is no network). On a real
deployment add EXACTLY::

    --packages org.apache.iceberg:iceberg-spark-runtime-4.1_2.13:1.11.0
    --conf spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog
    --conf spark.sql.catalog.ice.type=hadoop
    --conf spark.sql.catalog.ice.warehouse=<path>

(artifact series: iceberg-spark-runtime-<spark major.minor>_<scala>; for
this image's Spark 4.1 / Scala 2.13 use the newest 1.x release ≥ 1.10).
``test_real_iceberg_roundtrip`` then runs instead of skipping.
"""

from __future__ import annotations

import pytest


def _iceberg_on_classpath(spark) -> bool:
    """True iff the Iceberg Spark runtime is actually loadable. Plain
    ``spark._jvm.org.apache.iceberg.Table`` attribute access is NOT a probe:
    py4j returns a JavaPackage stub for any dotted path without touching
    the classpath, so it is True on a jar-less image. Class.forName forces
    a real load attempt."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def test_real_iceberg_roundtrip(spark, tmp_path):
    """Write/append/time-travel through a real Iceberg hadoop catalog —
    runs iff the runtime jar is present (see module docstring for the
    exact --packages coordinates)."""
    if not _iceberg_on_classpath(spark):
        pytest.skip(
            "Iceberg runtime jar absent; drop in "
            "org.apache.iceberg:iceberg-spark-runtime-4.1_2.13:1.11.0 "
            "(+ spark.sql.catalog.ice=org.apache.iceberg.spark.SparkCatalog, "
            "type=hadoop, warehouse=<path>) to run this round trip"
        )
    spark.conf.set("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ice.warehouse", str(tmp_path / "wh"))
    df1 = spark.range(5).selectExpr("id", "'v1' as tag")
    df1.writeTo("ice.db.t").createOrReplace()
    assert spark.table("ice.db.t").count() == 5
    spark.range(3).selectExpr("id + 100 as id", "'v2' as tag").writeTo(
        "ice.db.t"
    ).append()
    assert spark.table("ice.db.t").count() == 8
    snaps = spark.sql("SELECT snapshot_id FROM ice.db.t.snapshots").collect()
    assert len(snaps) == 2
    first = snaps[0]["snapshot_id"]
    assert (
        spark.sql(f"SELECT count(*) c FROM ice.db.t VERSION AS OF {first}").first()["c"]
        == 5
    )


def test_parquet_catalog_exposes_the_iceberg_api_shape(spark, tmp_path):
    """One scenario driving every Iceberg-analog call on the plain-parquet
    SnapshotCatalog: overwrite (createOrReplace), two fast-appends, current
    read, time travel to each snapshot, snapshot metadata, and the
    bucket-transform pruned point read. A real Iceberg catalog drops in
    behind the identical call sequence (test above)."""
    from pyspark.sql import functions as F

    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    bucketed = lambda df: df.withColumn(  # noqa: E731
        "_bucket", F.pmod(F.xxhash64(F.col("id").cast("string")), F.lit(4))
    )
    cat.commit("t", bucketed(spark.range(5).selectExpr("id", "'base' as tag")),
               partition_by=["_bucket"], n_buckets=4)
    cat.append("t", bucketed(spark.range(5, 8).selectExpr("id", "'d1' as tag")),
               partition_by=["_bucket"], n_buckets=4)
    cat.append("t", bucketed(spark.range(8, 9).selectExpr("id", "'d2' as tag")),
               partition_by=["_bucket"], n_buckets=4)

    # current-snapshot read = base + every append, data schema only
    cur = cat.read("t")
    assert cur.count() == 9 and "_bucket" not in cur.columns

    # time travel: each snapshot readable by name, exactly its own rows
    assert {r["tag"] for r in cat.read("t", snapshot="snap-00000").collect()} == {"base"}
    assert {r["tag"] for r in cat.read("t", snapshot="snap-00001").collect()} == {"d1"}

    # snapshot metadata (summary analog): latest commit is the d2 delta
    m = cat.manifest("t")
    assert m["mode"] == "append" and m["n_buckets"] == 4

    # bucket-transform pruning: a point read over all 4 buckets is the
    # whole table; a single bucket's files are a strict subset
    assert cat.read_buckets("t", [0, 1, 2, 3], n_buckets=4).count() == 9
    one = cat.read_buckets("t", [0], n_buckets=4)
    assert set(one.inputFiles()) < set(cur.inputFiles())

    # overwrite resets the active chain (REPLACE semantics)
    cat.commit("t", spark.range(2).selectExpr("id", "'v2' as tag"))
    assert {r["tag"] for r in cat.read("t").collect()} == {"v2"}
