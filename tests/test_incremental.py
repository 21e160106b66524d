"""Incremental foreachBatch loading: stream → date-partitioned parquet,
idempotent under replay."""

from __future__ import annotations

import math
import os
import shutil

import pytest

from tests.conftest import SF_SMALL


def test_incremental_sink_lands_all_events_partitioned(spark, tmp_path):
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import read_events_stream
    from fotmobdatapipeline_spark.streaming.incremental import (
        incremental_partitioned_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{SF_SMALL}/events.parquet", src / "part-0.parquet")
    out = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    stream = read_events_stream(spark, str(src))
    q = incremental_partitioned_sink(stream, out, ckpt)
    q.processAllAvailable()
    q.stop()

    batch = read_table(spark, SF_SMALL, "events")
    landed = spark.read.parquet(out)
    assert landed.count() == batch.count()
    parts = [d for d in os.listdir(out) if d.startswith("event_date=")]
    assert len(parts) > 5  # hive-partitioned by day

    # Replay: restart from the same checkpoint → no duplicate rows
    # (no new input; partitions would be overwritten, not appended).
    q2 = incremental_partitioned_sink(read_events_stream(spark, str(src)), out, ckpt)
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == batch.count()


def test_upsert_partitioned_merge(spark, tmp_path):
    """MERGE semantics on plain parquet: matched keys replaced, new keys
    appended, untouched partitions byte-identical (never rewritten)."""
    import os

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import upsert_partitioned
    from fotmobdatapipeline_spark.sources.registry import read_table
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "orders_merge")
    orders = read_table(spark, SF_SMALL, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.partitionBy("order_month").parquet(path)
    by_month = {
        r["order_month"]: r["count"]
        for r in orders.groupBy("order_month").count().collect()
    }
    touched_month = max(by_month, key=lambda m: (by_month[m], m))
    untouched_month = min(m for m in by_month if m != touched_month)
    mtimes_before = {
        f: os.path.getmtime(os.path.join(path, f"order_month={untouched_month}", f))
        for f in os.listdir(os.path.join(path, f"order_month={untouched_month}"))
        if f.endswith(".parquet")
    }

    victims = (
        orders.filter(F.col("order_month") == touched_month)
        .orderBy("o_orderkey")
        .limit(5)
        .withColumn("o_orderstatus", F.lit("X"))
    )
    new_keys = victims.select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority", "order_month",
    )
    batch = victims.unionByName(new_keys)
    upsert_partitioned(spark, batch, path, keys=["o_orderkey"], partition_col="order_month")

    merged = spark.read.parquet(path)
    assert merged.count() == orders.count() + 5
    assert merged.filter(F.col("o_orderstatus") == "X").count() == 10
    # replaced keys exist exactly once
    dupes = merged.groupBy("o_orderkey").count().filter(F.col("count") > 1).count()
    assert dupes == 0
    mtimes_after = {
        f: os.path.getmtime(os.path.join(path, f"order_month={untouched_month}", f))
        for f in os.listdir(os.path.join(path, f"order_month={untouched_month}"))
        if f.endswith(".parquet")
    }
    assert mtimes_after == mtimes_before, "untouched partition must not be rewritten"


def test_upsert_aborts_on_unreadable_target(spark, tmp_path):
    """A target that EXISTS but cannot be read (corrupt footer, perms,
    transient FS error) must abort the MERGE — falling through to
    insert-only mode would overwrite the touched partitions with
    source-only rows, silently dropping every pre-existing row."""
    import pytest
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import upsert_partitioned
    from fotmobdatapipeline_spark.sources.registry import read_table
    from tests.conftest import SF_SMALL

    path = str(tmp_path / "corrupt_target")
    import os

    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")

    batch = (
        read_table(spark, SF_SMALL, "orders")
        .limit(3)
        .withColumn("order_month", F.date_format("o_orderdate", "yyyy-MM"))
    )
    with pytest.raises(Exception):
        upsert_partitioned(spark, batch, path, keys=["o_orderkey"], partition_col="order_month")
    # must NOT be swallowed into insert-only mode
    assert os.path.getsize(os.path.join(path, "part-00000.parquet")) == 18

    # a genuinely-absent path still works as plain insert
    fresh = str(tmp_path / "fresh_target")
    upsert_partitioned(spark, batch, fresh, keys=["o_orderkey"], partition_col="order_month")
    assert spark.read.parquet(fresh).count() == 3


def test_compact_partitions_packs_small_files(spark, tmp_path):
    """Compaction rewrites fragmented partitions into the target file
    count, preserves content exactly, and never touches partitions that
    are already packed (or excluded by the ``partitions`` arg)."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import compact_partitions

    path = str(tmp_path / "frag")
    df = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("day"),
        (F.col("id") * 7 % 997).alias("v"),
    )
    # days 0-2 fragmented into 8 files each; day 3 written packed (1 file)
    df.filter("day <> '3'").repartition(8).write.partitionBy("day").parquet(path)
    df.filter("day = '3'").coalesce(1).write.mode("append").partitionBy("day").parquet(path)

    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    assert len(files_of("0")) == 8 and len(files_of("3")) == 1
    day2_before = files_of("2")
    before = sorted(spark.read.parquet(path).collect())

    # compact only days 0 and 1 → day 2 stays fragmented with the SAME files
    stats = compact_partitions(
        spark, path, "day", target_file_bytes=1 << 30, partitions=["0", "1"]
    )
    assert {s["partition"] for s in stats} == {"0", "1"}
    for s in stats:
        assert s["files_before"] == 8 and s["target_files"] == 1
        assert s["files_after"] == 1
    assert len(files_of("0")) == 1 and len(files_of("1")) == 1
    assert files_of("2") == day2_before  # untouched partition: same files
    assert sorted(spark.read.parquet(path).collect()) == before  # row-identical

    # second pass over the whole table: packs day 2, leaves 0/1/3 alone
    stats2 = compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    assert {s["partition"] for s in stats2} == {"2"}
    assert len(files_of("2")) == 1
    assert sorted(spark.read.parquet(path).collect()) == before

    # already-packed table → no-op, nothing selected
    assert compact_partitions(spark, path, "day", target_file_bytes=1 << 30) == []


def test_compact_partitions_escaped_values(spark, tmp_path):
    """Partition values that Hive-escape in the directory name ('10:30'
    lists as day=10%3A30) compact losslessly: the staged twin is matched
    by DECODED value, so the re-escaped write still swaps back into the
    original directory instead of being mistaken for an empty partition
    and deleted (the pre-fix failure mode lost every row)."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import compact_partitions

    path = str(tmp_path / "esc")
    df = spark.range(0, 400).select(
        F.col("id"),
        F.concat(
            (F.col("id") % 2 + 10).cast("string"), F.lit(":30")
        ).alias("day"),  # values '10:30' / '11:30' → dirs day=10%3A30 …
    )
    df.repartition(6).write.partitionBy("day").parquet(path)
    dirs = sorted(d for d in os.listdir(path) if d.startswith("day="))
    assert dirs == ["day=10%3A30", "day=11%3A30"]
    before = sorted(spark.read.parquet(path).collect())

    stats = compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    assert {s["partition"] for s in stats} == {"10%3A30", "11%3A30"}
    assert all(s["files_before"] == 6 and s["files_after"] == 1 for s in stats)
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == dirs
    assert sorted(spark.read.parquet(path).collect()) == before
    # no staging leftovers on success
    assert not [d for d in os.listdir(path) if d.startswith("_compact_staging")]


def test_compact_partitions_refuses_decode_collisions(spark, tmp_path):
    """Two fragmented dirs whose names DECODE to the same value (an
    escaped day=a%3A beside a raw-written day=a:) would silently merge
    through the union+partitionBy staging write — compaction must refuse
    up front, leaving both untouched."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import compact_partitions

    path = str(tmp_path / "coll")
    # Spark-escaped dir for value 'a:'
    spark.range(0, 40).select(F.col("id"), F.lit("a:").alias("day")).repartition(
        4
    ).write.partitionBy("day").parquet(path)
    # an external writer's RAW directory with the same decoded value
    spark.range(40, 80).select(F.col("id")).repartition(4).write.parquet(
        f"{path}/day=a:"
    )
    assert sorted(d for d in os.listdir(path) if d.startswith("day=")) == [
        "day=a%3A",
        "day=a:",
    ]
    before = {
        d: sorted(os.listdir(f"{path}/{d}"))
        for d in ("day=a%3A", "day=a:")
    }
    with pytest.raises(ValueError, match="decode to the same value"):
        compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    after = {
        d: sorted(os.listdir(f"{path}/{d}"))
        for d in ("day=a%3A", "day=a:")
    }
    assert after == before  # nothing rewritten, nothing deleted


def test_compact_partitions_never_infers_empty(spark, tmp_path, monkeypatch):
    """If a non-empty partition's staged twin cannot be found, compaction
    must raise with the source intact and the staging dir preserved —
    never treat 'absent from the staged listing' as 'zero rows'."""
    import fotmobdatapipeline_spark.sources.fsutil as fsutil
    from fotmobdatapipeline_spark.operators.merge import compact_partitions

    path = str(tmp_path / "guard")
    spark.range(0, 100).selectExpr("id", "'a' as day").repartition(4).write.partitionBy(
        "day"
    ).parquet(path)
    before = sorted(spark.read.parquet(path).collect())

    real_listing = fsutil.partition_dirs

    def lossy_listing(spark_, p, col, only=None):
        if "_compact_staging" in p:
            return []  # simulate a staged listing that misses everything
        return real_listing(spark_, p, col, only=only)

    monkeypatch.setattr(fsutil, "partition_dirs", lossy_listing)
    with pytest.raises(RuntimeError, match="staged copies preserved"):
        compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    monkeypatch.undo()

    # source rows untouched, staged copy retained for manual recovery
    assert sorted(spark.read.parquet(path).collect()) == before
    staging = [d for d in os.listdir(path) if d.startswith("_compact_staging")]
    assert len(staging) == 1
    staged_rows = spark.read.parquet(f"{path}/{staging[0]}")
    assert staged_rows.count() == 100


def test_unescape_partition_value_roundtrip():
    from fotmobdatapipeline_spark.sources.fsutil import unescape_partition_value

    assert unescape_partition_value("10%3A30") == "10:30"
    assert unescape_partition_value("a%25b") == "a%b"  # escaped literal %
    assert unescape_partition_value("100%") == "100%"  # trailing bare %
    assert unescape_partition_value("%zz5") == "%zz5"  # non-hex after %
    assert unescape_partition_value("plain") == "plain"
    assert unescape_partition_value("%2F%5C") == "/\\"


def test_escape_partition_value_matches_spark_writer(spark, tmp_path):
    """escape_partition_value must produce EXACTLY the directory name
    Spark's own partitionBy writes — checked against the real writer for
    every special-character class, plus inverse round-trips."""
    from fotmobdatapipeline_spark.sources.fsutil import (
        escape_partition_value,
        unescape_partition_value,
    )

    values = ["10:30", "a/b", "50%", "x=y", "q?", "it's", "c#1", "a b", "plain-1.0"]
    path = str(tmp_path / "esc")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, day string"
    ).coalesce(1).write.partitionBy("day").parquet(path)
    dirnames = sorted(
        d[len("day="):] for d in os.listdir(path) if d.startswith("day=")
    )
    assert dirnames == sorted(escape_partition_value(v) for v in values)
    for v in values:
        assert unescape_partition_value(escape_partition_value(v)) == v

    # NULL and '' both land in Spark's default-partition dir (verified
    # against the real writer above in fsutil's docstring contract)
    assert escape_partition_value(None) == "__HIVE_DEFAULT_PARTITION__"
    assert escape_partition_value("") == "__HIVE_DEFAULT_PARTITION__"


def test_compact_partitions_respects_multi_file_target(spark, tmp_path):
    """A partition bigger than target_file_bytes is packed into
    ceil(bytes/target) files, not one giant file."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import (
        _partition_file_stats,
        compact_partitions,
    )

    path = str(tmp_path / "big")
    df = spark.range(0, 20000).select(
        F.col("id"), F.lit("a").alias("day"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    )
    df.repartition(16).write.partitionBy("day").parquet(path)
    bytes_ = _partition_file_stats(spark, path, "day")["a"][1]
    target = bytes_ // 3  # ceil(bytes/target): 3 if 3 divides bytes, else 4
    before = sorted(spark.read.parquet(path).collect())

    stats = compact_partitions(spark, path, "day", target_file_bytes=target)
    assert len(stats) == 1
    s = stats[0]
    assert s["files_before"] == 16
    assert 1 <= s["files_after"] <= s["target_files"] == math.ceil(bytes_ / target)
    assert sorted(spark.read.parquet(path).collect()) == before


def test_collect_table_stats_roundtrip(spark, tmp_path):
    """One-pass ANALYZE: row/null/ndv/min-max computed and persisted
    atomically beside the data, invisible to the parquet reader."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        collect_table_stats,
        read_table_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("bucket"),
        F.when(F.col("id") % 4 == 0, None).otherwise(F.col("id").cast("double")).alias("v"),
        F.concat(F.lit("u"), (F.col("id") % 50).cast("string")).alias("name"),
    )
    df.write.parquet(path)

    stats = collect_table_stats(spark, path)
    assert stats["row_count"] == 1000
    assert stats["columns"]["id"]["min"] == 0 and stats["columns"]["id"]["max"] == 999
    assert stats["columns"]["v"]["null_count"] == 250
    assert abs(stats["columns"]["bucket"]["approx_ndv"] - 10) <= 1
    assert abs(stats["columns"]["name"]["approx_ndv"] - 50) <= 5
    assert "min" not in stats["columns"]["name"]  # strings: no min/max

    # persisted copy reads back identically; data files unaffected
    assert read_table_stats(spark, path) == stats
    assert spark.read.parquet(path).count() == 1000  # _stats dir ignored

    # refresh after data change overwrites atomically
    spark.range(1000, 1100).select(
        F.col("id"), (F.col("id") % 10).alias("bucket"),
        F.col("id").cast("double").alias("v"),
        F.lit("u0").alias("name"),
    ).write.mode("append").parquet(path)
    stats2 = collect_table_stats(spark, path)
    assert stats2["row_count"] == 1100
    assert read_table_stats(spark, path)["row_count"] == 1100
    assert read_table_stats(spark, str(tmp_path / "absent")) is None


def test_table_lifecycle_end_to_end(spark, tmp_path):
    """The full maintenance window on one table: incremental MERGE
    upserts fragment it, compaction packs it, ANALYZE refreshes stats,
    and a schema-widened late batch stays readable via read_evolved."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import (
        compact_partitions,
        upsert_partitioned,
    )
    from fotmobdatapipeline_spark.operators.profiling import (
        collect_table_stats,
        read_table_stats,
    )
    from fotmobdatapipeline_spark.sources.evolution import read_evolved

    path = str(tmp_path / "t")

    def batch(lo, hi, status):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.lit(status).alias("status"),
            (F.col("id") % 3).cast("string").alias("day"),
        )

    # three incremental upserts, the third revising half of the second
    upsert_partitioned(spark, batch(0, 300, "new"), path, ["k"], "day")
    upsert_partitioned(spark, batch(300, 600, "new"), path, ["k"], "day")
    upsert_partitioned(spark, batch(450, 600, "revised"), path, ["k"], "day")
    df = spark.read.parquet(path)
    assert df.count() == 600
    assert df.filter("status = 'revised'").count() == 150

    # compaction packs every fragmented partition, content unchanged
    before = sorted(df.collect())
    stats = compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    assert stats and all(s["files_after"] <= s["target_files"] for s in stats)
    assert sorted(spark.read.parquet(path).collect()) == before

    # ANALYZE after the window; stats match the table
    t = collect_table_stats(spark, path)
    assert t["row_count"] == 600
    assert t["columns"]["k"]["min"] == 0 and t["columns"]["k"]["max"] == 599
    assert read_table_stats(spark, path) == t

    # a later producer widens k to a wider physical shape in a NEW
    # partition dir; the table stays readable end-to-end
    spark.range(600, 650).select(
        F.col("id").cast("int").alias("k"), F.lit("v2").alias("status")
    ).coalesce(1).write.parquet(path + "/day=9")
    evolved = read_evolved(spark, path, partition_col="day")
    assert evolved.count() == 650
    assert dict(evolved.dtypes)["k"] == "bigint"


def test_compact_partitions_no_value_collision(spark, tmp_path):
    """Lexically distinct partition values that collide under partition
    type inference (day=0 vs day=00 both parse to int 0) must stay
    separate: per-directory reads, no cast-to-string filter."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import compact_partitions

    path = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id")).repartition(4).write.parquet(path + "/day=0")
    spark.range(100, 150).select(F.col("id")).repartition(4).write.parquet(path + "/day=00")

    stats = compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    assert {s["partition"]: s["files_after"] for s in stats} == {"0": 1, "00": 1}
    # no duplication, no loss, and each dir holds exactly its own rows
    assert spark.read.parquet(path + "/day=0").count() == 100
    assert spark.read.parquet(path + "/day=00").count() == 50
    got = sorted(r[0] for r in spark.read.parquet(path + "/day=0").collect())
    assert got == list(range(100))


def test_compact_partitions_removes_zero_row_partition(spark, tmp_path):
    """A fragmented partition whose files hold zero rows is deleted,
    not re-selected forever."""
    import os

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import compact_partitions

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    spark.range(0, 100).select(F.col("id")).repartition(3).write.parquet(path + "/day=a")
    # three genuine 0-row parquet files (footer, no rows) — the shape a
    # foreign writer or a filtered-out batch leaves behind
    os.makedirs(path + "/day=b")
    empty = pa.table({"id": pa.array([], type=pa.int64())})
    for i in range(3):
        pq.write_table(empty, f"{path}/day=b/part-{i}.parquet")

    stats = compact_partitions(spark, path, "day", target_file_bytes=1 << 30)
    by = {s["partition"]: s for s in stats}
    assert by["a"]["files_after"] == 1
    assert by["b"]["files_after"] == 0 and not os.path.exists(path + "/day=b")
    assert spark.read.parquet(path).count() == 100
    # second run: nothing left to do
    assert compact_partitions(spark, path, "day", target_file_bytes=1 << 30) == []


def test_partition_stats_merge_equals_full(spark, tmp_path):
    """Incremental ANALYZE: per-partition stats merged by
    read_merged_table_stats must equal a full-table computation —
    counts/nulls/min/max exactly, and the HLL NDV estimate EXACTLY
    (per-register max merge == full-table sketch, the mergeability
    property), all without rescanning the table at merge time."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        _hll_estimate_py,
        collect_partition_stats,
        read_merged_table_stats,
    )
    from fotmobdatapipeline_spark.operators.sketches import hll_registers

    path = str(tmp_path / "t")
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("day"),
        (F.col("id") % 700).alias("u"),
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id").cast("double")).alias("v"),
    )
    df.write.partitionBy("day").parquet(path)

    per = collect_partition_stats(spark, path, "day", ndv_cols=["u"])
    assert set(per) == {"0", "1", "2"}
    assert sum(p["row_count"] for p in per.values()) == 3000

    merged = read_merged_table_stats(spark, path)
    assert merged["row_count"] == 3000
    assert merged["columns"]["k"]["min"] == 0 and merged["columns"]["k"]["max"] == 2999
    assert merged["columns"]["v"]["null_count"] == 600
    assert merged["partitions"] == ["0", "1", "2"]

    # register-exact: merged partition sketches == one full-table sketch
    full = {
        int(r["reg_idx"]): int(r["max_rho"])
        for r in hll_registers(df.select("u"), "u").collect()
    }
    assert merged["approx_ndv"]["u"] == _hll_estimate_py(full)
    true_ndv = 700
    assert abs(merged["approx_ndv"]["u"] - true_ndv) / true_ndv < 0.25  # m=64 rsd


def test_partition_stats_null_keys_in_ndv_cols(spark, tmp_path):
    """A NULL in a sketched (ndv) column must not abort the ANALYZE:
    hll_registers used to emit a reg_idx=NULL row for null keys, which
    blew up int(reg_idx) in collect_partition_stats — fatal for
    incremental_sink_with_stats, where one null value in one micro-batch
    killed the whole streaming query.  Nulls are ignored, matching
    approx_count_distinct."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        collect_partition_stats,
        read_merged_table_stats,
    )
    from fotmobdatapipeline_spark.operators.sketches import hll_registers

    path = str(tmp_path / "t")
    df = spark.range(0, 900).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("day"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") % 250)
        .alias("u"),  # 25% nulls in the sketched column
    )
    df.write.partitionBy("day").parquet(path)

    per = collect_partition_stats(spark, path, "day", ndv_cols=["u"])  # no raise
    assert set(per) == {"0", "1", "2"}
    merged = read_merged_table_stats(spark, path)
    assert abs(merged["approx_ndv"]["u"] - 250) / 250 < 0.4  # m=64 raw regime

    # the register table itself carries no NULL rows, and matches the
    # sketch of the explicitly null-filtered input register-for-register
    regs = hll_registers(df.select("u"), "u").collect()
    assert all(r["reg_idx"] is not None and r["max_rho"] is not None for r in regs)
    nn = hll_registers(df.filter(F.col("u").isNotNull()).select("u"), "u").collect()
    as_map = lambda rows: {int(r["reg_idx"]): int(r["max_rho"]) for r in rows}
    assert as_map(regs) == as_map(nn)


def test_partition_stats_incremental_refresh(spark, tmp_path):
    """Refreshing only the touched partition's stats after an upsert
    reproduces the same merged stats as recomputing everything."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.merge import upsert_partitioned
    from fotmobdatapipeline_spark.operators.profiling import (
        collect_partition_stats,
        read_merged_table_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 900).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("day"),
        (F.col("id") % 100).alias("u"),
    )
    df.write.partitionBy("day").parquet(path)
    collect_partition_stats(spark, path, "day", ndv_cols=["u"])

    # upsert touches ONLY day=1 (new keys with fresh u values)
    batch = spark.range(900, 1100).select(
        F.col("id").alias("k"), F.lit("1").alias("day"),
        (F.col("id") % 350).alias("u"),
    )
    upsert_partitioned(spark, batch, path, keys=["k"], partition_col="day")

    # refresh just the touched partition — O(touched), not O(table)
    collect_partition_stats(spark, path, "day", partitions=["1"], ndv_cols=["u"])
    fast = read_merged_table_stats(spark, path)

    # ground truth: recompute every partition from scratch
    collect_partition_stats(spark, path, "day", ndv_cols=["u"])
    full = read_merged_table_stats(spark, path)
    assert fast == full
    assert fast["row_count"] == 1100
    assert fast["columns"]["k"]["max"] == 1099


def test_incremental_sink_with_stats_stays_current(spark, tmp_path):
    """The stats-maintaining stream sink lands every event AND leaves
    merged table stats that match the landed table exactly — refreshed
    per batch for only the touched partitions."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        read_merged_table_stats,
    )
    from fotmobdatapipeline_spark.sources.registry import read_table
    from fotmobdatapipeline_spark.streaming.events import read_events_stream
    from fotmobdatapipeline_spark.streaming.incremental import (
        incremental_sink_with_stats,
    )

    src = tmp_path / "src"
    src.mkdir()
    _sh.copy(f"{SF_SMALL}/events.parquet", src / "part-0.parquet")
    out = str(tmp_path / "table")

    # NDV over event_id (high cardinality): the repo's raw HLL omits
    # the small-range correction by design (hll_estimate docstring), so
    # n >> m is the supported estimate regime.
    q = incremental_sink_with_stats(
        read_events_stream(spark, str(src)), out, str(tmp_path / "ckpt"),
        ndv_cols=("event_id",),
    )
    q.processAllAvailable()
    q.stop()

    landed = spark.read.parquet(out)
    stats = read_merged_table_stats(spark, out)
    assert stats["row_count"] == landed.count() == read_table(spark, SF_SMALL, "events").count()
    lo, hi = landed.agg(F.min("event_id"), F.max("event_id")).first()
    assert stats["columns"]["event_id"]["min"] == lo
    assert stats["columns"]["event_id"]["max"] == hi
    true_ndv = landed.select("event_id").distinct().count()
    assert abs(stats["approx_ndv"]["event_id"] - true_ndv) / true_ndv < 0.25
    assert len(stats["partitions"]) == len(
        [d for d in __import__("os").listdir(out) if d.startswith("event_date=")]
    )


def test_partition_stats_escaped_partition_values(spark, tmp_path):
    """Stats keys are the Hive-escaped dir-name form: a ':'-valued
    partition ('10:30' on disk as slot=10%3A30) is found via
    escape_partition_value, its stats file is filesystem-safe, and the
    merged view survives the partition_dirs orphan check (which also
    lists dir-name forms)."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        collect_partition_stats,
        read_merged_table_stats,
    )
    from fotmobdatapipeline_spark.sources.fsutil import escape_partition_value

    path = str(tmp_path / "t")
    df = spark.range(0, 200).select(
        F.col("id"),
        F.concat((F.col("id") % 2 + 10).cast("string"), F.lit(":30")).alias("slot"),
    )
    df.write.partitionBy("slot").parquet(path)

    touched = ["10:30", "11:30"]  # DATA values, as a sink would collect them
    per = collect_partition_stats(
        spark, path, "slot",
        partitions=[escape_partition_value(v) for v in touched],
    )
    assert set(per) == {"10%3A30", "11%3A30"}
    assert sum(p["row_count"] for p in per.values()) == 200

    merged = read_merged_table_stats(spark, path)
    assert merged["row_count"] == 200
    assert merged["partitions"] == ["10%3A30", "11%3A30"]

    # unescaped data values would silently match nothing — the exact
    # failure mode the escape fixes; pin it so the contract is visible
    assert collect_partition_stats(spark, path, "slot", partitions=touched) == {}


def test_partition_stats_orphans_never_merge(spark, tmp_path):
    """Stats for a partition that was dropped must not haunt the merged
    view: the merged read excludes orphans, and a full refresh deletes
    their files."""
    import os

    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        collect_partition_stats,
        read_merged_table_stats,
    )

    path = str(tmp_path / "t")
    spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("day")
    ).write.partitionBy("day").parquet(path)
    collect_partition_stats(spark, path, "day")
    assert read_merged_table_stats(spark, path)["row_count"] == 300

    # drop partition day=2 out from under the stats
    import shutil as _sh

    _sh.rmtree(path + "/day=2")
    merged = read_merged_table_stats(spark, path)
    assert merged["row_count"] == 200  # orphan excluded, not merged
    assert merged["partitions"] == ["0", "1"]
    assert os.path.exists(path + "/_stats/parts/2.json")  # read never mutates

    # full refresh prunes the orphan file
    collect_partition_stats(spark, path, "day")
    assert not os.path.exists(path + "/_stats/parts/2.json")
    assert read_merged_table_stats(spark, path)["row_count"] == 200


def test_partition_hist_merge_exact_and_quantiles(spark, tmp_path):
    """Fixed-edge partition histograms merge by exact bucket-count sum
    (merged == full-table histogram, integer-exact) and the quantile
    estimator lands within one bucket width of the true percentile."""
    from pyspark.sql import functions as F

    from fotmobdatapipeline_spark.operators.profiling import (
        collect_partition_stats,
        quantile_from_merged_hist,
        read_merged_table_stats,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("day"),
        (F.pow(F.col("id") % 100, F.lit(2.0))).alias("v"),  # skewed 0..9801
    )
    df.write.partitionBy("day").parquet(path)
    spec = {"v": (0.0, 9801.0, 50)}
    collect_partition_stats(spark, path, "day", hist_cols=spec)
    merged = read_merged_table_stats(spark, path)
    h = merged["hist"]["v"]
    assert sum(h["counts"].values()) == 5000  # every non-null row counted

    # merged histogram == single full-table histogram, bucket for bucket
    width = 9801.0 / 50
    full = {
        int(r[0]): r[1]
        for r in df.select(
            F.least(
                F.greatest(F.floor(F.col("v") / width), F.lit(0)), F.lit(49)
            ).cast("int").alias("b")
        ).groupBy("b").count().collect()
    }
    assert {int(k): v for k, v in h["counts"].items()} == full

    # quantile estimate within one bucket width of the exact percentile
    import math

    exact = sorted((i % 100) ** 2 for i in range(5000))
    for q in (0.1, 0.5, 0.9):
        est = quantile_from_merged_hist(h, q)
        true = exact[math.floor(q * (len(exact) - 1))]
        assert abs(est - true) <= width + 1e-9, (q, est, true)


def test_incremental_join_view_full_case_matrix(spark):
    """Every IVM case at once: fact insert/delete/measure-update/
    dim-key move, dim attribute update/delete/insert — including the
    inner-join trap where a dim INSERT adopts a previously-orphaned
    fact.  Maintained view must equal the direct re-join of the new
    snapshots."""
    from fotmobdatapipeline_spark.operators.cdc import (
        incremental_join_view,
        snapshot_diff,
    )

    fact_old = spark.createDataFrame(
        [
            (1, 10, 100),  # untouched
            (2, 10, 200),  # measure update
            (3, 20, 300),  # dim-key move 20 -> 30
            (4, 20, 400),  # fact delete
            (5, 40, 500),  # dim 40 gets attribute update
            (6, 50, 600),  # dim 50 deleted -> row must vanish
            (7, 99, 700),  # ORPHAN: dim 99 absent in old, inserted in new
        ],
        "fk long, dk long, m long",
    )
    fact_new = spark.createDataFrame(
        [
            (1, 10, 100),
            (2, 10, 201),
            (3, 30, 300),
            (5, 40, 500),
            (6, 50, 600),
            (7, 99, 700),
            (8, 30, 800),  # fact insert
        ],
        "fk long, dk long, m long",
    )
    dim_old = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c"), (40, "d"), (50, "e")],
        "dk long, attr string",
    )
    dim_new = spark.createDataFrame(
        [(10, "a"), (20, "b"), (30, "c"), (40, "D2"), (99, "z")],
        "dk long, attr string",
    )

    view_old = fact_old.join(dim_old, "dk")
    fdiff = snapshot_diff(fact_old, fact_new, keys=["fk"], compare_cols=["dk", "m"])
    ddiff = snapshot_diff(dim_old, dim_new, keys=["dk"], compare_cols=["attr"])
    got = sorted(
        map(
            tuple,
            incremental_join_view(
                view_old,
                fact_new,
                dim_new,
                fact_changed_keys=fdiff.select("fk"),
                dim_changed_keys=ddiff.select("dk"),
                fact_key="fk",
                dim_key="dk",
            )
            .select("fk", "dk", "m", "attr")
            .collect(),
        )
    )
    want = sorted(
        map(tuple, fact_new.join(dim_new, "dk").select("fk", "dk", "m", "attr").collect())
    )
    assert got == want
    # The trap case really is present: orphan fact 7 adopted by dim 99.
    assert (7, 99, 700, "z") in got
    # And dim-50's fact really vanished.
    assert not any(r[0] == 6 for r in got)


def test_incremental_join_view_untouched_rows_never_rejoin(spark):
    """Plan contract: the carried-forward side is filters over the old
    view only — the dimension appears in the REBUILT branch, so with an
    empty change set the dim table is joined against zero fact rows."""
    from fotmobdatapipeline_spark.operators.cdc import incremental_join_view

    fact = spark.createDataFrame([(1, 10, 100)], "fk long, dk long, m long")
    dim = spark.createDataFrame([(10, "a")], "dk long, attr string")
    view_old = fact.join(dim, "dk")
    empty_keys = spark.createDataFrame([], "fk long")
    empty_dkeys = spark.createDataFrame([], "dk long")
    out = incremental_join_view(
        view_old, fact, dim, empty_keys, empty_dkeys, "fk", "dk"
    )
    assert sorted(map(tuple, out.select("fk", "dk", "m", "attr").collect())) == [
        (1, 10, 100, "a")
    ]


def test_incremental_join_view_preserves_duplicate_fact_rows(spark):
    """ADVICE r9: the affected-set union must NOT collapse genuinely
    duplicated fact rows (event-style facts are not row-unique per key)
    — the maintained view must equal the direct inner join, duplicates
    and all, whether the duplicate row is affected via its own fact key
    or via its dim key."""
    from fotmobdatapipeline_spark.operators.cdc import incremental_join_view

    # fk 2 appears TWICE with identical rows; its dim (20) gets an
    # attribute update.  fk 3 appears twice identically and is itself a
    # changed fact key.
    fact_new = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (2, 20, 200), (3, 10, 300), (3, 10, 300)],
        "fk long, dk long, m long",
    )
    dim_new = spark.createDataFrame(
        [(10, "a"), (20, "B2")], "dk long, attr string"
    )
    fact_old = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (2, 20, 200)], "fk long, dk long, m long"
    )
    dim_old = spark.createDataFrame([(10, "a"), (20, "b")], "dk long, attr string")
    view_old = fact_old.join(dim_old, "dk")
    changed_fk = spark.createDataFrame([(3,)], "fk long")
    changed_dk = spark.createDataFrame([(20,)], "dk long")
    got = sorted(
        map(
            tuple,
            incremental_join_view(
                view_old, fact_new, dim_new, changed_fk, changed_dk, "fk", "dk"
            )
            .select("fk", "dk", "m", "attr")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            fact_new.join(dim_new, "dk").select("fk", "dk", "m", "attr").collect(),
        )
    )
    assert got == want
    # Both duplicate pairs really survived.
    assert got.count((2, 20, 200, "B2")) == 2
    assert got.count((3, 10, 300, "a")) == 2
