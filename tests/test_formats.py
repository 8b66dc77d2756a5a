"""Interchange-format round-trips (sources/formats.py): dialect edge
cases the oracle queries can't reach (embedded quotes/newlines, NULLs,
FAILFAST semantics) plus the partition-pruning proof for the
partitioned sink."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from olist_snowflake_dbt_spark.sources import formats as FMT


def _tricky_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("txt", T.StringType()),
            T.StructField("val", T.DoubleType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    rows = [
        (1, 'quote " comma, done', 1.5, datetime.datetime(2024, 1, 2, 3, 4, 5)),
        (2, None, None, None),
        (3, "", 0.1 + 0.2, datetime.datetime(2024, 6, 30, 23, 59, 59)),
        (4, "plain", -7.25, datetime.datetime(2024, 12, 31, 0, 0, 0)),
    ]
    return spark.createDataFrame(rows, schema)


def test_csv_roundtrip_quotes_and_nulls(spark, tmp_path):
    src = _tricky_df(spark)
    path = str(tmp_path / "csv")
    FMT.write_csv(src, path)
    back = FMT.read_csv_typed(spark, path, src.schema)
    got = {r["id"]: r for r in back.collect()}
    want = {r["id"]: r for r in src.collect()}
    assert set(got) == set(want)
    # CSV cannot distinguish empty string from NULL (both serialize to
    # nothing between the delimiters) — the documented lossy corner;
    # everything else must round-trip exactly, doubles included
    for i in want:
        for f in ("val", "ts"):
            assert got[i][f] == want[i][f], (i, f)
    assert got[1]["txt"] == want[1]["txt"]
    assert got[3]["txt"] is None  # "" collapsed to NULL


def test_jsonl_roundtrip_exact_including_empty_string(spark, tmp_path):
    src = _tricky_df(spark)
    path = str(tmp_path / "jsonl")
    FMT.write_jsonl(src, path)
    back = FMT.read_jsonl(spark, path, src.schema)
    assert sorted(back.collect()) == sorted(src.collect())  # "" survives


def test_jsonl_failfast_on_corrupt_line(spark, tmp_path):
    src = _tricky_df(spark)
    path = str(tmp_path / "bad")
    FMT.write_jsonl(src, path)
    with open(os.path.join(path, "part-corrupt.json"), "w") as fh:
        fh.write('{"id": 9, "txt": not-json\n')
    back = FMT.read_jsonl(spark, path, src.schema)
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        back.count()


def test_orc_roundtrip(spark, tmp_path):
    src = _tricky_df(spark)
    path = str(tmp_path / "orc")
    FMT.write_orc(src, path)
    back = FMT.read_orc(spark, path)
    assert sorted(back.collect()) == sorted(src.collect())
    assert back.schema == src.schema


def test_compact_table_merges_small_files(spark, tmp_path):
    from olist_snowflake_dbt_spark.plans.materialize import compact_table

    path = str(tmp_path / "frag")
    spark.range(10000).repartition(32).write.parquet(path)
    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before == 32
    n_after = compact_table(spark, path, target_file_bytes=1 << 30)
    assert n_after <= 2
    back = spark.read.parquet(path)
    assert back.count() == 10000
    assert back.agg(F.sum("id")).first()[0] == 10000 * 9999 // 2

    # a partitioned table keeps its col=value layout: one file per
    # partition value, and a filter on the column still prunes
    part = str(tmp_path / "frag_part")
    spark.range(10000).withColumn("m", F.col("id") % 4).repartition(8).write.partitionBy(
        "m"
    ).parquet(part)
    assert compact_table(spark, part, target_file_bytes=1 << 30) == 4
    assert sorted(d for d in os.listdir(part) if not d.startswith(("_", "."))) == [
        f"m={m}" for m in range(4)
    ]
    for m in range(4):
        files = os.listdir(os.path.join(part, f"m={m}"))
        assert sum(f.endswith(".parquet") for f in files) == 1
    back = spark.read.parquet(part)
    assert back.count() == 10000
    assert back.agg(F.sum("id")).first()[0] == 10000 * 9999 // 2
    pruned = back.filter(F.col("m") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(m" in plan
    assert pruned.count() == 2500


def test_clustered_table_files_own_disjoint_ranges(spark, tmp_path, sf_dir):
    import pyarrow.parquet as pq

    from olist_snowflake_dbt_spark.plans.materialize import (
        materialize_clustered_table,
    )
    from olist_snowflake_dbt_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    rel = materialize_clustered_table(
        spark, "orders_clustered", orders, str(tmp_path), ["o_orderkey"], 6
    )
    assert rel.df.count() == orders.count()
    ranges = []
    for f in os.listdir(rel.path):
        if not f.endswith(".parquet"):
            continue
        md = pq.read_metadata(os.path.join(rel.path, f))
        idx = md.schema.names.index("o_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint: a key-range filter skips whole files


def test_partitioned_sink_prunes(spark, tmp_path):
    src = _tricky_df(spark).filter(F.col("ts").isNotNull()).withColumn(
        "d", F.to_date("ts")
    )
    path = str(tmp_path / "part")
    FMT.write_partitioned_parquet(src, path, ["d"])
    back = spark.read.parquet(path).filter(F.col("d") == "2024-01-02")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the date predicate must appear inside PartitionFilters, not as a
    # post-scan data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "2024-01-02" in pf or "19725" in pf  # literal date or epoch-day
    assert back.count() == 1


def test_zorder_table_skips_files_on_both_dims(spark, tmp_path, sf_dir):
    import pyarrow.parquet as pq

    from olist_snowflake_dbt_spark.plans.materialize import (
        materialize_zorder_table,
    )
    from olist_snowflake_dbt_spark.sources.readers import read_table

    orders = read_table(spark, sf_dir, "orders")
    rel = materialize_zorder_table(
        spark, "orders_z", orders, str(tmp_path),
        ["o_orderkey", "o_totalprice"], num_files=8,
    )
    assert rel.df.count() == orders.count()

    def file_boxes(col):
        boxes = []
        for f in os.listdir(rel.path):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(rel.path, f))
            idx = md.schema.names.index(col)
            stats = [md.row_group(rg).column(idx).statistics
                     for rg in range(md.num_row_groups)]
            boxes.append((min(s.min for s in stats), max(s.max for s in stats)))
        return boxes

    for col in ("o_orderkey", "o_totalprice"):
        boxes = file_boxes(col)
        assert len(boxes) >= 4
        glob_lo = min(b[0] for b in boxes)
        glob_hi = max(b[1] for b in boxes)
        # every file covers a strict subset of EACH dimension's range —
        # single-key range clustering can't do this for the second key
        avg_span = sum(b[1] - b[0] for b in boxes) / len(boxes)
        assert avg_span < 0.8 * (glob_hi - glob_lo), col
        # a point predicate on this dim alone skips at least one file
        probe = glob_lo + (glob_hi - glob_lo) * 0.1
        containing = sum(1 for b in boxes if b[0] <= probe <= b[1])
        assert containing < len(boxes), col


def test_dynamic_partition_pruning_in_join(spark, tmp_path, sf_dir):
    # fact partitioned on event_date; the dim side's selective filter is
    # only resolvable at runtime, so Catalyst inserts a dynamic pruning
    # subquery into the fact scan's partition filters — at 100 TB this is
    # what keeps a dim-filtered join from scanning every date partition
    import datetime as dt

    from olist_snowflake_dbt_spark.sources.readers import read_table

    ev = read_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts"))
    path = str(tmp_path / "events_by_date")
    ev.write.partitionBy("event_date").parquet(path)
    fact = spark.read.parquet(path)
    dates = [r.event_date for r in fact.select("event_date").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, "keep" if i < 2 else "drop") for i, d in enumerate(sorted(dates))],
        "event_date date, tag string",
    )
    joined = (
        fact.join(dim.filter(F.col("tag") == "keep"), "event_date")
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    plan = joined._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower()
    got = {r.event_type: r.n for r in joined.collect()}
    keep_dates = set(sorted(dates)[:2])
    want = {
        r.event_type: r.n
        for r in ev.filter(F.col("event_date").isin(keep_dates))
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want


def test_schema_evolution_merge_nulls(spark, tmp_path):
    from olist_snowflake_dbt_spark.sources.formats import read_parquet_merged

    v1 = spark.createDataFrame([(1, "a")], "id long, x string")
    v2 = spark.createDataFrame([(2, "b", 9.5)], "id long, x string, score double")
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    v1.write.parquet(p1)
    v2.write.parquet(p2)
    back = read_parquet_merged(spark, p1, p2)
    assert set(back.columns) == {"id", "x", "score"}
    rows = {r.id: r for r in back.collect()}
    assert rows[1].score is None  # epoch-1 file predates the column
    assert rows[2].score == 9.5


def test_pyds_partition_invariance(spark):
    """The custom Python DataSource yields identical rows whatever the
    partition count, and honors the planned parallelism."""
    from olist_snowflake_dbt_spark.sources import pyds

    pyds.register(spark)

    def load(parts):
        return (
            spark.read.format("synthetic_corpus")
            .option("numDocs", 100)
            .option("numPartitions", parts)
            .load()
        )

    a, b = load(1), load(7)
    assert b.rdd.getNumPartitions() == 7
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert a.count() == 100
    row = a.filter("doc_id = 42").first()
    import hashlib

    assert row["text"] == hashlib.md5(b"42").hexdigest()
    assert row["source"] == "src_2"


def test_jsonl_sink_datasource_two_phase_commit(spark, tmp_path):
    """Python DataSource WRITE path: executor-staged part files are
    published atomically by the driver commit (manifest + rename), and
    the published data round-trips."""
    import json
    import os

    from olist_snowflake_dbt_spark.sources.pyds import register

    register(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("bucket")
    )
    df.repartition(4).write.format("jsonl_sink").option("path", out).mode(
        "append"
    ).save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert sum(m["rows"] for m in manifest) == 100
    assert len(manifest) == 4  # one published file per task
    assert not os.path.exists(os.path.join(out, "_staging"))
    back = spark.read.json(os.path.join(out, "*.jsonl"))
    assert back.count() == 100
    assert {r.bucket for r in back.select("bucket").distinct().collect()} == {
        "0", "1", "2"
    }


def test_synthetic_corpus_stream_reader_drains_deterministically(spark, tmp_path):
    """Python DataSource STREAM path: the offset-cursor reader drains
    the bounded corpus in batchSize increments under availableNow, and
    the streamed rows equal the batch read exactly (same pure-function
    content, exactly-once offsets)."""
    from olist_snowflake_dbt_spark.sources.pyds import register

    register(spark)
    out_dir = str(tmp_path / "out")
    counts = []
    # three availableNow runs against ONE checkpoint: each drains the
    # next offset increment, and the cursor survives restart — the
    # recovery semantics a real connector needs (memory sink can't
    # recover a checkpoint; the file sink is the durable path)
    for _ in range(3):
        q = (
            spark.readStream.format("synthetic_corpus")
            .option("numDocs", "250")
            .option("batchSize", "100")
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts.append(spark.read.parquet(out_dir).count())
    streamed = spark.read.parquet(out_dir)
    batch = (
        spark.read.format("synthetic_corpus").option("numDocs", "250").load()
    )
    assert counts == [100, 200, 250], counts
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_jsonl_sink_abort_leaves_nothing_published(spark, tmp_path):
    """Two-phase commit abort path: a task failure mid-write publishes
    NOTHING — no part files, no manifest (staged files are cleaned or
    orphaned in _staging, never visible)."""
    import os

    import pytest as _pytest

    from olist_snowflake_dbt_spark.sources.pyds import register

    register(spark)
    out = str(tmp_path / "sink_abort")
    os.makedirs(out, exist_ok=True)

    @F.udf("long")
    def boom(v):
        if v == 7:
            raise ValueError("injected failure")
        return v

    df = spark.range(0, 10).select(boom(F.col("id")).alias("id"))
    with _pytest.raises(Exception):
        df.repartition(4).write.format("jsonl_sink").option("path", out).mode(
            "append"
        ).save()
    assert not any(f.startswith("part-") for f in os.listdir(out))
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
