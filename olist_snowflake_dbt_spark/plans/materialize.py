"""Materializations: how a compiled DataFrame becomes a named relation.

Reference semantics (SURVEY.md §2 A17-A19):

- ``view``   — Snowflake ``CREATE OR REPLACE VIEW`` (dbt-snowflake
  macros/relations/view/create.sql:1-33). Spark: a temp view over the
  *unmaterialized* DataFrame — zero cost, and Catalyst fuses it into every
  consumer (pushdown/pruning flow through, exactly like warehouse view
  inlining).
- ``table``  — ``CREATE OR REPLACE TABLE … AS`` with intermediate/backup
  rename-swap for atomicity (dbt macros/materializations/models/
  table.sql:17-50). Spark: write Parquet to ``<name>.tmp-<token>``, then
  atomically rename over the live directory, then re-register the view over
  the written files. Readers either see the old or the new table.
- ``ephemeral`` — never registered; inlined into consumers (dbt CTE
  inlining). Spark: identical to an unregistered DataFrame.
- ``incremental`` — see operators/incremental.py (dbt-snowflake
  macros/materializations/incremental.sql:42-59).

At 100 TB: table writes accept ``partition_by`` (maps to
``DataFrameWriter.partitionBy`` for partition-pruned reads downstream) and
``buckets`` (hash-bucketed layout so later equi-joins/aggs on the bucket key
avoid a shuffle). A partitioned write is clustered
(:func:`_partitioned_writer`): each generation holds one file per partition
value, split only past AQE's advisory partition size, instead of one file
per (task, partition) pair. Partition directories are listed in the driver
below 1024 entries (``session._DEFAULTS``), so reading such a table runs no
listing job. Plain Parquet directory-rename publish is atomic on
HDFS/local POSIX; on object stores you'd swap a metastore pointer or use a
table format — documented tradeoff, same engine API.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from dataclasses import dataclass
from typing import Literal

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

Materialization = Literal[
    "view", "table", "ephemeral", "incremental", "dynamic_table"
]


@dataclass
class MaterializedRelation:
    name: str
    materialization: str
    path: str | None  # None for views/ephemeral
    df: DataFrame


def materialize_view(name: str, df: DataFrame) -> MaterializedRelation:
    df.createOrReplaceTempView(name)
    return MaterializedRelation(name, "view", None, df)


def materialize_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    warehouse_dir: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> MaterializedRelation:
    """CTAS with atomic publish: write tmp dir → swap → register view.

    Mirrors dbt's create-intermediate → rename-swap → drop-backup dance
    (macros/materializations/models/table.sql:17-50) on a filesystem.
    """
    final = os.path.join(warehouse_dir, name)
    out = _publish(spark, df, final, partition_by)
    out.createOrReplaceTempView(name)
    return MaterializedRelation(name, "table", final, out)


def _publish(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """The one publish path for a parquet relation: write ``df`` to
    ``<path>.tmp-<token>``, :func:`_atomic_swap` it over ``path``, and
    return a fresh read of the published files. A lazy ``df`` that reads
    the standing files is safe: the write materializes it before the
    swap moves those files away."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    _partitioned_writer(df, partition_by).mode("overwrite").parquet(tmp)
    _atomic_swap(path, tmp)
    return spark.read.parquet(path)


def _partitioned_writer(
    df: DataFrame, partition_by: Sequence[str] = ()
) -> DataFrameWriter:
    """The writer for ``df`` laid out by ``partition_by``. A partitioned
    write is clustered first with AQE's ``rebalance`` hint: each
    partition value goes to one task, small partitions are coalesced,
    and only a value past the advisory partition size is split across
    tasks. So a generation holds one file per partition value instead
    of one per (task, partition) pair. A plain ``repartition(*cols)``
    would also give one file per value, but would write a skewed value
    from a single task. Unpartitioned writes are left as they are."""
    if not partition_by:
        return df.write
    return df.hint("rebalance", *partition_by).write.partitionBy(*partition_by)


def _atomic_swap(final: str, tmp: str) -> None:
    """Publish ``tmp`` over ``final`` with restore-on-failure: back the
    old generation up, rename ``tmp`` in, restore the backup if that
    rename fails, then drop the backup. Never delete-then-rename — the
    old generation stays restorable until the new one is in place. The
    backup is a dot-prefixed sibling, which Spark's file listing skips,
    so swapping one partition directory inside a table leaves no
    leftover that readers or partition inference could see."""
    backup = os.path.join(
        os.path.dirname(final),
        f".{os.path.basename(final)}.backup-{uuid.uuid4().hex[:8]}",
    )
    if os.path.exists(final):
        os.rename(final, backup)
    try:
        os.rename(tmp, final)
    except OSError:
        if os.path.exists(backup):
            os.rename(backup, final)
        raise
    if os.path.exists(backup):
        shutil.rmtree(backup, ignore_errors=True)


def _data_files(path: str) -> list[str]:
    """Every data file under ``path``, partition directories included;
    ``_``/``.``-prefixed files and directories are skipped, like
    Spark's own listing skips them."""
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        out.extend(
            os.path.join(root, f) for f in files if not f.startswith(("_", "."))
        )
    return out


def _partition_columns(path: str) -> tuple[str, ...]:
    """The partition columns of a parquet directory, read off its
    ``col=value`` directory chain (the first such directory per level)."""
    cols: list[str] = []
    while True:
        sub = next(
            (
                e
                for e in os.scandir(path)
                if e.is_dir() and "=" in e.name
                and not e.name.startswith(("_", "."))
            ),
            None,
        )
        if sub is None:
            return tuple(cols)
        cols.append(sub.name.split("=", 1)[0])
        path = sub.path


def compact_table(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(bytes / target)`` evenly-sized files and atomically swap it
    in. Returns the new data file count.

    THE recurring maintenance op of a 100 TB lakehouse: streaming and
    incremental writers leave thousands of KB-scale files per partition,
    and scan cost becomes per-file overhead (footer reads, task
    scheduling) instead of bytes. ``repartition`` (round-robin shuffle)
    is chosen over ``coalesce`` deliberately — coalesce merges unevenly
    and can leave one giant file per final task; even file sizes are the
    point of compaction. A partitioned table keeps its ``col=value``
    layout (the columns are read off the directory chain) and is
    republished through the clustered partitioned write: one file per
    partition value, split past AQE's advisory partition size rather
    than at ``target_file_bytes``. Sizing here walks the local
    directory; on a cluster the same calls go through the Hadoop
    FileSystem API. The swap keeps readers on the old files until the
    rename."""
    partition_by = _partition_columns(path)
    df = spark.read.parquet(path)
    if not partition_by:
        size = sum(os.path.getsize(f) for f in _data_files(path))
        df = df.repartition(max(1, -(-size // target_file_bytes)))
    _publish(spark, df, path, partition_by)
    return len(_data_files(path))


def materialize_clustered_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    warehouse_dir: str,
    cluster_by: list[str],
    num_files: int = 8,
) -> MaterializedRelation:
    """Range-clustered layout: ``repartitionByRange`` on the cluster
    columns + ``sortWithinPartitions`` before the write, so every
    output file owns a DISJOINT value range and its parquet row-group
    min/max stats are tight. Point/range filters on the cluster key
    then skip whole files/row-groups at scan time — the poor man's
    Z-order, and the right layout for a 100 TB table whose dominant
    predicate is a range on one key (time, id). Disjointness is
    asserted from the written footers in tests/test_formats.py."""
    final = os.path.join(warehouse_dir, name)
    out = _publish(
        spark,
        df.repartitionByRange(num_files, *cluster_by).sortWithinPartitions(
            *cluster_by
        ),
        final,
    )
    out.createOrReplaceTempView(name)
    return MaterializedRelation(name, "clustered_table", final, out)


def clone_table(src: str, dst: str) -> int:
    """B4: zero-copy clone (dbt ``clone.sql`` / Snowflake ``CREATE TABLE
    … CLONE``) at parquet-file granularity: every data file of ``src``
    is HARDLINKED into ``dst`` — no bytes copied, metadata-only, exactly
    Snowflake's pointer semantics. Safe because every writer in this
    repo publishes immutable files via write-to-tmp + atomic rename
    (:func:`_publish` / :func:`_atomic_swap`): a later
    overwrite of either table swaps in NEW files and never mutates a
    linked one, so clones diverge copy-on-write like Snowflake's. Falls
    back to a real copy across filesystems (EXDEV). Returns the file
    count; raises if ``dst`` exists (clone is create, not overwrite)."""
    if os.path.exists(dst):
        raise FileExistsError(f"clone target already exists: {dst}")
    # crash safety: link into a staging sibling, publish with ONE atomic
    # rename — a clone that dies mid-walk leaves only the staging dir
    # (ignored and replaced by the next attempt), never a partial dst
    # that a retry would mistake for a finished clone
    stage = dst + ".__clone_tmp__"
    if os.path.exists(stage):
        shutil.rmtree(stage)
    n = 0
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        target_root = os.path.join(stage, rel) if rel != "." else stage
        os.makedirs(target_root, exist_ok=True)
        for f in files:
            s, d = os.path.join(root, f), os.path.join(target_root, f)
            try:
                os.link(s, d)
            except OSError:  # cross-device / FS without hardlinks
                shutil.copy2(s, d)
            n += 1
    os.rename(stage, dst)
    return n


class DynamicTable:
    """B3: dynamic / materialized tables (dbt-snowflake
    ``macros/relations/dynamic_table/create.sql`` — a declarative SELECT
    Snowflake keeps fresh to a TARGET_LAG), re-expressed Spark-first: the
    SELECT is a Structured Streaming aggregation and freshness comes from
    ``foreachBatch`` refreshes that MERGE each micro-batch's updated rows
    into a parquet target by group key.

    Two refresh modes, mirroring Snowflake's incremental vs full refresh:

    - **incremental** (production): keep ONE durable ``checkpoint`` across
      calls — the stream's state store carries the running aggregates, the
      source is consumed incrementally, and each trigger merges only the
      keys that changed. TARGET_LAG ≈ the trigger interval; a continuous
      trigger makes it a live materialized view.
    - **full** (deterministic rebuild / this repo's driver harness): pass a
      fresh checkpoint so the bounded source replays entirely and merge
      overwrites every key with recomputed values.

    Scale shape: state is one row per group key; the merge replaces
    only changed keys (anti-join + union inside
    ``operators.incremental.incremental_merge``), but each micro-batch
    merge rewrites the whole parquet target through :func:`_publish`,
    even when ``partition_by`` is set. Nothing is collected."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        partition_by: tuple[str, ...] = (),
    ):
        from ..operators.incremental import IncrementalTable

        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self._table = IncrementalTable(spark, path, partition_by)

    def refresh(
        self,
        result_stream: DataFrame,
        checkpoint: str | None = None,
        state_partitions: int | None = 8,
    ) -> None:
        """Run the streaming SELECT to its current end (AvailableNow) and
        merge every emitted update into the table. ``checkpoint=None``
        forces a FULL refresh (fresh checkpoint → full source replay).

        ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` for
        the stream's lifetime — the count is baked into the checkpoint
        at first start and each partition pays a state-store instance,
        so size it to state volume (#group keys), not the batch default
        (same rule as streaming/events.run_available_now)."""
        table = self._table
        key_cols = self.key_cols

        def _merge_batch(batch_df: DataFrame, _batch_id: int) -> None:
            table.apply(batch_df, strategy="merge", unique_key=key_cols)

        ckpt = checkpoint or f"{self.path}.ckpt-{uuid.uuid4().hex[:8]}"
        old = self.spark.conf.get("spark.sql.shuffle.partitions")
        try:
            if state_partitions is not None:
                self.spark.conf.set(
                    "spark.sql.shuffle.partitions", str(state_partitions)
                )
            q = (
                result_stream.writeStream.outputMode("update")
                .foreachBatch(_merge_batch)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", old)
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)


def zorder_value(
    df: DataFrame, cols: list[str], bits_per_dim: int = 4
) -> Column:
    """Z-order (Morton) key over two or more numeric/date columns: each
    column is quantile-bucketed into ``2^bits_per_dim`` buckets (exact
    boundaries from ``approxQuantile`` — rank-based, so skew cannot
    collapse buckets) and the bucket bits are INTERLEAVED, giving a key
    whose range-partitioning clusters rows that are close in EVERY
    dimension at once — unlike single-key range clustering
    (:func:`materialize_clustered_table`), which leaves the second
    predicate column scattered. ``bits_per_dim`` is kept small (16
    buckets) deliberately: the bucketing expression is ``2^bits - 1``
    comparisons per column, and giant flat literal expressions blow up
    Janino compilation (measured in this repo) — 4 bits per dimension is
    plenty to confine a file to ~1/16 of each dimension's range."""
    n_buckets = 1 << bits_per_dim
    bucket_cols = []
    for c in cols:
        dc = F.col(c).cast("double")
        qs = df.select(dc.alias("__q")).approxQuantile(
            "__q", [i / n_buckets for i in range(1, n_buckets)], 0.001
        )
        b = F.lit(0)
        for boundary in qs:
            b = b + (dc >= F.lit(boundary)).cast("int")
        bucket_cols.append(b)
    z = F.lit(0)
    ndims = len(bucket_cols)
    for bit in range(bits_per_dim):
        for d, b in enumerate(bucket_cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, bit).bitwiseAND(F.lit(1)),
                    bit * ndims + d,
                )
            )
    return z


def materialize_zorder_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    warehouse_dir: str,
    zorder_by: list[str],
    num_files: int = 8,
    bits_per_dim: int = 4,
) -> MaterializedRelation:
    """Multi-dimensional clustered layout: range-partition + sort on the
    Morton key from :func:`zorder_value`, so every output file owns a
    compact hyper-rectangle and parquet min/max stats prune files for
    predicates on ANY of the z-ordered columns — the layout for a 100 TB
    table queried by more than one key (e.g. time AND tenant).
    Per-dimension file-skipping is asserted from written footers in
    tests/test_formats.py."""
    final = os.path.join(warehouse_dir, name)
    zdf = df.withColumn("__z", zorder_value(df, zorder_by, bits_per_dim))
    out = _publish(
        spark,
        zdf.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z", *zorder_by)
        .drop("__z"),
        final,
    )
    out.createOrReplaceTempView(name)
    return MaterializedRelation(name, "zorder_table", final, out)


def materialize_bucketed_table(
    spark,
    name: str,
    df: DataFrame,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> MaterializedRelation:
    """Bucketed catalog table: rows are hash-bucketed (and optionally
    sorted) by ``bucket_cols`` at WRITE time, so joins and aggregations
    on those columns later run with NO shuffle — the 100 TB pattern for
    fact tables that are repeatedly joined on the same key. Requires the
    session catalog (saveAsTable); co-bucketed tables with equal bucket
    counts join exchange-free (verified in tests/test_bucketing.py)."""
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(name)
    out = spark.table(name)
    return MaterializedRelation(name, "bucketed_table", name, out)


def multi_table_insert(
    spark: SparkSession,
    df: DataFrame,
    route_col: str,
    routes: dict[str, Column],
    warehouse_dir: str,
) -> dict[str, MaterializedRelation]:
    """Snowflake ``INSERT ALL`` (conditional multi-table insert): route
    each source row into one of several target tables IN A SINGLE PASS
    over the source — the warehouse idiom for fanning a staging table
    into band/priority/status marts without re-scanning it per target.

    ``routes`` maps target table name → boolean predicate; a row lands
    in the FIRST route whose predicate is true (Snowflake's
    ``INSERT FIRST`` semantics — deliberately the order-deterministic
    variant), and rows matching nothing are dropped (add a catch-all
    ``F.lit(True)`` route for INSERT ALL-with-ELSE).

    Spark-first single-pass plan: tag rows with the winning route name,
    write ONE job partitioned by the route tag (each task splits its
    rows into per-route files as it streams — no shuffle, no second
    scan), then atomically promote each ``route=<name>`` directory to
    ``<warehouse>/<name>``. The promotion loop is metadata-only (one
    rename per target) and runs only after the full write succeeded, so
    a crash mid-write publishes nothing; a crash mid-promotion leaves
    previous table generations intact (each rename is the same
    backup-swap used by materialize_table).

    Returns name → MaterializedRelation (each also registered as a temp
    view, like materialize_table)."""
    if not routes:
        raise ValueError("multi_table_insert: no routes given")
    if route_col in df.columns:
        raise ValueError(f"route tag column {route_col!r} collides with input")
    tag = None
    for name, pred in routes.items():
        tag = F.when(pred, F.lit(name)) if tag is None else tag.when(pred, F.lit(name))
    staged = df.withColumn(route_col, tag).filter(F.col(route_col).isNotNull())
    stage_dir = os.path.join(
        warehouse_dir, f".mti-stage-{uuid.uuid4().hex[:8]}"
    )
    staged.write.mode("overwrite").partitionBy(route_col).parquet(stage_dir)
    out: dict[str, MaterializedRelation] = {}
    try:
        for name in routes:
            src = os.path.join(stage_dir, f"{route_col}={name}")
            final = os.path.join(warehouse_dir, name)
            if not os.path.isdir(src):
                os.makedirs(src, exist_ok=True)  # route matched 0 rows:
                # publish an empty (schema-less) dir; readers get 0 rows
            tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
            os.rename(src, tmp)
            _atomic_swap(final, tmp)
            rel_df = spark.read.schema(
                staged.drop(route_col).schema
            ).parquet(final)
            rel_df.createOrReplaceTempView(name)
            out[name] = MaterializedRelation(name, "table", final, rel_df)
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    return out
