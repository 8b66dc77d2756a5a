"""Incremental materialization strategies (SURVEY.md §2 B1).

Semantics ported from the reference runtime's incremental materialization
(dbt-snowflake macros/materializations/incremental.sql:42-59,186-189 and
dbt global macros/materializations/models/incremental/strategies.sql:
1,16,30): ``append``, ``merge`` (default), ``delete+insert``,
``insert_overwrite``, ``microbatch``. Without a transactional table
format, MERGE is re-expressed relationally: existing-rows ANTI JOIN on
the unique key, UNION the new batch — the same result set Snowflake's
MERGE produces for matched-update + not-matched-insert over full-row
payloads.

Scale notes (100 TB):
- ``append`` touches only the new files — no shuffle at all.
- ``merge``/``delete+insert`` on plain Parquet rewrite the whole table,
  with or without a ``partition_by`` layout: :class:`IncrementalTable`
  publishes every generation through ``plans.materialize._publish``, the
  single write-to-tmp + backup-swap publish path. Rewriting only the
  touched partitions needs a partition-level commit behind that path.
- The anti-join's batch side is typically small → AQE converts it to a
  broadcast join; no full shuffle of the existing table.
- ``microbatch`` = insert_overwrite keyed by an event-time bucket — each
  batch replaces exactly its time bucket, idempotent re-runs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.materialize import _publish


def incremental_append(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """``append``: keep everything, add the batch (strategies.sql:16)."""
    return existing.unionByName(batch)


def incremental_merge(
    existing: DataFrame,
    batch: DataFrame,
    unique_key: Sequence[str],
    dedupe_order: str | None = None,
    merge_update_columns: Sequence[str] = (),
    merge_exclude_columns: Sequence[str] = (),
) -> DataFrame:
    """``merge``: upsert by ``unique_key`` (strategies.sql:1, snowflake
    incremental.sql:42-59). Batch rows replace existing rows with the same
    key; unmatched batch rows insert. If ``dedupe_order`` is given, the
    batch is first reduced to the latest row per key (descending on that
    column) — Snowflake's MERGE would error on duplicate source keys, so
    dedupe is the caller's explicit choice, not silent behavior.

    ``merge_update_columns`` / ``merge_exclude_columns`` are dbt's merge
    config pair (get_merge_update_columns, dbt-adapters merge.sql;
    mutually exclusive, like dbt): when set, a MATCHED row keeps its
    existing values except the update columns, which take the batch's —
    the standard shape for preserving audit columns (created_at,
    first_seen) across upserts. Unmatched batch rows still insert ALL
    columns. The partial update costs one extra key join (matched rows
    rebuilt from existing+batch) but shuffles only key + update columns
    from the batch side."""
    if not unique_key:
        raise ValueError("incremental_merge requires a non-empty unique_key")
    if merge_update_columns and merge_exclude_columns:
        raise ValueError(
            "merge_update_columns and merge_exclude_columns are mutually "
            "exclusive (dbt: 'Model cannot specify merge_update_columns "
            "and merge_exclude_columns')"
        )
    if dedupe_order is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*unique_key).orderBy(F.col(dedupe_order).desc())
        batch = (
            batch.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    keys = batch.select(*unique_key).dropDuplicates()
    survivors = existing.join(keys, list(unique_key), "left_anti")
    if not merge_update_columns and not merge_exclude_columns:
        return survivors.unionByName(batch)
    non_key = [c for c in batch.columns if c not in unique_key]
    upd = (
        [c for c in merge_update_columns]
        if merge_update_columns
        else [c for c in non_key if c not in set(merge_exclude_columns)]
    )
    bad = [c for c in upd if c in unique_key or c not in batch.columns]
    if bad:
        raise ValueError(f"invalid merge update columns: {bad}")
    b = batch.select(
        *unique_key, *[F.col(c).alias(f"__b_{c}") for c in upd]
    )
    updated = existing.join(b, list(unique_key), "inner").select(
        *[
            (F.col(f"__b_{c}") if c in set(upd) else F.col(c)).alias(c)
            for c in existing.columns
        ]
    )
    inserts = batch.join(
        existing.select(*unique_key).dropDuplicates(),
        list(unique_key),
        "left_anti",
    )
    return survivors.unionByName(updated).unionByName(inserts)


def incremental_delete_insert(
    existing: DataFrame, batch: DataFrame, unique_key: Sequence[str]
) -> DataFrame:
    """``delete+insert`` (strategies.sql:30): delete ALL existing rows whose
    key appears in the batch, then insert the batch as-is (duplicate batch
    keys allowed — unlike merge)."""
    if not unique_key:
        raise ValueError("incremental_delete_insert requires a non-empty unique_key")
    keys = batch.select(*unique_key).dropDuplicates()
    survivors = existing.join(keys, list(unique_key), "left_anti")
    return survivors.unionByName(batch)


def incremental_insert_overwrite(
    existing: DataFrame, batch: DataFrame, partition_cols: Sequence[str]
) -> DataFrame:
    """``insert_overwrite``: replace whole partitions present in the batch."""
    if not partition_cols:
        # without this, the zero-column select below degenerates into an
        # obscure AnalysisException deep inside the anti-join
        raise ValueError(
            "insert_overwrite requires partition_cols (an unpartitioned "
            "overwrite would silently replace the whole table — use "
            "strategy='append' or a full rewrite explicitly)"
        )
    parts = batch.select(*partition_cols).dropDuplicates()
    survivors = existing.join(parts, list(partition_cols), "left_anti")
    return survivors.unionByName(batch)


def incremental_microbatch(
    existing: DataFrame,
    batch: DataFrame,
    event_time: str,
    bucket: str = "1 day",
) -> DataFrame:
    """``microbatch``: insert_overwrite on event-time buckets — re-running a
    batch for the same window is idempotent."""
    def bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn("__bucket", F.window(F.col(event_time), bucket)["start"])

    out = incremental_insert_overwrite(bucketed(existing), bucketed(batch), ["__bucket"])
    return out.drop("__bucket")


class IncrementalTable:
    """A parquet-backed incremental model: applies a strategy and persists.

    ``partition_by`` sets the on-disk layout, so downstream reads prune
    by partition. Every strategy except a schema-preserving ``append``
    rewrites the whole table and publishes it atomically through
    ``plans.materialize._publish`` (documented plain-Parquet limitation;
    a lakehouse format would do row-level MERGE)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: Sequence[str] = (),
    ):
        self.spark = spark
        self.path = path
        self.partition_by = tuple(partition_by)

    def exists(self) -> bool:
        import os

        return os.path.isdir(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def _reconcile_schema(
        self, existing: DataFrame, batch: DataFrame, on_schema_change: str
    ) -> tuple[DataFrame, DataFrame]:
        """dbt ``on_schema_change`` semantics (dbt-core
        incremental_strategy schema-change macros):

        - ``ignore`` (dbt default): batch is projected onto the standing
          table's columns; brand-new columns are DROPPED silently and a
          batch missing standing columns fails — the warehouse behavior.
        - ``fail``: any column-set difference raises.
        - ``append_new_columns``: new batch columns are added to the
          standing side as NULLs; columns the batch stopped producing
          remain (NULL in new rows).
        - ``sync_all_columns``: standing table follows the batch — new
          columns added, removed columns dropped.
        """
        old_cols = list(existing.columns)
        new_cols = list(batch.columns)
        added = [c for c in new_cols if c not in old_cols]
        removed = [c for c in old_cols if c not in new_cols]
        if not added and not removed:
            return existing, batch
        if on_schema_change == "fail":
            raise ValueError(
                f"schema changed: added={added} removed={removed} "
                f"(on_schema_change='fail')"
            )
        if on_schema_change == "ignore":
            missing = [c for c in old_cols if c not in new_cols]
            if missing:
                raise ValueError(
                    f"batch lacks standing columns {missing} "
                    f"(on_schema_change='ignore' drops only NEW columns)"
                )
            return existing, batch.select(*old_cols)
        if on_schema_change == "append_new_columns":
            from pyspark.sql import functions as F

            for c in added:
                existing = existing.withColumn(
                    c, F.lit(None).cast(batch.schema[c].dataType)
                )
            batch = batch.unionByName(
                existing.limit(0), allowMissingColumns=True
            ).select(*existing.columns)
            return existing, batch
        if on_schema_change == "sync_all_columns":
            from pyspark.sql import functions as F

            for c in added:
                existing = existing.withColumn(
                    c, F.lit(None).cast(batch.schema[c].dataType)
                )
            keep = [c for c in existing.columns if c not in removed]
            return existing.select(*keep), batch.select(*keep)
        raise ValueError(f"unknown on_schema_change: {on_schema_change!r}")

    def apply(
        self,
        batch: DataFrame,
        strategy: str = "merge",
        unique_key: Sequence[str] = (),
        dedupe_order: str | None = None,
        event_time: str | None = None,
        bucket: str = "1 day",
        full_refresh: bool = False,
        on_schema_change: str = "ignore",
        incremental_predicates: Sequence[str] = (),
        merge_update_columns: Sequence[str] = (),
        merge_exclude_columns: Sequence[str] = (),
    ) -> DataFrame:
        # dbt --full-refresh: discard the standing table and rebuild from
        # this batch alone, whatever the configured strategy
        # ($DBT/dbt/context/providers.py should_full_refresh semantics)
        if full_refresh or not self.exists():
            return _publish(self.spark, batch, self.path, self.partition_by)
        existing = self.read()
        standing_cols = list(existing.columns)
        existing, batch = self._reconcile_schema(existing, batch, on_schema_change)
        if strategy == "append":
            if list(existing.columns) != standing_cols:
                # _reconcile_schema changed the column set (append_new_columns
                # / sync_all_columns). A bare file append would leave parquet
                # files with divergent footers, and read() (no mergeSchema)
                # would pick the table schema from an arbitrary footer — new
                # columns could silently vanish. dbt ALTERs the target before
                # inserting (on_schema_change.sql sync_column_schemas); the
                # plain-parquet equivalent is a full rewrite carrying the
                # reconciled schema.
                return _publish(
                    self.spark,
                    existing.unionByName(batch),
                    self.path,
                    self.partition_by,
                )
            # column set unchanged → no rewrite of history: append-mode
            # write only adds files
            w = batch.write.mode("append")
            if self.partition_by:
                w = w.partitionBy(*self.partition_by)
            w.parquet(self.path)
            return self.read()
        out_of_scope = None
        if incremental_predicates and strategy in ("merge", "delete+insert"):
            # dbt ``incremental_predicates``: extra predicates scoping the
            # MERGE's target-side match (docs: "limit the data scanned to
            # improve performance"). Only the in-scope slice of the
            # standing table participates in key matching; everything
            # else is carried over UNTOUCHED — at 100 TB, predicates
            # aligned with the partition layout turn a full-table merge
            # scan into a recent-partitions scan. Faithful to dbt's
            # documented footgun too: a batch key that exists only
            # OUTSIDE the scope does NOT match and is inserted (the user
            # promises keys cannot exist outside the predicate window).
            # NULL predicate rows do not match either (SQL MERGE
            # semantics) and stay out of scope.
            import functools
            import operator as _op

            pred = functools.reduce(
                _op.and_, [F.expr(p) for p in incremental_predicates]
            )
            in_scope = existing.filter(F.coalesce(pred, F.lit(False)))
            out_of_scope = existing.filter(~F.coalesce(pred, F.lit(False)))
            merge_target = in_scope
        else:
            merge_target = existing
        if strategy == "merge":
            out = incremental_merge(
                merge_target, batch, unique_key, dedupe_order,
                merge_update_columns=merge_update_columns,
                merge_exclude_columns=merge_exclude_columns,
            )
        elif strategy == "delete+insert":
            out = incremental_delete_insert(merge_target, batch, unique_key)
        elif strategy == "insert_overwrite":
            out = incremental_insert_overwrite(existing, batch, self.partition_by)
        elif strategy == "microbatch":
            if event_time is None:
                raise ValueError("microbatch requires event_time")
            out = incremental_microbatch(existing, batch, event_time, bucket)
        else:
            raise ValueError(f"unknown incremental strategy: {strategy!r}")
        if out_of_scope is not None:
            # carry the unscanned slice over untouched
            out = out_of_scope.unionByName(out)
        return _publish(self.spark, out, self.path, self.partition_by)


def cdc_apply(
    changes: DataFrame,
    key_cols: Sequence[str],
    lsn_col: str,
    op_col: str,
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC change log (Debezium/Snowflake-Streams shape: one row
    per change with a monotone log sequence number and an operation
    code) and return the CURRENT state: the highest-LSN change per key,
    with keys whose final operation is ``delete_op`` absent.

    This is the change-data-capture sibling of :func:`incremental_merge`
    (reference scope: dbt incremental strategies.sql — MERGE collapses a
    batch into a table; cdc_apply collapses the LOG ITSELF), and the
    batch twin of a streaming upsert sink.

    Scale notes (100 TB of log): implemented as ONE hash aggregate —
    ``max(lsn)`` + ``max_by(payload_struct, lsn)`` — rather than a
    row_number window. The aggregate is map-side combinable (each task
    reduces its slice of the log to one candidate row per key before
    the shuffle), so shuffled bytes are ~|keys|, not ~|log|; a window
    would shuffle and sort the FULL log. Ties on ``lsn_col`` within a
    key are broken arbitrarily by max_by — real CDC streams have unique
    LSNs per key; pre-dedupe if yours does not.
    """
    latest = cdc_latest(changes, key_cols, lsn_col, op_col)
    return latest.filter(F.col(op_col) != delete_op).drop(op_col)


def cdc_latest(
    changes: DataFrame,
    key_cols: Sequence[str],
    lsn_col: str,
    op_col: str,
) -> DataFrame:
    """Collapse a CDC log to the latest change per key, RETAINING the
    operation column — i.e. deletes survive as tombstones. This is the
    compaction primitive: a state table that keeps tombstones merges
    correctly with ANY later batch (an out-of-order older update loses
    to the tombstone's higher LSN instead of resurrecting the key),
    which is what :func:`cdc_apply` (drop tombstones at read time) and
    the streaming ``cdc_apply_stream`` build on. Same single map-side-
    combinable max_by aggregate as cdc_apply."""
    if not key_cols:
        raise ValueError("cdc_latest requires a non-empty key_cols")
    reserved = set(key_cols) | {lsn_col, op_col}
    payload = [c for c in changes.columns if c not in reserved]
    latest = changes.groupBy(*key_cols).agg(
        F.max(F.col(lsn_col)).alias(lsn_col),
        F.max_by(F.struct(F.col(op_col), *payload), F.col(lsn_col)).alias("__last"),
    )
    return latest.select(
        *key_cols,
        lsn_col,
        F.col(f"__last.{op_col}").alias(op_col),
        *[F.col(f"__last.{c}").alias(c) for c in payload],
    )


def ivm_apply_changes(
    agg: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
    action_col: str = "metadata_action",
) -> DataFrame:
    """Incremental view maintenance for COUNT/SUM aggregates: advance a
    standing aggregate table with a CHANGES delta stream instead of
    recomputing from the base table — the algebra inside Snowflake's
    incremental dynamic-table refresh and materialized-view maintenance
    (count/sum are self-maintainable: INSERT contributes +1/+x, DELETE
    contributes -1/-x, and an update's DELETE+INSERT pair nets the
    difference; classic IVM literature, e.g. Gupta & Mumick's
    maintenance-of-materialized-views survey).

    ``agg`` holds ``group_cols + [count_col] + list(sum_cols)``;
    ``changes`` is :func:`plans.timetravel.table_changes` output (or any
    CDC feed with INSERT/DELETE actions — updates as pairs).
    ``sum_cols`` maps aggregate column → payload column; route sums
    through DECIMAL payloads for exact, order-independent maintenance
    (float sums would drift from the recomputed truth by reorder).

    Plan: ONE aggregation of the delta (map-side combinable signed
    sums) + ONE full-outer join on the group key against the standing
    aggregate — cost is O(churned groups + |agg|), never the base
    table. Groups whose maintained count reaches zero are dropped
    (their row would otherwise linger with NULL-ish sums — and a
    count-0 group is exactly one with no surviving base rows).

    The maintained result is EXACTLY the recompute (tested + oracled),
    so refresh cost scales with churn while correctness stays
    recompute-grade.
    """
    sum_cols = sum_cols or {}
    sign = F.when(F.col(action_col) == "INSERT", F.lit(1)).otherwise(F.lit(-1))
    delta = changes.groupBy(*group_cols).agg(
        F.sum(sign).alias(f"__d_{count_col}"),
        *[
            F.sum(sign * F.col(src)).alias(f"__d_{dst}")
            for dst, src in sum_cols.items()
        ],
    )
    gk = list(group_cols)
    merged = agg.join(delta, gk, "full_outer")
    out_cols = [
        (
            F.coalesce(F.col(count_col), F.lit(0))
            + F.coalesce(F.col(f"__d_{count_col}"), F.lit(0))
        ).alias(count_col)
    ]
    for dst in sum_cols:
        base = F.coalesce(F.col(dst), F.lit(0))
        d = F.coalesce(F.col(f"__d_{dst}"), F.lit(0))
        # preserve the standing aggregate's dtype (decimal sums must not
        # widen on every refresh, or the schema drifts run over run)
        dtype = dict(agg.dtypes).get(dst)
        out_cols.append((base + d).cast(dtype).alias(dst))
    result = merged.select(*gk, *out_cols)
    return result.filter(F.col(count_col) > 0)


def merge_full_sync(
    existing: DataFrame,
    source: DataFrame,
    unique_key: Sequence[str],
    soft_delete_col: str | None = None,
) -> DataFrame:
    """SQL:2023 full-synchronization MERGE — the three-clause form
    ``WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT / WHEN NOT MATCHED
    BY SOURCE DELETE`` that makes the target an exact mirror of the
    source (the shape replication and dimension-sync jobs use;
    :func:`incremental_merge` covers the upsert-only two-clause form,
    which never deletes).

    With ``soft_delete_col`` set, target-only rows are RETAINED with
    that boolean column true instead of dropped (and live rows carry
    false) — the warehouse-friendly tombstone variant.

    Declaratively this is one full-outer join on the key: source rows
    win wherever present (update+insert), target-only rows drop or
    tombstone. ONE shuffle per side on the key; at 100 TB bucket both
    sides on the key upstream and the exchange disappears
    (materialize_bucketed_table).
    """
    if not unique_key:
        raise ValueError("merge_full_sync requires a non-empty unique_key")
    cols = source.columns
    if set(existing.columns) != set(cols):
        raise ValueError(
            f"schemas must match (existing {sorted(existing.columns)} "
            f"vs source {sorted(cols)})"
        )
    # presence is judged on an explicit marker column: join-merged key
    # columns coalesce (never NULL on either side), and data columns
    # may be legitimately NULL on present rows.
    s = source.withColumn("__src", F.lit(1)).alias("s")
    e = existing.withColumn("__tgt", F.lit(1)).alias("e")
    joined = e.join(s, list(unique_key), "full_outer")
    # row-wise pick by PRESENCE, not per-column coalesce: a present
    # source row must win even where its data column is NULL (coalesce
    # would resurrect the target's stale value).
    pick = [
        F.when(F.col("s.__src").isNotNull(), F.col(f"s.{c}"))
        .otherwise(F.col(f"e.{c}"))
        .alias(c)
        for c in cols
        if c not in unique_key
    ]
    out = joined.select(
        *[F.col(c) for c in unique_key],
        *pick,
        F.col("__src").isNotNull().alias("__in_src"),
    )
    if soft_delete_col is None:
        return out.filter(F.col("__in_src")).drop("__in_src")
    return out.withColumnRenamed("__in_src", "__live").select(
        *[F.col(c) for c in unique_key],
        *[c for c in cols if c not in unique_key],
        (~F.col("__live")).alias(soft_delete_col),
    )
