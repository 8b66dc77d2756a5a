"""Table versioning: Snowflake time travel + STREAMS/CHANGES on the
filesystem warehouse.

The reference project targets Snowflake, where every table keeps a
version history: ``SELECT … FROM t AT(OFFSET => -1)`` reads the previous
generation, ``CREATE STREAM s ON TABLE t`` (or ``CHANGES(...)``) yields
the delta rows between two versions with ``METADATA$ACTION`` /
``METADATA$ISUPDATE`` columns. dbt snapshots and downstream CDC both
lean on this. This module reproduces those semantics over the parquet
warehouse:

- :class:`VersionedTable` — each publish writes a NEW generation
  directory ``<wh>/<name>/v=<k>`` and appends one line to a
  ``_versions.json`` manifest; publishing is O(1) metadata (one
  directory rename + one manifest rewrite), never a data rewrite, so it
  costs the same at 100 TB as at 100 MB. Readers of older versions scan
  that generation's parquet directly — time travel is partition-pruned
  reading, not reconstruction.
- :func:`table_changes` — the CHANGES view between two versions,
  computed as ONE full-outer hash join on the primary key comparing an
  ``xxhash64`` row fingerprint (one shuffle per side, fingerprints are
  8 bytes through the exchange — not whole rows). Snowflake computes
  this from micro-partition metadata; an engine without per-file
  row-lineage derives the identical answer from the two generations.
  Updates surface the Snowflake way: a DELETE + INSERT pair with
  ``metadata_isupdate = true``.
- ``vacuum(retain)`` — Snowflake's DATA_RETENTION_TIME_IN_DAYS analogue:
  drops generations beyond the retention window (metadata + local file
  delete; on object stores this is the lifecycle-policy hook).

At 100 TB: N generations cost N× storage only for churned tables — for
append-mostly tables, combine with the incremental materializations
(operators/incremental.py) so each generation shares unchanged files via
:func:`plans.materialize.clone_table` hardlinks if desired. The CHANGES
join shuffles each side once on the key; with both generations written
bucketed on the key (materialize.py ``buckets``) it becomes
zero-exchange (tests/test_bucketing.py proves the bucketed-join shape).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .materialize import _partitioned_writer


class VersionedTable:
    """A named table whose every publish is a retained generation.

    Layout::

        <warehouse>/<name>/_versions.json   # [{"version": 1, ...}, ...]
        <warehouse>/<name>/v=1/*.parquet
        <warehouse>/<name>/v=2/*.parquet
    """

    def __init__(self, spark: SparkSession, warehouse_dir: str, name: str):
        self.spark = spark
        self.name = name
        self.root = os.path.join(warehouse_dir, name)
        os.makedirs(self.root, exist_ok=True)

    # -- manifest ------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_versions.json")

    def versions(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            return json.load(f)

    def current_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"{self.name}: no published version")
        return vs[-1]["version"]

    # -- write ---------------------------------------------------------
    def publish(self, df: DataFrame, partition_by: tuple[str, ...] = ()) -> int:
        """CTAS a NEW generation and commit it to the manifest.

        Write goes to a tmp dir first; the generation only becomes
        visible when the manifest rewrite lands (atomic rename), so a
        mid-write crash leaves the previous version fully readable and
        publishes nothing — same two-phase shape as materialize_table.
        """
        vs = self.versions()
        next_v = (vs[-1]["version"] + 1) if vs else 1
        gen = os.path.join(self.root, f"v={next_v}")
        tmp = f"{gen}.tmp-{uuid.uuid4().hex[:8]}"
        _partitioned_writer(df, partition_by).mode("overwrite").parquet(tmp)
        if os.path.exists(gen):
            # Orphan from a publish that crashed between the data rename
            # and the manifest commit — the manifest is the source of
            # truth, so the uncommitted generation is dead and its slot
            # is reclaimed by this retry.
            shutil.rmtree(gen)
        os.rename(tmp, gen)
        vs.append({"version": next_v, "path": gen})
        mtmp = f"{self._manifest_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(mtmp, "w") as f:
            json.dump(vs, f)
        os.replace(mtmp, self._manifest_path)  # the commit point
        return next_v

    # -- read ----------------------------------------------------------
    def read(self, version: int | None = None, offset: int = 0) -> DataFrame:
        """Read a generation: ``version=`` is Snowflake
        ``AT(STATEMENT/VERSION)``, ``offset=`` is ``AT(OFFSET => -k)``
        relative to the current version (0 = current). A plain
        partition-pruned parquet scan of that generation only."""
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"{self.name}: no published version")
        if version is None:
            if not (-len(vs) < offset <= 0):
                raise ValueError(
                    f"{self.name}: offset {offset} outside retained "
                    f"history ({len(vs)} versions)"
                )
            version = vs[-1 + offset]["version"]
        by_v = {v["version"]: v for v in vs}
        if version not in by_v:
            raise FileNotFoundError(
                f"{self.name}: version {version} not retained "
                f"(have {sorted(by_v)})"
            )
        return self.spark.read.parquet(by_v[version]["path"])

    def restore(self, version: int | None = None, offset: int = 0) -> int:
        """Snowflake RESTORE / time-travel rollback: republish a
        retained PAST generation as a NEW current version. History is
        append-only — the bad versions stay readable for forensics (and
        vacuum-able later); nothing is rewritten in place, matching
        Snowflake's ``CREATE TABLE .. CLONE .. AT(...)``-then-swap
        recovery recipe and Delta's ``RESTORE TABLE ... VERSION AS OF``.

        Metadata-only at any table size: the restored generation's
        files are immutable, so the new manifest entry POINTS at the
        existing directory — no data copy, no scan. Returns the new
        current version number."""
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"{self.name}: no published version")
        # resolve exactly like read() so AT(VERSION)/AT(OFFSET) agree
        if version is None:
            if not (-len(vs) < offset <= 0):
                raise ValueError(
                    f"{self.name}: offset {offset} outside retained "
                    f"history ({len(vs)} versions)"
                )
            version = vs[-1 + offset]["version"]
        by_v = {v["version"]: v for v in vs}
        if version not in by_v:
            raise FileNotFoundError(
                f"{self.name}: version {version} not retained "
                f"(have {sorted(by_v)})"
            )
        next_v = vs[-1]["version"] + 1
        vs.append({"version": next_v, "path": by_v[version]["path"]})
        mtmp = f"{self._manifest_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(mtmp, "w") as f:
            json.dump(vs, f)
        os.replace(mtmp, self._manifest_path)
        return next_v

    # -- retention -----------------------------------------------------
    def vacuum(self, retain: int) -> list[int]:
        """Drop all but the newest ``retain`` generations (Snowflake
        retention window). Manifest commits BEFORE file deletion so a
        crash between the two never leaves a readable manifest entry
        pointing at deleted files; orphaned directories are re-swept on
        the next vacuum."""
        if retain < 1:
            raise ValueError("retain must be >= 1")
        vs = self.versions()
        keep, drop = vs[-retain:], vs[:-retain]
        if not drop:
            return []
        mtmp = f"{self._manifest_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(mtmp, "w") as f:
            json.dump(keep, f)
        os.replace(mtmp, self._manifest_path)
        kept_dirs = {os.path.basename(v["path"]) for v in keep}
        for entry in os.listdir(self.root):  # incl. prior orphans
            if entry.startswith("v=") and entry not in kept_dirs:
                shutil.rmtree(os.path.join(self.root, entry),
                              ignore_errors=True)
        return [v["version"] for v in drop]


class TableStream:
    """Snowflake ``CREATE STREAM s ON TABLE t`` over a VersionedTable.

    A stream is an OFFSET into the table's version history plus the
    CHANGES view from that offset to the current version. Snowflake
    advances the offset transactionally when a DML statement consumes
    the stream; here :meth:`read` returns the pending delta and
    :meth:`advance` commits the consumption (two-phase: the offset file
    rewrite is the commit point, so a consumer that crashes before
    advancing re-reads the SAME delta — at-least-once, which is what
    Snowflake gives a failed transaction too).

    The offset is one integer in ``_stream_<name>.json`` next to the
    table manifest — per-stream, so multiple independent consumers each
    keep their own position (as in Snowflake). Reading is the
    table_changes join between two retained generations; nothing is
    stored per-row, so a stream costs O(1) bytes regardless of table
    size, and vacuum() must retain at least the offset generation (the
    read raises if the consumer fell behind the retention window —
    Snowflake's stream staleness error).
    """

    def __init__(self, vt: VersionedTable, name: str, key: list[str] | tuple[str, ...]):
        self.vt = vt
        self.name = name
        self.key = list(key)
        self._offset_path = os.path.join(vt.root, f"_stream_{name}.json")
        if not os.path.exists(self._offset_path):
            self._write_offset(vt.current_version())

    def _write_offset(self, v: int) -> None:
        tmp = f"{self._offset_path}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump({"offset_version": v}, f)
        os.replace(tmp, self._offset_path)

    def offset_version(self) -> int:
        with open(self._offset_path) as f:
            return json.load(f)["offset_version"]

    def read(self) -> DataFrame:
        """The pending CHANGES from the stream offset to current. Empty
        (but well-typed) when the consumer is caught up."""
        base = self.offset_version()
        retained = {v["version"] for v in self.vt.versions()}
        if base not in retained:
            raise RuntimeError(
                f"stream {self.name}: offset version {base} fell out of "
                f"the retention window (have {sorted(retained)}) — the "
                f"stream is stale; recreate it"
            )
        old = self.vt.read(version=base)
        new = self.vt.read()
        return table_changes(old, new, self.key)

    def advance(self) -> int:
        """Commit consumption: move the offset to the current version
        (call AFTER the consuming write succeeds — the Snowflake analogue
        is the stream advancing with the consuming transaction)."""
        v = self.vt.current_version()
        self._write_offset(v)
        return v


def table_changes(
    old: DataFrame,
    new: DataFrame,
    key: list[str] | tuple[str, ...],
) -> DataFrame:
    """Snowflake CHANGES / STREAM between two table versions.

    Emits one row per changed KEY occurrence with the Snowflake
    metadata columns:

    - inserted key → the NEW row, ``metadata_action='INSERT'``,
      ``metadata_isupdate=false``
    - deleted key  → the OLD row, ``metadata_action='DELETE'``,
      ``metadata_isupdate=false``
    - updated key  → TWO rows (DELETE of the old image + INSERT of the
      new image), both ``metadata_isupdate=true`` — exactly how a
      Snowflake delta stream presents an update.

    Plan: tag each side with an 8-byte ``xxhash64`` fingerprint over all
    non-key columns, full-outer hash join on the key (one shuffle per
    side — AQE turns it into a broadcast when a side is small), then
    classify. Unchanged keys (fingerprints equal) are filtered BEFORE
    the union fan-out, so the output is proportional to the churn, not
    the table. Assumes ``key`` is unique per version (the stream
    contract; dq.unique is the guard).
    """
    pk = list(key)
    payload = [c for c in new.columns if c not in pk]
    if [c for c in old.columns if c not in pk] != payload:
        raise ValueError("table_changes: old/new schemas differ")

    def tagged(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            *[F.col(c).alias(f"{side}_{c}") for c in pk],
            F.struct(*payload).alias(f"{side}_row"),
            F.xxhash64(*payload).alias(f"{side}_fp"),
        )

    o, n = tagged(old, "o"), tagged(new, "n")
    cond = [o[f"o_{c}"].eqNullSafe(n[f"n_{c}"]) for c in pk]
    j = o.join(n, cond, "full_outer").filter(
        ~F.col("o_fp").eqNullSafe(F.col("n_fp"))  # drop unchanged keys
    )
    is_update = F.col("o_fp").isNotNull() & F.col("n_fp").isNotNull()

    def emit(side: str, action: str) -> DataFrame:
        rows = j.filter(F.col(f"{side}_fp").isNotNull())
        return rows.select(
            *[F.col(f"{side}_{c}").alias(c) for c in pk],
            F.col(f"{side}_row.*"),
            F.lit(action).alias("metadata_action"),
            is_update.alias("metadata_isupdate"),
        )

    return emit("o", "DELETE").unionByName(emit("n", "INSERT"))
