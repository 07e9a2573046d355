"""CDC snapshot materialization: turn a converted change stream into the
latest-state table its consumers actually query.

The reference's pipeline ends at partitioned Parquet of raw CDC envelopes
(`/root/reference/main.py:569-577` — append-only, one file per input); every
downstream user then needs the same two steps: pick the LATEST change per
primary key, and drop keys whose latest change is a delete. This module is
that step, expressed as one window pass.

Scale: a single hash shuffle on the key columns (the same partitioning a
MERGE INTO target table would use); no join, no second pass. For petabyte
change logs you run it incrementally per ingestion_date partition and merge
against the previous snapshot — the operator composes either way because
``latest_per_key(old_snapshot ∪ new_changes)`` is associative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame, key_cols: list[str], order_cols: list[str]
) -> DataFrame:
    """Keep the single latest row per key, ordered by ``order_cols``
    descending (NULL order values sort oldest). Deterministic: the order
    columns must form a total order within a key — append a unique
    tie-break column (event id, lsn) to guarantee it."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_latest_snapshot(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    drop_deletes: bool = True,
) -> DataFrame:
    """Materialize the current state of a converted CDC table.

    ``df`` is the output of ``sources.avro_source.read_avro`` /
    ``convert.convert``: a ``source_metadata`` envelope struct plus typed
    payload columns. Keys are payload column names; ordering defaults to
    ``(tx_id, lsn)`` from the envelope — transaction id first, log
    sequence number as the within-transaction tie-break, matching the
    envelope fields the reference carries (main.py:75-87).

    ``drop_deletes``: a key whose winning row is a delete
    (``is_deleted`` or ``change_type = 'DELETE'``) disappears from the
    snapshot; pass False to keep tombstones (for audit or incremental
    anti-join consumers).
    """
    if order_cols is None:
        order_cols = ["source_metadata.tx_id", "source_metadata.lsn"]
    latest = latest_per_key(df, key_cols, order_cols)
    if drop_deletes:
        latest = latest.filter(
            ~(
                F.coalesce(F.col("source_metadata.is_deleted"), F.lit(False))
                | (F.upper(F.coalesce(F.col("source_metadata.change_type"), F.lit(""))) == "DELETE")
            )
        )
    return latest


def scd2_history(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    attr_cols: list[str],
    tie_break_cols: list[str] | None = None,
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from a change stream: one
    row per change with a half-open validity interval.

    ``valid_from`` is the change's own ``order_col`` value; ``valid_to``
    is the NEXT change's value for the same key (NULL while current —
    ``is_current`` marks it). Consumers time-travel with
    ``valid_from <= t AND (valid_to IS NULL OR t < valid_to)`` — the
    standard warehouse SCD2 contract the reference's append-only CDC
    output (main.py:569-577) leaves every downstream team to rebuild.

    One window pass per key — the same single hash shuffle as
    ``latest_per_key``; no join, no second pass, so it scales exactly as
    far as the snapshot compaction does."""
    from pyspark.sql import Window

    order_exprs = [F.col(order_col).asc()] + [
        F.col(c).asc() for c in (tie_break_cols or [])
    ]
    w = Window.partitionBy(*key_cols).orderBy(*order_exprs)
    nxt = F.lead(F.col(order_col)).over(w)
    return df.select(
        *key_cols,
        *attr_cols,
        F.col(order_col).alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# persistent snapshot table: versioned dirs + atomic _CURRENT pointer
# ---------------------------------------------------------------------------


from dataclasses import dataclass


@dataclass(frozen=True)
class SnapshotResult:
    version: int
    rows: int
    path: str


def _current_pointer(table_dir: str) -> str:
    return table_dir.rstrip("/") + "/_CURRENT"


def current_version(table_dir: str) -> int | None:
    """Version number the ``_CURRENT`` pointer names, or None for a table
    that has never been materialized."""
    from muninn_avro_to_parquet_spark import fs

    ptr = _current_pointer(table_dir)
    if not fs.exists(ptr):
        return None
    return int(fs.read_text(ptr).strip().removeprefix("v"))


def read_snapshot(spark, table_dir: str, version: int | None = None) -> DataFrame | None:
    """The current state of a materialized table (None before the first
    ``materialize_snapshot``). Readers resolve the pointer then read an
    IMMUTABLE version directory — a concurrent materialization can swing
    the pointer but never mutates a published version.

    ``version`` reads a specific retained version instead (time travel —
    any version ``keep_versions`` hasn't pruned); raises FileNotFoundError
    for a pruned or never-written version."""
    from muninn_avro_to_parquet_spark import fs

    base = table_dir.rstrip("/")
    if version is None:
        version = current_version(base)
        if version is None:
            return None
    vdir = f"{base}/v{version}"
    if not fs.exists(f"{vdir}/_SUCCESS"):
        raise FileNotFoundError(
            f"snapshot version v{version} of {base} does not exist or was pruned"
        )
    return spark.read.parquet(vdir)


def materialize_snapshot(
    spark,
    table_dir: str,
    updates: DataFrame,
    key_cols: list[str],
    order_cols: list[str] | None = None,
    drop_deletes: bool = True,
    keep_versions: int = 2,
) -> SnapshotResult:
    """Maintain an on-disk CURRENT-STATE table from converted CDC batches
    — the downstream the conversion pipeline feeds (a queryable table,
    not a pile of change files), without requiring a table format the
    runtime doesn't ship.

    Mini-table-format design, object-store-safe by construction:

    - each materialization writes a NEW immutable directory
      ``<table>/v<N>/`` (parquet, snappy);
    - the ``_CURRENT`` pointer file is then overwritten with ``v<N>`` —
      a single-object PUT, which object stores make atomic, so readers
      see either the old or the new version, never a partial table
      (rename-based swaps are NOT atomic on object stores);
    - superseded versions older than ``keep_versions`` are pruned AFTER
      the pointer moves (a concurrent reader of the old pointer value
      has ``keep_versions - 1`` materializations of grace).

    The merge itself is the CDC compaction: previous snapshot ∪ new
    batch → ``cdc_latest_snapshot`` (latest row per key by the envelope's
    (tx_id, lsn) order, delete tombstones dropped). Rows carry their
    envelope into the snapshot, so RE-APPLYING an already-applied batch
    is a no-op (same winners) — idempotent under at-least-once delivery.
    One window shuffle per materialization; the previous snapshot reads
    pruned/columnar, never the historical change files. The row count
    comes from an ``Observation`` on the write, not a re-read."""
    from muninn_avro_to_parquet_spark import fs

    base = table_dir.rstrip("/")
    prev = read_snapshot(spark, base)
    # allowMissingColumns: CDC sources ADD payload columns over time
    # (Datastream schema evolution); rows from before the column existed
    # carry NULL, exactly like the conversion layer's drift merge
    merged = (
        updates
        if prev is None
        else prev.unionByName(updates, allowMissingColumns=True)
    )
    state = cdc_latest_snapshot(
        merged, key_cols, order_cols=order_cols, drop_deletes=drop_deletes
    )
    v_prev = current_version(base)
    v_new = 1 if v_prev is None else v_prev + 1
    out = f"{base}/v{v_new}"
    obs = Observation()
    state.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").parquet(out)
    rows = int(obs.get["rows"])
    # optimistic commit: if another materialization swung the pointer
    # while we computed, refusing is the only safe move — our merge was
    # based on a stale previous state and publishing it would silently
    # DROP the concurrent writer's changes. (True CAS needs a store with
    # conditional PUT; this check narrows the race window to the final
    # write and makes the common double-scheduler mistake loud.)
    if current_version(base) != v_prev:
        raise RuntimeError(
            f"concurrent materialization detected on {base}: the current "
            f"version moved past v{v_prev} while this merge ran — re-run "
            f"to merge against the new state (orphan left at {out})"
        )
    fs.makedirs(base)
    fs.write_text(_current_pointer(base), f"v{v_new}\n")
    for old in range(1, v_new - keep_versions + 1):
        old_dir = f"{base}/v{old}"
        if fs.exists(f"{old_dir}/_SUCCESS"):  # not yet pruned
            fs.delete_dir(old_dir)
    return SnapshotResult(version=v_new, rows=rows, path=out)


# ---------------------------------------------------------------------------
# version diff: what changed between two states of a keyed relation
# ---------------------------------------------------------------------------


def dataframe_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    change_col: str = "change_type",
) -> DataFrame:
    """Row-level diff between two versions of a keyed relation: one row
    per key that was ``added`` (new only), ``removed`` (old only), or
    ``changed`` (present in both with any compared column differing under
    null-safe equality); unchanged keys drop out. Output columns:
    ``key_cols``, ``change_col``, then ``old_<c>`` / ``new_<c>`` pairs.

    ``compare_cols`` defaults to every non-key column present in BOTH
    versions — columns only one side has (schema evolution) don't force
    every row to 'changed'; pass them explicitly to audit their rollout.

    Scale: one full-outer shuffle join on the key columns — the same
    partitioning the snapshot MERGE uses, so a diff costs what one
    materialization costs; no collect, no second pass."""
    from functools import reduce

    if compare_cols is None:
        compare_cols = [
            c for c in new.columns if c not in key_cols and c in old.columns
        ]
    o = old.select(
        *key_cols,
        F.lit(True).alias("_in_old"),
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *key_cols,
        F.lit(True).alias("_in_new"),
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    j = o.join(n, on=key_cols, how="full_outer")
    same = reduce(
        Column.__and__,
        [F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}")) for c in compare_cols],
        F.lit(True),
    )
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~same, F.lit("changed"))
    )
    return (
        j.withColumn(change_col, change)
        .filter(F.col(change_col).isNotNull())
        .select(
            *key_cols,
            change_col,
            *[x for c in compare_cols for x in (f"old_{c}", f"new_{c}")],
        )
    )


def snapshot_diff(
    spark,
    table_dir: str,
    key_cols: list[str],
    v_from: int,
    v_to: int | None = None,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Diff two retained versions of a materialized snapshot table
    (``v_to`` defaults to the current version): which keys appeared,
    disappeared, or changed payload between materializations — the audit
    query a versioned CDC table owes its consumers.

    ``compare_cols`` defaults to the payload columns (every column both
    versions share except the keys and the ``source_metadata`` envelope —
    the envelope advances on every re-delivery, which is not a payload
    change)."""
    old = read_snapshot(spark, table_dir, v_from)
    new = read_snapshot(spark, table_dir, v_to)
    if old is None or new is None:
        raise FileNotFoundError(f"snapshot table {table_dir} has no current version")
    if compare_cols is None:
        compare_cols = [
            c
            for c in new.columns
            if c not in key_cols and c != "source_metadata" and c in old.columns
        ]
    return dataframe_diff(old, new, key_cols, compare_cols)


# ---------------------------------------------------------------------------
# incremental aggregate maintenance (distributive rollups)
# ---------------------------------------------------------------------------


def rollup_partial(df: DataFrame, keys: list[str], sums: dict[str, Column]) -> DataFrame:
    """Partial-aggregate a relation for incremental maintenance: per key,
    a row count plus one exact SUM per measure. Measures must be
    distributive and order-independent (BIGINT/decimal sums — quantize
    doubles first); avg/min/max under deletes need the full CDC
    snapshot path instead."""
    return df.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        *[F.sum(c).alias(name) for name, c in sums.items()],
    )


def merge_rollup(base: DataFrame, delta: DataFrame, keys: list[str]) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: fold a
    delta batch's partials into the maintained rollup WITHOUT touching
    raw history. ``merge(base, partial(delta)) == partial(base_rows ∪
    delta_rows)`` because count and sum are associative/commutative.

    At 100 TB this is the difference between re-scanning the fact table
    every load and shuffling only aggregate-sized rows: the maintained
    rollup has one row per key (orders of magnitude smaller than the
    corpus), the delta partial is batch-sized, and the merge is a single
    hash aggregate over their union. Store the rollup partitioned by a
    key prefix (e.g. month) and only the delta's touched partitions
    rewrite. Retractions fold in the same way: emit the partial of
    deleted rows with negated count/sums."""
    cols = [c for c in base.columns if c not in keys]
    if [c for c in delta.columns if c not in keys] != cols:
        raise ValueError(f"delta columns {delta.columns} != base {base.columns}")
    return base.unionByName(delta).groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in cols]
    )


# ---------------------------------------------------------------------------
# MERGE INTO (upsert + delete) as one relational pass
# ---------------------------------------------------------------------------


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    delete_col: str | None = None,
    insert: bool = True,
) -> DataFrame:
    """``MERGE INTO target USING source ON keys`` — the lakehouse upsert
    statement (Delta/Iceberg ``WHEN MATCHED UPDATE / WHEN MATCHED [AND
    cond] DELETE / WHEN NOT MATCHED INSERT``) as a single relational pass
    returning the post-merge table:

    - matched & ``source.delete_col`` true  → row removed;
    - matched otherwise                     → target row with
      ``update_cols`` (default: every non-key target column the source
      also has) taken from the source;
    - source-only & ``insert``              → source row inserted
      (delete-flagged source rows that match nothing are ignored — a
      delete for an absent key is a no-op, exactly MERGE's contract);
    - target-only                           → target row unchanged.

    ``source`` must be unique per key (pre-fold a CDC batch with
    ``latest_per_key`` — a MERGE source with duplicate keys is a
    cardinality violation in every lakehouse engine, and here it would
    silently duplicate target rows). Enforcement is left to the caller
    because counting would cost an extra aggregate per merge.

    Scale: one full-outer hash join on the key columns — identical cost
    and partitioning to ``dataframe_diff``/snapshot MERGE. No window, no
    second shuffle; at 100 TB both sides co-partition on the key and the
    join is the only exchange. Output schema == target schema."""
    if update_cols is None:
        update_cols = [
            c for c in target.columns if c not in key_cols and c in source.columns
        ]
    missing = [c for c in update_cols if c not in source.columns]
    if missing:
        raise ValueError(f"update_cols {missing} absent from source")
    s_cols = [F.col(c).alias(f"_s_{c}") for c in update_cols]
    if delete_col is not None:
        s_cols.append(F.col(delete_col).alias("_s_del"))
    s = source.select(*key_cols, F.lit(True).alias("_s_present"), *s_cols)
    t = target.select(
        *key_cols,
        F.lit(True).alias("_t_present"),
        *[F.col(c).alias(f"_t_{c}") for c in target.columns if c not in key_cols],
    )
    j = t.join(s, on=key_cols, how="full_outer")
    matched = F.col("_t_present").isNotNull() & F.col("_s_present").isNotNull()
    is_del = (
        matched & F.coalesce(F.col("_s_del"), F.lit(False))
        if delete_col is not None
        else F.lit(False)
    )
    keep = ~is_del & (
        F.col("_t_present").isNotNull()
        | (F.lit(insert) & _not_deleted_source(delete_col))
    )
    out_cols = []
    for c in target.columns:
        if c in key_cols:
            out_cols.append(F.col(c))
        elif c in update_cols:
            out_cols.append(
                F.when(F.col("_s_present").isNotNull(), F.col(f"_s_{c}"))
                .otherwise(F.col(f"_t_{c}"))
                .alias(c)
            )
        else:
            # target-only payload column: NULL for inserted rows
            out_cols.append(F.col(f"_t_{c}").alias(c))
    return j.filter(keep).select(*out_cols)


def _not_deleted_source(delete_col: str | None):
    if delete_col is None:
        return F.lit(True)
    return ~F.coalesce(F.col("_s_del"), F.lit(False))


def vacuum_snapshots(
    table_dir: str,
    retention_seconds: float = 7 * 24 * 3600,
    keep_versions: int | None = None,
    dry_run: bool = False,
    _now: float | None = None,
) -> list[str]:
    """Garbage-collect ORPHANED snapshot version directories — the table
    hygiene pass (Delta/Iceberg ``VACUUM``) the mini-table-format needs,
    because two failure modes legitimately leave unreferenced data behind:

    - a materialization that lost the optimistic-commit race writes a
      complete ``v<N>`` (with ``_SUCCESS``) ABOVE the published pointer
      and then raises — documented as "orphan left at <out>";
    - a writer that crashed mid-``parquet()`` leaves a version directory
      WITHOUT ``_SUCCESS`` at any number.

    Neither is ever read (readers resolve ``_CURRENT`` then require
    ``_SUCCESS``) and neither is pruned by ``materialize_snapshot``'s
    keep-window loop (it only walks published versions below the
    pointer), so they accumulate storage forever at CDC cadence.

    Safety: a directory is only deleted when its NEWEST file is older
    than ``retention_seconds`` (default 7 days, Delta's default) — an
    IN-FLIGHT materialization that hasn't committed yet looks exactly
    like a crashed one, and the retention window is what keeps vacuum
    from eating it. Published versions (``_SUCCESS`` present and
    ≤ the current pointer) are never touched unless ``keep_versions`` is
    given, in which case versions the keep-window policy should have
    pruned (a crash between pointer write and prune loop strands them)
    are collected too — the current version itself is always kept.

    Returns the directories deleted (or, with ``dry_run``, the ones that
    would be). Driver-only metadata operation: O(versions) listings, no
    Spark job."""
    import re as _re
    import time as _time

    from muninn_avro_to_parquet_spark import fs

    base = table_dir.rstrip("/")
    cur = current_version(base)
    now = _time.time() if _now is None else _now

    def newest_mtime(d: str) -> float:
        newest = 0.0
        stack = [d]
        while stack:
            cur_dir = stack.pop()
            for f in fs.list_files(cur_dir):
                newest = max(newest, fs.file_mtime(f))
            stack.extend(fs.list_subdirs(cur_dir))
        return newest

    doomed: list[str] = []
    for d in fs.list_subdirs(base):
        name = d.rsplit("/", 1)[-1]
        if not _re.fullmatch(r"v\d+", name):
            continue
        v = int(name[1:])
        published = fs.exists(f"{d}/_SUCCESS") and cur is not None and v <= cur
        if published:
            stranded = (
                keep_versions is not None
                and cur is not None
                and v <= cur - keep_versions
            )
            if not stranded:
                continue
        if newest_mtime(d) > now - retention_seconds:
            continue  # possibly in flight — retention window protects it
        doomed.append(d)
    if not dry_run:
        for d in doomed:
            fs.delete_dir(d)
    return doomed
