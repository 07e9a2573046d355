"""Parquet sink + source over the engine's filesystem seam — object-store
parquet WITHOUT hadoop-aws on the JVM classpath.

Spark's built-in parquet writer reaches ``s3a://`` only through the
hadoop-aws connector (standard cluster setup; the jar is not shipped in
every image — the conformance suite's long-standing blocker). But the
engine already owns a cluster-wide filesystem abstraction
(``fs.register_filesystem`` + ``fs.registry_snapshot`` riding task
closures — the same seam the Avro OCF sink and the streaming source use
on executors), and pyarrow writes parquet to any registered store. So:

- **sink** (``write_parquet_fs``): each task streams its Arrow batches
  through a ``pyarrow.parquet.ParquetWriter`` straight into the store —
  one row-group per Arrow batch window, executor-parallel, nothing
  buffered on the driver. Tasks write to DOT-prefixed staged names
  (unique per attempt — a speculative or retried attempt can never
  collide with the winner); only the manifest (path, rows) returns to
  the driver, which then COMMITS: rename staged → final, write a
  ``_MANIFEST.json`` + ``_SUCCESS`` marker, and sweep leftover staged
  strays from dead attempts. Readers that respect dot-invisibility
  (this engine, Spark, Hive) never see an uncommitted file — the same
  dot-file + rename-on-commit durability contract as the JVM Avro sink.
- **source** (``read_parquet_fs``): driver lists + reads ONE footer for
  the schema; the path list then rides the closure of one
  ``fs.map_in_tasks`` job (min(files, cores) tasks, each taking every
  n-th path; no split frame, no shuffle) and each task reads its files
  via pyarrow against the registered store, yielding Arrow batches
  (column-pruned via ``columns``). File-granular splits: at 100 TB the
  writer above sizes files via upstream ``repartition``/AQE so
  file-count ≫ cores; row-group-granular splitting is the upgrade knob.

Exactly-once: commit is driver-side and atomic per file (object-store
rename = copy+delete of a single object; the MANIFEST names the full
committed set, so a reader that needs transactional visibility reads the
manifest, not the listing — ``operators/maintenance.heal_pending``
precedent).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession

from muninn_avro_to_parquet_spark import fs as _fs


def write_parquet_fs(
    df: DataFrame,
    out_dir: str,
    compression: str = "snappy",
) -> list[tuple[str, int]]:
    """Write ``df`` as one parquet file per non-empty partition under
    ``out_dir`` through the fs seam (any registered scheme: local,
    ``s3://`` via a registered pyarrow S3FileSystem, ...). Returns the
    committed (final_path, rows) manifest."""
    out = out_dir.rstrip("/")
    _fs.makedirs(out)
    fs_snapshot = _fs.registry_snapshot()
    run_id = uuid.uuid4().hex[:12]

    def gen(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from muninn_avro_to_parquet_spark import fs as _wfs

        _wfs.ensure_registry(fs_snapshot)
        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid, attempt = ctx.partitionId(), ctx.taskAttemptId()
        except Exception:  # pragma: no cover - non-task context
            pid, attempt = 0, 0
        staged = f"{out}/.part-{pid:05d}-{run_id}-a{attempt}.parquet"
        writer = None
        sink = None
        rows = 0
        buf: list = []
        buf_rows = 0

        def flush():
            nonlocal writer, sink, buf, buf_rows
            if not buf:
                return
            if writer is None:
                sink = _wfs.open_output(staged)
                writer = pq.ParquetWriter(
                    sink, buf[0].schema, compression=compression
                )
            writer.write_table(pa.Table.from_batches(buf))
            buf, buf_rows = [], 0

        for rb in batches:
            # Spark hands ~10k-row Arrow batches; accumulate to ~128k-row
            # row groups so column chunks stay scan-efficient
            buf.append(rb)
            buf_rows += rb.num_rows
            rows += rb.num_rows
            if buf_rows >= 131072:
                flush()
        flush()
        if writer is None:
            return  # empty partition: no file, no manifest row
        writer.close()
        sink.close()
        yield pa.RecordBatch.from_pylist(
            [{"pid": pid, "staged": staged, "rows": rows}],
            schema=pa.schema(
                [("pid", pa.int32()), ("staged", pa.string()), ("rows", pa.int64())]
            ),
        )

    manifest_rows = df.mapInArrow(
        gen, schema="pid int, staged string, rows long"
    ).collect()

    committed: list[tuple[str, int]] = []
    for r in sorted(manifest_rows, key=lambda r: r["pid"]):
        # run_id in the FINAL name too: repeated appends to the same
        # directory (the convert sink's batch cadence) never collide
        final = f"{out}/part-{r['pid']:05d}-{run_id}.{compression}.parquet"
        _fs.move(r["staged"], final)
        committed.append((final, r["rows"]))
    # sweep staged strays from failed/speculative attempts of THIS run —
    # winners are already renamed away, so anything left with our run_id
    # is a dead attempt's output
    for stray in _fs.list_files(out):
        name = stray.rsplit("/", 1)[-1]
        if name.startswith(".part-") and f"-{run_id}-" in name:
            _fs.delete_file(stray)
    files = [{"path": p.rsplit("/", 1)[-1], "rows": n} for p, n in committed]
    # append cadence: fold previously committed batches' entries in, so
    # the manifest always names the FULL committed set
    if _fs.exists(f"{out}/_MANIFEST.json"):
        files = json.loads(_fs.read_text(f"{out}/_MANIFEST.json"))["files"] + files
    _fs.write_text(
        f"{out}/_MANIFEST.json",
        json.dumps(
            {"files": files, "total_rows": sum(f["rows"] for f in files)},
            indent=1,
        ),
    )
    _fs.write_text(f"{out}/_SUCCESS", "")
    return committed


def read_parquet_fs(
    spark: SparkSession,
    path_or_pattern: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed parquet read through the fs seam: driver lists files
    and reads one footer for the schema; executors read their assigned
    files via pyarrow against the registered store. ``columns`` prunes
    at the parquet reader (column chunks for unselected columns are
    never fetched — the projection-pushdown contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    pat = path_or_pattern.rstrip("/")
    if any(ch in pat for ch in "*?["):
        paths = _fs.glob_files(pat)
    elif pat.endswith(".parquet"):
        paths = [pat]
    else:
        paths = [
            p
            for p in _fs.list_files(pat)
            if p.endswith(".parquet") and not p.rsplit("/", 1)[-1].startswith((".", "_"))
        ]
    if not paths:
        raise FileNotFoundError(f"no parquet files match {path_or_pattern}")
    with _fs.open_input(paths[0]) as f:
        arrow_schema = pq.read_schema(f)
    if columns is not None:
        # field(name) raises KeyError on an unknown column — the loud path
        arrow_schema = pa.schema([arrow_schema.field(c) for c in columns])
    spark_schema = from_arrow_schema(arrow_schema)

    def read(task_paths):
        for p in task_paths:
            with _fs.open_input(p) as f:
                table = pq.read_table(f, columns=columns)
            yield from table.to_batches()

    par = min(len(paths), spark.sparkContext.defaultParallelism)
    return _fs.map_in_tasks(spark, paths, par, read, spark_schema)
