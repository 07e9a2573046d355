"""Distributed Avro OCF sink — the reverse of the scan path.

The reference pipeline only ever WRITES Parquet (main.py:569-577), but a
complete engine round-trips its ingest format: re-emitting curated tables
as Avro feeds the next system in a CDC chain (or re-tests the reader
against its own writer). Design:

- **Spark → Avro schema** (``avro_schema_of``): the inverse of the
  ``schema.py`` type mapper for the engine's output surface — primitives,
  decimal→bytes logical, timestamp-micros, date, arrays, maps, nested
  records; nullable fields become ``["null", T]`` unions.
- **Per-partition OCF files** via ``mapInArrow``: each task converts its
  Arrow batches to Python records (``to_pylist`` — clean datetimes /
  Decimals / bytes, no pandas dtype laundering) and writes ONE container
  file through the ``fs`` seam (file://, s3://, gs://, hdfs://). No
  shuffle: the sink inherits the upstream partitioning, exactly like
  ``df.write.parquet``.
- **Retry-idempotent naming**: file names derive from the partition id
  only (``part-{pid:05d}.avro``), so a speculative or retried task
  overwrites its own output instead of duplicating it — the same
  guarantee Spark's committer gives Parquet, without needing one here
  because OCF files are single-writer objects.
- The writer emits any registry codec (null/deflate/snappy/bzip2/xz,
  zstandard when importable); block framing comes from
  ``avro_io._encode_blocks``, so split readers see ordinary blocks.

Returns a (path, rows) manifest collected on the driver — one row per
partition, never data.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from muninn_avro_to_parquet_spark.functions import scalars

_EPOCH_DATE = _dt.date(1970, 1, 1)
_US = _dt.timedelta(microseconds=1)


def avro_schema_of(dtype: T.DataType, *, nullable: bool = False, _names=None) -> Any:
    """Spark DataType → Avro schema JSON node (dict/str/list)."""
    if _names is None:
        _names = {"n": 0}
    node: Any
    if isinstance(dtype, T.LongType):
        node = "long"
    elif isinstance(dtype, (T.IntegerType, T.ShortType, T.ByteType)):
        node = "int"
    elif isinstance(dtype, T.DoubleType):
        node = "double"
    elif isinstance(dtype, T.FloatType):
        node = "float"
    elif isinstance(dtype, T.BooleanType):
        node = "boolean"
    elif isinstance(dtype, T.StringType):
        node = "string"
    elif isinstance(dtype, T.BinaryType):
        node = "bytes"
    elif isinstance(dtype, T.TimestampType):
        node = {"type": "long", "logicalType": "timestamp-micros"}
    elif isinstance(dtype, T.DateType):
        node = {"type": "int", "logicalType": "date"}
    elif isinstance(dtype, T.DecimalType):
        node = {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": dtype.precision,
            "scale": dtype.scale,
        }
    elif isinstance(dtype, T.ArrayType):
        node = {
            "type": "array",
            "items": avro_schema_of(
                dtype.elementType, nullable=dtype.containsNull, _names=_names
            ),
        }
    elif isinstance(dtype, T.MapType):
        if not isinstance(dtype.keyType, T.StringType):
            raise TypeError("Avro maps require string keys")
        node = {
            "type": "map",
            "values": avro_schema_of(
                dtype.valueType, nullable=dtype.valueContainsNull, _names=_names
            ),
        }
    elif isinstance(dtype, T.StructType):
        _names["n"] += 1
        node = {
            "type": "record",
            "name": f"r{_names['n']}",
            "fields": [
                {
                    "name": f.name,
                    "type": avro_schema_of(f.dataType, nullable=f.nullable, _names=_names),
                }
                for f in dtype.fields
            ],
        }
    else:
        raise TypeError(f"no Avro mapping for Spark type {dtype!r}")
    return ["null", node] if nullable else node


def _value_converter(dtype: T.DataType) -> Callable[[Any], Any]:
    """Python value (from RecordBatch.to_pylist) → Avro base-type value."""
    if isinstance(dtype, T.TimestampType):

        def conv_ts(v):
            if v is None:
                return None
            if v.tzinfo is not None:
                epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            else:
                epoch = _dt.datetime(1970, 1, 1)
            return (v - epoch) // _US

        return conv_ts
    if isinstance(dtype, T.DateType):
        return lambda v: None if v is None else (v - _EPOCH_DATE).days
    if isinstance(dtype, T.DecimalType):
        scale = dtype.scale

        def conv_dec(v):
            if v is None:
                return None
            n = int(_decimal.Decimal(v).scaleb(scale, scalars.EXACT))
            return n.to_bytes((n.bit_length() + 8) // 8, "big", signed=True)

        return conv_dec
    if isinstance(dtype, T.ArrayType):
        elem = _value_converter(dtype.elementType)
        return lambda v: None if v is None else [elem(x) for x in v]
    if isinstance(dtype, T.MapType):
        val = _value_converter(dtype.valueType)

        def conv_map(v):
            if v is None:
                return None
            # Arrow MapArray.to_pylist yields [(k, v), ...]; dicts appear
            # when values came through createDataFrame fixtures
            items = v.items() if isinstance(v, dict) else v
            return {k: val(x) for k, x in items}

        return conv_map
    if isinstance(dtype, T.StructType):
        convs = [(f.name, _value_converter(f.dataType)) for f in dtype.fields]
        return lambda v: None if v is None else {n: c(v.get(n)) for n, c in convs}
    return lambda v: v


def _jvm_avro_is_ours(spark) -> bool:
    """True when ``format('avro')`` can only resolve to the in-repo
    ``muninnavro.AvroDataSource``. If our class is NOT loadable from the
    driver's context classloader the short name either fails or resolves
    to an upstream spark-avro — which would accept the save but silently
    drop ``muninn.codec`` and use a different schema mapping than
    ``avro_schema_of`` (ADVICE r9), so the JVM route must not be taken.
    If BOTH ours and an upstream are registered, Spark's source lookup
    throws a multiple-sources error at save time, which the caller's
    except already converts into the Python fallback. Probe result is
    cached per-session (one py4j round-trip otherwise)."""
    cached = spark.__dict__.get("_muninn_jvm_avro_probe")
    if cached is not None:
        return cached
    try:
        spark._jvm.java.lang.Thread.currentThread().getContextClassLoader().loadClass(
            "muninnavro.AvroDataSource"
        )
        ours = True
    except Exception:
        ours = False
    spark.__dict__["_muninn_jvm_avro_probe"] = ours
    return ours


def _write_avro_jvm(
    df: DataFrame, out_dir: str, codec: str
) -> list[tuple[str, int]] | None:
    """Route the write through the engine's JVM DataSource
    (``AvroWriteSupport``) when possible: encode happens in the JVM per
    task — no Arrow transfer, no Python record conversion — the same
    engine=auto discipline as the read path. Returns None (caller falls
    back to the Python writer) when the jar is absent, the schema has a
    type the JVM mapper rejects, or the target rides a Python-registered
    filesystem (s3:// via the fs seam) the JVM can't see.

    The job writes into a sibling staging directory and the part files
    move in only after the job commits, so a mid-job failure can never
    leave JVM partials mixed with the fallback writer's output."""
    import os
    import shutil
    import uuid

    from muninn_avro_to_parquet_spark import fs as _fs
    from muninn_avro_to_parquet_spark.sources import avro_io

    out = out_dir.rstrip("/")
    if _fs.is_uri(out) and not out.startswith("file:"):
        return None
    if not _jvm_avro_is_ours(df.sparkSession):
        return None
    local = out[len("file:"):] if out.startswith("file:") else out
    while local.startswith("//"):
        local = local[1:]
    stage = f"{local}.__jvm_stage_{uuid.uuid4().hex}"
    moved: list[str] = []
    try:
        # save() AND the staging listing/moves share the fallback: a
        # session whose default FS is not the local FS commits the stage
        # somewhere os.listdir can't see, raising FileNotFoundError here
        # (ADVICE r9) — that must mean "fall back to the Python writer",
        # not propagate. Files already moved in are rolled back first so
        # the fallback can never double-write.
        df.write.format("avro").option("muninn.codec", codec).mode(
            "append"
        ).save(stage)
        manifest: list[tuple[str, int]] = []
        os.makedirs(local, exist_ok=True)
        for name in sorted(os.listdir(stage)):
            if not name.endswith(".avro"):
                continue
            src = os.path.join(stage, name)
            rows = avro_io.count_rows(src)
            if rows == 0:
                continue  # python-path contract: empty partition, no file
            dst = os.path.join(local, name)
            os.replace(src, dst)
            moved.append(dst)
            # manifest echoes the caller's path form (file:// kept)
            manifest.append((f"{out}/{name}" if out != local else dst, rows))
        return manifest
    except Exception:
        for dst in moved:
            try:
                os.remove(dst)
            except OSError:
                pass
        return None
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        # best-effort: if the stage landed on a non-local default FS the
        # rmtree above was a no-op — ask Hadoop to delete it there too
        try:
            jvm = df.sparkSession._jvm
            jsc = df.sparkSession._jsc
            hconf = jsc.hadoopConfiguration()
            p = jvm.org.apache.hadoop.fs.Path(stage)
            p.getFileSystem(hconf).delete(p, True)
        except Exception:
            pass


def write_avro(
    df: DataFrame,
    out_dir: str,
    codec: str = "deflate",
    block_size: int = 1000,
    engine: str = "auto",
) -> list[tuple[str, int]]:
    """Write ``df`` as one Avro OCF file per partition under ``out_dir``.

    ``engine='auto'`` (default) uses the in-repo JVM DataSource writer
    when the jar is loaded, the schema maps, and the target is a local
    path — encode stays JVM-side, ~no Python in the loop — and falls back
    to the Arrow/mapInArrow Python writer otherwise (object-store targets
    through the fs seam always use it). ``'jvm'`` requires the JVM path;
    ``'python'`` forces the fallback.

    Runs the conversion and write on executors; only the (path, rows)
    manifest reaches the driver. Empty partitions write no file and
    contribute no manifest row. The output is spec-compliant OCF —
    readable by this engine's scan path, fastavro, or spark-avro."""
    from muninn_avro_to_parquet_spark import fs as _fs

    if engine not in ("auto", "jvm", "python"):
        raise ValueError(f"engine must be auto/jvm/python, got {engine!r}")
    if engine in ("auto", "jvm"):
        manifest = _write_avro_jvm(df, out_dir, codec)
        if manifest is not None:
            return manifest
        if engine == "jvm":
            raise RuntimeError(
                "engine='jvm' but the muninn-spark-avro jar is not loaded, "
                "the schema has a type the JVM mapper rejects, or the "
                "target is not a local/hadoop-visible path; use "
                "engine='auto' or 'python'"
            )

    avro_schema = avro_schema_of(df.schema)
    conv = _value_converter(df.schema)
    out = out_dir.rstrip("/")
    _fs.makedirs(out)  # once, driver-side — object stores no-op, local mkdir -p
    # driver-registered filesystems ride the closure (fs.registry_snapshot)
    # so executor-side writes hit the same endpoint the driver resolved
    fs_snapshot = _fs.registry_snapshot()

    def gen(batches):
        import pyarrow as pa

        from muninn_avro_to_parquet_spark import fs as _wfs
        from muninn_avro_to_parquet_spark.sources import avro_io

        _wfs.ensure_registry(fs_snapshot)

        try:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
        except Exception:  # pragma: no cover - non-task context
            pid = 0
        recs: list[dict] = []
        for rb in batches:
            recs.extend(conv(r) for r in rb.to_pylist())
        if recs:
            path = f"{out}/part-{pid:05d}.avro"
            avro_io.write_file(path, avro_schema, recs, codec=codec, block_size=block_size)
            yield pa.RecordBatch.from_pylist([{"path": path, "rows": len(recs)}])

    manifest = df.mapInArrow(gen, schema="path string, rows long")
    return [(r["path"], r["rows"]) for r in manifest.collect()]
