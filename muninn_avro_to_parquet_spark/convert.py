"""Batch converter: CDC Avro directory tree → typed, partitioned Parquet.

The reference's whole pipeline body (/root/reference/main.py:481-578)
re-expressed as one declarative Spark plan per table:

    paths → distributed Avro decode (JVM DSv2 scan, or the Python codec
            in mapInArrow; big files split, small files share a task)
          → cast layer (one select, whole-stage codegen)
          → + table / ingestion_date partition keys
          → write.partitionBy("ingestion_date").parquet(prefix/<table>)

Scale notes (100 TB):
- the conversion path is SHUFFLE-FREE: scan → project → write, so it scales
  linearly with executor count; the only coordination is the driver listing
  files and reading one Avro header per table.
- files are grouped by table folder (regex ``/avro/([^/]+)/``,
  main.py:570-571) because schemas are per-table; each group is an
  independent job — at scale, submit them concurrently.
- output partitioning is Hive-style ``ingestion_date=YYYY-MM-DD``
  (main.py:574); Spark writes one file per task rather than one per input
  file — strictly better sizing behavior than the reference (documented
  difference), with ``maxRecordsPerFile`` available to bound file size.
  Small input files share a task, and so an output file: the JVM scan
  packs them as Spark's FilePartition does, the Python codec spreads its
  splits over about two tasks per core.
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark import fs
from muninn_avro_to_parquet_spark.sources import avro_io, avro_source

TABLE_FOLDER_RE = re.compile(r"/avro/([^/]+)/")


def table_folder_of(path: str) -> str:
    """Table name from the path layout ``.../avro/<table>/...`` (parity:
    main.py:570-571); falls back to the parent directory name."""
    m = TABLE_FOLDER_RE.search(path)
    if m:
        return m.group(1)
    return os.path.basename(os.path.dirname(path)) or "unknown_table"


def group_paths_by_table(paths: list[str]) -> dict[str, list[str]]:
    groups: dict[str, list[str]] = {}
    for p in sorted(paths):
        groups.setdefault(table_folder_of(p), []).append(p)
    return groups


@dataclass
class ConvertResult:
    tables: dict[str, int] = field(default_factory=dict)  # table → row count
    fallback_files: list[str] = field(default_factory=list)
    # table → number of DISTINCT writer schemas seen across its files
    # (>1 = schema drift; the typed schema derives from the first file,
    # so drifted rows either coerce cleanly or push the table into the
    # all-string fallback — either way the operator should know)
    schema_versions: dict[str, int] = field(default_factory=dict)


# cap on per-table header reads for drift detection: beyond this many
# files, sample — a 100k-file table must not serialize 100k opens on the
# driver before the first Spark job
DRIFT_SAMPLE_CAP = 256


def schema_groups(
    table_paths: list[str], sample_cap: int = DRIFT_SAMPLE_CAP
) -> list[tuple[dict, list[str]]]:
    """Group a table's files by writer schema (header reads only — no data
    scan). Headers read concurrently; above ``sample_cap`` files an
    evenly-spaced sample is probed first, and only when the sample shows
    drift are ALL headers read (drift is the rare case — a clean 100k-file
    table must not serialize 100k opens on the driver). A drift regime
    entirely between sample points is missed, in which case the merge path
    doesn't engage and the per-value lenient coercion absorbs the rows —
    the pre-merge behavior."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    def read_all(paths: list[str]) -> list[dict]:
        with ThreadPoolExecutor(max_workers=min(32, len(paths))) as ex:
            return list(ex.map(avro_io.read_schema, paths))

    paths = list(table_paths)
    if len(paths) > sample_cap:
        step = len(paths) / sample_cap
        sampled = [paths[int(i * step)] for i in range(sample_cap)]
        logging.getLogger(__name__).info(
            "drift detection sampling %d of %d files", len(sampled), len(paths)
        )
        if len({json.dumps(s, sort_keys=True) for s in read_all(sampled)}) == 1:
            return [(avro_io.read_schema(paths[0]), paths)]
    schemas = read_all(paths)
    groups: dict[str, tuple[dict, list[str]]] = {}
    for p, s in zip(paths, schemas):
        groups.setdefault(json.dumps(s, sort_keys=True), (s, []))[1].append(p)
    return list(groups.values())


def detect_schema_drift(table_paths: list[str], sample_cap: int = DRIFT_SAMPLE_CAP) -> int:
    """Count distinct writer schemas across a table's files."""
    return len(schema_groups(table_paths, sample_cap))


def _write_table_output(
    df,
    table: str,
    output_prefix: str,
    ingestion_date: str,
    max_records_per_file: int | None,
) -> int:
    """Shared sink for the convert paths: Hive-partitioned parquet via the
    JVM writer, EXCEPT when the output scheme is owned by the engine's
    filesystem registry (e.g. ``s3://`` registered through
    ``fs.register_filesystem`` on images without hadoop-aws) — then the
    executor-side pyarrow sink (``sources/parquet_fs``) writes the same
    layout through the fs seam. Every row of a run shares ONE
    ingestion_date, so the Hive layout is a single partition directory
    either way. Returns rows written (Observation on the write pass for
    the JVM route; the commit manifest for the fs route — no second
    scan in either)."""
    from pyspark.sql import Observation

    if fs.has_registered_filesystem(output_prefix):
        from muninn_avro_to_parquet_spark.sources import parquet_fs

        out = f"{output_prefix.rstrip('/')}/{table}/ingestion_date={ingestion_date}"
        manifest = parquet_fs.write_parquet_fs(df.drop("ingestion_date"), out)
        return sum(n for _, n in manifest)
    obs = Observation(f"convert_{table}")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    writer = df.write.mode("append").partitionBy("ingestion_date")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(os.path.join(output_prefix, table))
    return int(obs.get["rows"])


def convert_paths(
    spark: SparkSession,
    table: str,
    table_paths: list[str],
    output_prefix: str,
    ingestion_date: str | None = None,
    permissive: bool = False,
    max_records_per_file: int | None = None,
    avro_schema: dict | None = None,
) -> int:
    """Convert one table's Avro files into
    ``output_prefix/<table>/ingestion_date=<d>/``; returns rows written.

    The row count comes from an ``Observation`` on the same pass as the
    write — no second scan of input or output. ``avro_schema`` lets a
    caller that already read the first file's header pass it in."""
    if ingestion_date is None:
        ingestion_date = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    if avro_schema is None:
        avro_schema = avro_io.read_schema(table_paths[0])
    if permissive:
        df = avro_source.read_avro_allstring(spark, table_paths, avro_schema)
    else:
        df = avro_source.read_avro(spark, table_paths, avro_schema)
    df = df.drop(avro_source.SOURCE_FILE_COL).withColumn(
        "ingestion_date", F.lit(ingestion_date)
    )
    return _write_table_output(
        df, table, output_prefix, ingestion_date, max_records_per_file
    )


def _unified_plan_groups(groups: list[tuple[dict, list[str]]]):
    """Per-version plan lists adjusted for cross-version conflicts, plus
    the unified output column list.

    Merge rules (schema drift is data, not an error):
    - column order = first appearance across versions;
    - a column missing from a version is emitted as NULL of the unified
      type for that version's rows;
    - a column whose type/coercion differs between versions degrades to
      STRINGIFY in EVERY version (sorted-key JSON for containers) — one
      conflicted column becomes strings, instead of the whole table
      falling back to all-string."""
    from pyspark.sql import types as T

    from muninn_avro_to_parquet_spark import schema as S

    per_group = [S.derive_field_plans(schema) for schema, _ in groups]
    order: list[str] = []
    chosen: dict[str, S.FieldPlan] = {}
    conflicted: set[str] = set()
    for plans in per_group:
        for p in plans:
            if p.name not in chosen:
                chosen[p.name] = p
                order.append(p.name)
            elif p.dtype != chosen[p.name].dtype or p.source != chosen[p.name].source:
                conflicted.add(p.name)
    adjusted = [
        [
            S.FieldPlan(p.name, T.StringType(), True, S.STRINGIFY)
            if p.name in conflicted
            else p
            for p in plans
        ]
        for plans in per_group
    ]
    unified = [
        (n, T.StringType() if n in conflicted else chosen[n].dtype) for n in order
    ]
    return adjusted, unified


def convert_paths_merged(
    spark: SparkSession,
    table: str,
    groups: list[tuple[dict, list[str]]],
    output_prefix: str,
    ingestion_date: str | None = None,
    permissive: bool = False,
    max_records_per_file: int | None = None,
) -> int:
    """Convert a table whose files carry >1 writer schema into ONE unified
    output schema (VERDICT r1: first-file-schema-wins dropped drifted
    columns). Each version group decodes with its own adjusted plans, the
    groups align on the unified column list, and a single unionByName plan
    writes once — the union is narrow, so the conversion stays
    shuffle-free."""
    from pyspark.sql import types as T

    if ingestion_date is None:
        ingestion_date = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    adjusted, unified = _unified_plan_groups(groups)
    parts = []
    for (schema, paths), plans in zip(groups, adjusted):
        if permissive:
            part = avro_source.read_avro_allstring(spark, paths, schema)
        else:
            part = avro_source.read_avro(spark, paths, schema, plans=plans)
        present = set(part.columns)
        cols = [F.col("source_metadata")]
        for name, dtype in unified:
            out_type = T.StringType() if permissive else dtype
            if name in present:
                cols.append(F.col(name).cast(out_type).alias(name))
            else:
                cols.append(F.lit(None).cast(out_type).alias(name))
        parts.append(part.select(*cols))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df = df.withColumn("ingestion_date", F.lit(ingestion_date))
    return _write_table_output(
        df, table, output_prefix, ingestion_date, max_records_per_file
    )


def _convert_one_table(
    spark: SparkSession,
    table: str,
    table_paths: list[str],
    output_prefix: str,
    ingestion_date: str | None,
    permissive: bool,
    max_records_per_file: int | None,
) -> tuple[str, int, list[str], int]:
    """One table's conversion with the error-tolerant fallback (reference
    main.py:524-567): if the typed path fails, retry with every payload
    column stringified instead of failing the run. Returns
    (table, rows, degraded_paths, n_schema_versions)."""
    groups = schema_groups(table_paths)
    n_versions = len(groups)
    log = logging.getLogger(__name__)
    if n_versions > 1:
        log.warning(
            "schema drift: table %s carries %d distinct writer schemas "
            "across %d files; converting to the merged union schema",
            table,
            n_versions,
            len(table_paths),
        )

    def run(permissive: bool) -> int:
        # module globals looked up per call, so a caller that rebinds
        # convert_paths / convert_paths_merged (tracing) sees its wrapper
        kw = dict(
            ingestion_date=ingestion_date,
            permissive=permissive,
            max_records_per_file=max_records_per_file,
        )
        if n_versions > 1:
            return convert_paths_merged(spark, table, groups, output_prefix, **kw)
        return convert_paths(
            spark, table, table_paths, output_prefix, avro_schema=groups[0][0], **kw
        )

    try:
        return table, run(permissive), [], n_versions
    except Exception:
        if permissive:
            raise
        log.warning(
            "typed conversion failed for table %s (%d schema versions); "
            "retrying all-string",
            table,
            n_versions,
            exc_info=True,
        )
        return table, run(True), list(table_paths), n_versions


def convert(
    spark: SparkSession,
    input_glob: str,
    output_prefix: str,
    ingestion_date: str | None = None,
    permissive: bool = False,
    max_records_per_file: int | None = None,
    table_parallelism: int = 4,
) -> ConvertResult:
    """Convert every Avro file matching ``input_glob`` into partitioned
    Parquet under ``output_prefix/<table>/ingestion_date=<d>/``.

    ``ingestion_date`` is injectable for deterministic tests; the default is
    the processing-time UTC date, as in the reference (main.py:496).
    ``permissive=True`` selects the all-string payload shape
    (main.py:543-564).

    Tables are independent jobs, so up to ``table_parallelism`` convert
    concurrently (Spark's scheduler interleaves jobs submitted from
    threads) — a CDC stream of many small tables would otherwise leave
    the cluster idle between per-table jobs.
    """
    from concurrent.futures import ThreadPoolExecutor

    # fs.glob_files: local globs keep stdlib semantics; object-store URIs
    # (file://, s3://, gs://, …) list through pyarrow.fs — the reference's
    # GCS-glob contract (main.py:604-608)
    paths = fs.glob_files(input_glob)
    groups = group_paths_by_table(paths)
    result = ConvertResult()
    if not groups:
        return result
    with ThreadPoolExecutor(max_workers=max(1, min(table_parallelism, len(groups)))) as ex:
        futures = [
            ex.submit(
                _convert_one_table,
                spark,
                table,
                table_paths,
                output_prefix,
                ingestion_date,
                permissive,
                max_records_per_file,
            )
            for table, table_paths in groups.items()
        ]
        for fut in futures:
            table, rows, degraded, n_versions = fut.result()
            result.tables[table] = rows
            result.fallback_files.extend(degraded)
            result.schema_versions[table] = n_versions
    return result


def convert_df(
    spark: SparkSession, input_glob: str, permissive: bool = False
) -> DataFrame:
    """Single-table variant returning the typed DataFrame (no write) —
    used by tests and interactive exploration."""
    paths = fs.glob_files(input_glob)
    if not paths:
        raise FileNotFoundError(input_glob)
    if permissive:
        return avro_source.read_avro_allstring(spark, paths)
    return avro_source.read_avro(spark, paths)
