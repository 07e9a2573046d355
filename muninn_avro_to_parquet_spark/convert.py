"""Batch converter: CDC Avro directory tree → typed, partitioned Parquet.

The reference's whole pipeline body (/root/reference/main.py:481-578)
re-expressed as one declarative Spark plan per table:

    paths → distributed typed Avro decode (the JVM DSv2 scan aligned by
            one select, or the Python codec's typed Arrow batches in
            mapInArrow; big files split, small files share a task)
          → write.parquet(prefix/<table>/ingestion_date=<d>)

One read (``read_table``) turns a table of any number of writer-schema
versions into a frame; ``convert_paths_merged`` writes it and hands it
back (the stream's snapshot merges that frame), ``convert_paths`` is its
single-version entry and ``convert_df`` its no-write one. The plan list
alone selects how each version decodes: the drift merge stringifies
conflicted columns, and the all-string shape (``permissive``, and the
typed → all-string retry in ``_convert_one_table``) stringifies every
column (``schema.stringified``).

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
  difference). Small input files share a task, and so an output file:
  the JVM scan packs them as Spark's FilePartition does, the Python
  codec spreads its splits over about two tasks per core.
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from muninn_avro_to_parquet_spark import fs
from muninn_avro_to_parquet_spark import schema as S
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


def _write_table_output(df, table: str, output_prefix: str, ingestion_date: str) -> int:
    """Shared sink for the convert paths: ``df`` (no partition column)
    written as parquet straight into the one Hive partition directory
    ``<prefix>/<table>/ingestion_date=<d>``. Every row of a run shares ONE
    ingestion_date, so the writer needs no ``partitionBy``: a dynamic
    partition write would plan a Sort on the constant partition column,
    buffering each task's whole input before the first row is written.
    The JVM writer's ``_SUCCESS`` marker therefore lands in the partition
    directory. When the output scheme is owned by the engine's filesystem
    registry (e.g. ``s3://`` registered through ``fs.register_filesystem``
    on images without hadoop-aws), the executor-side pyarrow sink
    (``sources/parquet_fs``) writes the same directory through the fs
    seam. Returns rows written (Observation on the write pass for the JVM
    route; the commit manifest for the fs route — no second scan in
    either)."""
    from pyspark.sql import Observation

    out = f"{output_prefix.rstrip('/')}/{table}/ingestion_date={ingestion_date}"
    if fs.has_registered_filesystem(output_prefix):
        from muninn_avro_to_parquet_spark.sources import parquet_fs

        manifest = parquet_fs.write_parquet_fs(df, out)
        return sum(n for _, n in manifest)
    obs = Observation(f"convert_{table}")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("append").parquet(out)
    return int(obs.get["rows"])


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
      falling back to all-string;
    - a column's unified type is its ``schema.column_type``, the type
      the Python codec emits: a STRUCT_CAST record's members are
      nullable, so casting a version's read to it never narrows a
      member to NOT NULL (which Spark refuses)."""
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
        [S.stringified(p) if p.name in conflicted else p for p in plans]
        for plans in per_group
    ]
    unified = [
        (n, T.StringType() if n in conflicted else S.column_type(chosen[n]))
        for n in order
    ]
    return adjusted, unified


def read_table(
    spark: SparkSession,
    groups: list[tuple[dict, list[str]]],
    permissive: bool = False,
    engine: str | None = None,
) -> DataFrame:
    """A table's ``(writer schema, paths)`` groups — one per schema
    version — as ONE frame under the unified output schema
    (``source_metadata`` + the unified payload columns; VERDICT r1:
    first-file-schema-wins dropped drifted columns). Each group decodes
    with its own adjusted plans, stringified under ``permissive``; the
    groups align on the unified column list and meet in one unionByName,
    which is narrow, so the read stays shuffle-free. The only place a
    table becomes a frame. ``engine`` is ``read_avro``'s (default: the
    session conf)."""
    adjusted, unified = _unified_plan_groups(groups)
    if permissive:
        adjusted = [[S.stringified(p) for p in plans] for plans in adjusted]
        unified = [(name, T.StringType()) for name, _ in unified]
    parts = []
    for (schema, paths), plans in zip(groups, adjusted):
        part = avro_source.read_avro(spark, paths, schema, plans=plans, engine=engine)
        present = set(part.columns)
        cols = [F.col("source_metadata")]
        for name, dtype in unified:
            if name in present:
                cols.append(F.col(name).cast(dtype).alias(name))
            else:
                cols.append(F.lit(None).cast(dtype).alias(name))
        parts.append(part.select(*cols))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df


def convert_paths(
    spark: SparkSession,
    table: str,
    table_paths: list[str],
    output_prefix: str,
    ingestion_date: str | None = None,
    permissive: bool = False,
) -> int:
    """Convert one table's Avro files, read under the first file's
    writer schema, into ``output_prefix/<table>/ingestion_date=<d>/``;
    returns rows written. A single-group ``convert_paths_merged``."""
    rows, _ = convert_paths_merged(
        spark,
        table,
        [(avro_io.read_schema(table_paths[0]), table_paths)],
        output_prefix,
        ingestion_date=ingestion_date,
        permissive=permissive,
    )
    return rows


def convert_paths_merged(
    spark: SparkSession,
    table: str,
    groups: list[tuple[dict, list[str]]],
    output_prefix: str,
    ingestion_date: str | None = None,
    permissive: bool = False,
    engine: str | None = None,
) -> tuple[int, DataFrame]:
    """Write ``read_table(spark, groups, permissive, engine)`` under
    ``output_prefix/<table>/ingestion_date=<d>/``; returns the rows
    written and the frame written. The row count comes from an
    ``Observation`` on the same pass as the write — no second scan of
    input or output."""
    if ingestion_date is None:
        ingestion_date = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%d")
    df = read_table(spark, groups, permissive, engine)
    return _write_table_output(df, table, output_prefix, ingestion_date), df


def _convert_one_table(
    spark: SparkSession,
    table: str,
    table_paths: list[str],
    output_prefix: str,
    ingestion_date: str | None,
    permissive: bool,
) -> tuple[str, int, list[str], int, DataFrame]:
    """One table's conversion with the error-tolerant fallback (reference
    main.py:524-567): if the typed path fails, retry with every payload
    column stringified instead of failing the run. Returns
    (table, rows, degraded_paths, n_schema_versions, frame written): the
    typed frame, or the all-string retry's.

    The retry runs on the Python codec, which decodes each file under its
    own writer schema; the JVM scan reads a group under one scan schema,
    so a file that ``schema_groups`` did not sample (or a drift it cannot
    see) fails there again. A ``permissive`` read that failed under
    ``auto`` retries the same way. A forced ``jvm`` engine keeps the
    retry on the JVM, which may then raise ``JVM_UNAVAILABLE``."""
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
    engine = spark.conf.get("spark.muninn.avro.engine", "auto")

    def run(permissive: bool, engine: str | None = None) -> tuple[int, DataFrame]:
        # module global looked up per call, so a caller that rebinds
        # convert_paths_merged (tracing) sees its wrapper
        return convert_paths_merged(
            spark,
            table,
            groups,
            output_prefix,
            ingestion_date=ingestion_date,
            permissive=permissive,
            engine=engine,
        )

    try:
        rows, df = run(permissive)
        return table, rows, [], n_versions, df
    except Exception:
        if permissive and engine != "auto":
            raise
        log.warning(
            "conversion failed for table %s (%d schema versions, "
            "permissive=%s); retrying all-string",
            table,
            n_versions,
            permissive,
            exc_info=True,
        )
        retry_engine = "jvm" if engine == "jvm" else "python"
        degraded = [] if permissive else list(table_paths)
        rows, df = run(True, retry_engine)
        return table, rows, degraded, n_versions, df


def convert(
    spark: SparkSession,
    input_glob: str,
    output_prefix: str,
    ingestion_date: str | None = None,
    permissive: bool = False,
    table_parallelism: int = 4,
) -> ConvertResult:
    """Convert every Avro file matching ``input_glob`` into partitioned
    Parquet under ``output_prefix/<table>/ingestion_date=<d>/``.

    ``ingestion_date`` is injectable for deterministic tests; the default is
    the processing-time UTC date, as in the reference (main.py:496).
    ``permissive=True`` reads every table under stringified plans, the
    all-string payload shape (main.py:543-564).

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
            )
            for table, table_paths in groups.items()
        ]
        for fut in futures:
            table, rows, degraded, n_versions, _ = fut.result()
            result.tables[table] = rows
            result.fallback_files.extend(degraded)
            result.schema_versions[table] = n_versions
    return result


def convert_df(
    spark: SparkSession, input_glob: str, permissive: bool = False
) -> DataFrame:
    """Single-table variant returning the frame ``convert`` would write
    (no write) — used by tests and interactive exploration: ``read_table``
    over the files' schema groups."""
    paths = fs.glob_files(input_glob)
    if not paths:
        raise FileNotFoundError(input_glob)
    return read_table(spark, schema_groups(paths), permissive)
