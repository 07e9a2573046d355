"""Distributed CDC-Avro source: file paths → typed flat DataFrame.

The unit of parallelism is one byte split per task: files below
SPLIT_BYTES map to one split (the reference's one-file-per-worker model,
/root/reference/main.py:485-578), larger files fan out over Hadoop-style
sync-marker ranges (``plan_splits``) so a single 10 GB CDC dump does not
serialize on one core. Decoding streams block-by-block into bounded Arrow
batches instead of materializing the whole file as a Python list
(main.py:519 — the reference's OOM hazard). At cluster scale the split
list rides the task closure of a ``spark.range``-driven job
(``fs.map_in_tasks``; PySpark broadcasts a large closure), and each of
its min(splits, 2 per core) tasks takes every n-th split, so 100k files
fan out across all executors in one job with no shuffle.

Value semantics: per-value lenient coercion per SURVEY §1.4 happens in
one place per engine. The Python codec's fused decoder emits each value
in its target type (``_target_value`` is its definition), so its Arrow
batches already carry ``schema.flat_schema`` and nothing is cast after
the decode; the JVM scan aligns its decode in one select
(``_align_value``). The plan list (``schema.FieldPlan``) alone selects
how a read decodes: the reference's coarser file-granularity all-string fallback
(main.py:524-567) is ``read_avro`` under ``schema.stringified`` plans,
decoded by the same engines under the same engine rule. The engine's
per-value coercion strictly dominates it (one bad value nulls one cell,
not 10^6 rows × all columns to string), so typed plans are the default.
A non-CDC file (``read_avro_generic``) is one more plan list
(``schema.record_field_plans``) read through the same decoders, with
the envelope switch off: its columns are the top-level record's fields.
"""

from __future__ import annotations

import threading
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from muninn_avro_to_parquet_spark import schema as S
from muninn_avro_to_parquet_spark.functions import scalars
from muninn_avro_to_parquet_spark.sources import avro_io

BATCH_ROWS = 4096
SOURCE_FILE_COL = "_source_file"
# per-row provenance column requested from the JVM DSv2 avro source
# (option muninn.pathColumn); input_file_name() is empty for DSv2 scans
JVM_PATH_COL = "_jvm_source_file"
# SQL name of muninnavro.CdcBytesDecimal, the Java port of
# scalars.bytes_to_decimal that ships in the engine's jar
JVM_BYTES_DECIMAL_FN = "muninn_cdc_bytes_decimal"
# raised by read_avro / read_avro_generic when engine="jvm" cannot be honored
JVM_UNAVAILABLE = (
    "spark.muninn.avro.engine=jvm but the engine's Avro jar "
    "(jars/muninn-spark-avro.jar, loaded by get_spark) is not "
    "loaded in this session, or the schema is not JVM-alignable; "
    "build the session with get_spark or use engine='auto'/'python'"
)


def canon_source_path(p: str) -> str:
    """Canonical ``_source_file`` value: local-file URIs reduce to the
    plain filesystem path (percent-decoded), so the Python codec and the
    JVM scan — whose ``input_file_name()`` returns a percent-encoded
    ``file:`` URI — emit byte-identical values for the same input.
    Object-store URIs (s3://, gs://, …) pass through untouched."""
    import re as _re
    from urllib.parse import unquote

    if p.startswith("file:"):
        return unquote(_re.sub(r"^file:/+", "/", p))
    return p


def canon_source_col(col):
    """Column twin of :func:`canon_source_path` for the JVM ingest path.

    ``url_decode`` treats ``+`` as space (form encoding), so literal plus
    signs are pre-escaped to ``%2B`` before decoding."""
    decoded = F.url_decode(
        F.regexp_replace(F.regexp_replace(col, r"\+", "%2B"), "^file:/+", "/")
    )
    return F.when(col.startswith("file:"), decoded).otherwise(col)


def _target_value(value: Any, plan: S.FieldPlan) -> Any:
    """One decoded Avro value → its value in ``plan``'s target type, as
    Arrow takes it: µs since the epoch for a timestamp, days for a date,
    a ``Decimal`` for DECIMAL(38,9). A timestamp-millis value whose µs
    overflow int64 fails the Arrow build, as Spark's
    ``timestamp_millis`` fails on it."""
    source = plan.source
    if value is None:
        return None
    if source == S.RAW:
        return value
    if source == S.TS_MILLIS:
        ms = scalars.to_int(value)
        return None if ms is None else ms * 1000
    if source in (S.TS_MICROS, S.EPOCH_DAYS):
        return scalars.to_int(value)
    if source == S.BYTES_DECIMAL:
        return scalars.bytes_to_decimal(value)
    if source == S.NUMERIC_DECIMAL:
        return scalars.numeric_to_decimal(value)
    if source == S.DECLARED_DECIMAL:
        return scalars.declared_decimal(value, plan.dtype.scale)
    if source == S.STRINGIFY:
        return scalars.stringify_any(value)
    if source == S.STRUCT_CAST:
        if not isinstance(value, dict):
            return None
        return {c.name: _target_value(value.get(c.name), c) for c in plan.children}
    raise ValueError(source)


# a file larger than this is split on Avro sync-marker boundaries so its
# decode fans out across tasks instead of serializing on one core
SPLIT_BYTES = 64 * 1024 * 1024
# never split finer than this: each split pays a header read + sync seek,
# and sub-4MB ranges would be dominated by that fixed cost
MIN_SPLIT_BYTES = 4 * 1024 * 1024


def plan_splits(
    paths: list[str],
    split_bytes: int = SPLIT_BYTES,
    target_tasks: int | None = None,
) -> list[tuple[str, int, int]]:
    """(path, start, end) byte splits — one per file below the threshold,
    several Hadoop-style ranges above it. Pure driver-side arithmetic on
    file sizes (a stat per file — works on object-store URIs through the
    fs seam); executors seek to the first sync inside their range.

    ``target_tasks`` shrinks the split size (never below MIN_SPLIT_BYTES)
    when the default would yield fewer splits than the cluster has
    execution slots — a lone 1 GiB file then fans out across every core
    instead of leaving the cluster half idle. At real fleet scale the file
    count dwarfs the core count and the default stays in effect."""
    from muninn_avro_to_parquet_spark import fs

    sizes = [(p, fs.file_size(p)) for p in paths]
    if target_tasks:
        total = sum(s for _, s in sizes)
        if total > 0 and -(-total // split_bytes) < target_tasks:
            split_bytes = max(MIN_SPLIT_BYTES, -(-total // target_tasks))
    out = []
    for p, size in sizes:
        if size <= split_bytes:
            out.append((p, 0, size))
            continue
        n = -(-size // split_bytes)
        step = -(-size // n)
        for i in range(n):
            out.append((p, i * step, min((i + 1) * step, size)))
    return out


_ENVELOPE_STR_KEYS = ("schema", "table", "change_type", "lsn")


class _TargetGen(avro_io._SourceGen):
    """Codegen for the FUSED decode path: one generated function per
    (writer schema, plan list) that decodes ``n`` records from a block
    reader and appends target-typed values straight into per-column
    lists — no intermediate record dicts, no per-plan dispatch loop, and
    the source_metadata envelope coercion inlined with identity fast paths
    chosen at generation time from the writer's field types.

    Any writer schema decodes under any plan list (a drifted file read
    under another version's plans): payload fields match plans by name, a
    plan the writer lacks appends None, a writer field no plan names is
    skipped, and a field whose writer type plans differently is decoded as
    written and coerced by ``_target_value``. The output equals the
    spec composition (``_decode`` → ``coerce_source_metadata`` →
    ``_target_value`` per plan); the property tests check it."""

    @staticmethod
    def _unwrap(node):
        while isinstance(node, dict) and isinstance(node.get("type"), (dict, list)):
            node = node["type"]
        return node

    def _resolve_record(self, node):
        node = self._unwrap(node)
        if isinstance(node, str) and node in self.names:
            node = self.names[node]
        if isinstance(node, dict) and node.get("type") in ("record", "error"):
            return node
        return None

    # -- payload columns -----------------------------------------------------

    def emit_payload(self, ind: int, node, plans: list[S.FieldPlan]) -> None:
        """One ``a{i}(...)`` per plan: a record branch fills the columns
        by field name, any other branch (``null`` included) appends None."""
        node = self._unwrap(node)
        if isinstance(node, list):
            self.emit_union(ind, node, lambda i, m: self.emit_payload(i, m, plans))
            return
        rec = self._resolve_record(node)
        if rec is None:
            self.emit_skip(ind, node)
            got = {}
        else:
            got = self.emit_fields(ind, rec, plans)
        for i in range(len(plans)):
            self.w(ind, f"a{i}({got.get(i, 'None')})")

    def emit_fields(self, ind: int, rec, plans) -> dict[int, str]:
        """Target values of ``rec``'s fields matched to ``plans`` by
        name, as {plan index: variable}; unmatched fields are skipped."""
        slot = {p.name: i for i, p in enumerate(plans)}
        got: dict[int, str] = {}
        for f in rec["fields"]:
            i = slot.get(f["name"])
            if i is None:
                self.emit_skip(ind, f["type"])
                continue
            got[i] = self.tmp()
            self.emit_target_field(ind, f["type"], plans[i], got[i])
        return got

    def emit_target_field(self, ind: int, node, plan: S.FieldPlan, t: str) -> None:
        src = plan.source
        if src == S.STRINGIFY:
            tv = self.tmp()
            self.emit_decode(ind, node, tv)
            self.w(ind, f"{t} = _stringify({tv})")  # None -> None inside
            return
        if src == S.DECLARED_DECIMAL:
            # plan_node never yields this plan: decode as written and
            # rescale at the plan's declared scale
            tv = self.tmp()
            self.emit_decode(ind, node, tv)
            scale = plan.dtype.scale
            self.w(ind, f"{t} = None if {tv} is None else _declared_decimal({tv}, {scale})")
            return
        if S.plan_node(plan.name, node) != plan:
            # the writer's type plans differently (schema drift): decode
            # as written and coerce through the one definition of the rules
            tv = self.tmp()
            self.emit_decode(ind, node, tv)
            self.w(ind, f"{t} = _target_value({tv}, {self.const(plan)})")
            return
        if src in (S.RAW, S.TS_MICROS, S.EPOCH_DAYS):
            # TS/EPOCH plans only arise on long/int bases, so the decoded
            # int is already the target's µs or days (to_int in
            # _target_value is the identity there)
            self.emit_decode(ind, node, t)
            return
        if src == S.TS_MILLIS:
            tv = self.tmp()
            self.emit_decode(ind, node, tv)
            self.w(ind, f"{t} = None if {tv} is None else {tv} * 1000")
            return
        if src in (S.BYTES_DECIMAL, S.NUMERIC_DECIMAL):
            tv = self.tmp()
            self.emit_decode(ind, node, tv)
            fn = "_bytes_decimal" if src == S.BYTES_DECIMAL else "_numeric_decimal"
            self.w(ind, f"{t} = {fn}({tv})")  # None -> None inside
            return
        if src == S.STRUCT_CAST:  # plan_node only plans records this way
            got = self.emit_fields(ind, self._resolve_record(node), plan.children)
            body = ", ".join(
                f"{c.name!r}: {got.get(i, 'None')}" for i, c in enumerate(plan.children)
            )
            self.w(ind, f"{t} = {{{body}}}")
            return
        raise ValueError(f"unsupported plan source {src!r}")

    # -- source_metadata envelope ---------------------------------------------

    def emit_envelope(self, ind: int, rec, plans: list[S.FieldPlan]) -> None:
        """A CDC record: ``meta_append`` of its coerced source_metadata,
        the payload record's fields into the plan columns."""
        fields = rec.get("fields", [])
        for f in fields:
            if f["name"] == "source_metadata":
                sm = self.tmp()
                self.emit_sm(ind, f["type"], sm)
                self.w(ind, f"meta_append({sm})")
            elif f["name"] == "payload":
                self.emit_payload(ind, f["type"], plans)
            else:
                self.emit_skip(ind, f["type"])
        field_names = {f["name"] for f in fields}
        if "source_metadata" not in field_names:
            self.w(ind, "meta_append(_coerce_sm(None))")
        if "payload" not in field_names:
            for i in range(len(plans)):
                self.w(ind, f"a{i}(None)")

    def emit_sm(self, ind: int, node, t: str) -> None:
        node = self._unwrap(node)
        if isinstance(node, list):
            self.emit_union(ind, node, lambda i, m: self.emit_sm(i, m, t))
            return
        rec = self._resolve_record(node)
        if rec is None:
            tv = self.tmp()
            self.emit_decode(ind, node, tv)
            self.w(ind, f"{t} = _coerce_sm({tv})")
            return
        got: dict[str, str] = {}
        for f in rec["fields"]:
            name = f["name"]
            if name in _ENVELOPE_STR_KEYS or name in (
                "is_deleted", "tx_id", "primary_keys",
            ):
                ft = self.tmp()
                self.emit_decode(ind, f["type"], ft)
                got[name] = self._sm_coerce_expr(name, f["type"], ft)
            else:
                self.emit_skip(ind, f["type"])
        body = ", ".join(
            f"{k!r}: {got.get(k, 'None')}"
            for k in (*_ENVELOPE_STR_KEYS[:2], "is_deleted",
                      _ENVELOPE_STR_KEYS[2], "tx_id", _ENVELOPE_STR_KEYS[3],
                      "primary_keys")
        )
        self.w(ind, f"{t} = {{{body}}}")

    def _sm_coerce_expr(self, key: str, ftype, tv: str) -> str:
        """Identity when the writer type already yields the coerced shape;
        the shared scalar coercer otherwise."""
        base = self._unwrap(ftype)
        if isinstance(base, list) and len(base) == 2 and base[0] == "null":
            base = self._unwrap(base[1])
        if key in _ENVELOPE_STR_KEYS:
            return tv if base == "string" else f"(None if {tv} is None else str({tv}))"
        if key == "is_deleted":
            return tv if base == "boolean" else f"_to_bool({tv})"
        if key == "tx_id":
            return tv if base in ("long", "int") else f"_to_int({tv})"
        # primary_keys
        if (
            isinstance(base, dict)
            and base.get("type") == "array"
            and base.get("items") == "string"
        ):
            return tv
        return f"_to_list_of_str({tv})"


def compile_target_decoder(schema, plans: list[S.FieldPlan], envelope: bool = True):
    """Writer schema + plan list → generated
    ``fn(reader, n, meta_append, appends)`` appending ``n`` records'
    target-typed values column-wise (see ``_TargetGen``). With
    ``envelope`` the plans name the fields of the CDC ``payload`` record
    and each record's coerced ``source_metadata`` goes to
    ``meta_append``; without it they name the top-level record's own
    fields and ``meta_append`` is never called. Raises ValueError when
    the top level is not a record, or for an unknown type name or
    unsupported type."""
    if not (isinstance(schema, dict) and schema.get("type") in ("record", "error")):
        raise ValueError("top level is not a record")
    g = _TargetGen(avro_io.collect_names(schema))
    g.w(0, "def _tentry(r, n, meta_append, appends):")
    g.w(1, "buf = r.buf; blen = len(buf); pos = r.pos")
    if plans:
        unpack = ", ".join(f"a{i}" for i in range(len(plans)))
        g.w(1, f"{unpack}, = appends" if len(plans) == 1 else f"{unpack} = appends")
    g.w(1, "try:")
    g.w(2, "for _ in range(n):")
    if envelope:
        g.emit_envelope(3, schema, plans)
    else:
        g.emit_payload(3, schema, plans)  # a bare record's fields are the columns
    g.end_entry_try()
    g.w(1, "r.pos = pos")
    return g.build(
        "_tentry",
        _stringify=scalars.stringify_any,
        _coerce_sm=scalars.coerce_source_metadata,
        _to_bool=scalars.to_bool,
        _to_int=scalars.to_int,
        _to_list_of_str=scalars.to_list_of_str,
        _bytes_decimal=scalars.bytes_to_decimal,
        _numeric_decimal=scalars.numeric_to_decimal,
        _declared_decimal=scalars.declared_decimal,
        _target_value=_target_value,
    )


def _batches_for_splits(
    splits: list[tuple[str, int, int]],
    plans: list[S.FieldPlan],
    arrow_schema=None,
    envelope: bool = True,
):
    """Decode byte splits into bounded ``pyarrow.RecordBatch``es.

    Each split's writer schema compiles once into the fused decoder
    (``compile_target_decoder`` — no intermediate record dicts, no
    per-plan dispatch), which appends target-typed values straight into
    per-column lists; ``envelope`` is its switch, and without it no
    ``source_metadata`` column is built.
    Arrow arrays are built DIRECTLY from those lists (``pa.array`` is a
    single C++ pass), skipping the object-dtype pandas detour mapInPandas
    would re-convert anyway. Batches are capped at BATCH_ROWS rows, so one
    task never materializes its split."""
    import pyarrow as pa

    if arrow_schema is None:
        arrow_schema = _arrow_schema(plans, envelope)
    names = [p.name for p in plans]
    types = {f.name: f.type for f in arrow_schema}
    for path, start, end in splits:
        canon_path = canon_source_path(path)
        meta_buf: list[dict] = []
        cols: dict[str, list] = {n: [] for n in names}
        n_buf = 0

        def flush(n_rows: int):
            arrays = [pa.array(meta_buf, type=types["source_metadata"])] if envelope else []
            for n in names:
                arrays.append(pa.array(cols[n], type=types[n]))
            arrays.append(
                pa.array([canon_path] * n_rows, type=types[SOURCE_FILE_COL])
            )
            return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        with avro_io.SplitBlockReader(path, start, end) as sbr:
            tdec = compile_target_decoder(sbr.schema, plans, envelope)
            appends = tuple(cols[n].append for n in names)
            meta_append = meta_buf.append
            for br, count in sbr.blocks():
                while count:
                    take = min(count, BATCH_ROWS - n_buf)
                    tdec(br, take, meta_append, appends)
                    n_buf += take
                    count -= take
                    if n_buf >= BATCH_ROWS:
                        yield flush(n_buf)
                        meta_buf, n_buf = [], 0
                        cols = {n: [] for n in names}
                        appends = tuple(cols[n].append for n in names)
                        meta_append = meta_buf.append
        if n_buf:
            yield flush(n_buf)


def _out_schema(plans: list[S.FieldPlan], envelope: bool):
    """Spark schema of a read: ``schema.flat_schema`` (without its
    ``source_metadata`` column when there is no envelope) +
    _source_file. Every column is nullable, as the JVM scan declares
    them, so a read's schema does not depend on the engine."""
    from pyspark.sql import types as T

    fields = S.flat_schema(plans).fields[0 if envelope else 1:]
    return T.StructType(fields + [T.StructField(SOURCE_FILE_COL, T.StringType())])


def _arrow_schema(plans: list[S.FieldPlan], envelope: bool = True):
    """Arrow schema the decode tasks emit: ``_out_schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(_out_schema(plans, envelope))


def _distributed_decode(
    spark: SparkSession, paths: list[str], plans: list[S.FieldPlan], envelope: bool
) -> DataFrame:
    """The Python codec's typed read of ``paths`` under ``plans``
    (typed, drift-adjusted, stringified or generic alike): path list →
    sync-marker splits (big files fan out across tasks; ``target_tasks``
    shrinks the split size so even ONE large file saturates every
    execution slot) → one ``fs.map_in_tasks`` job of min(splits, 2 per
    core) tasks, each taking every n-th split (the driver decides the
    round-robin; ~2 tasks per core so stragglers rebalance) →
    block-streamed decode (Arrow batches built directly from the decoded
    columns — no pandas detour)."""
    from muninn_avro_to_parquet_spark import fs

    aschema = _arrow_schema(plans, envelope)
    target = spark.sparkContext.defaultParallelism * 2
    splits = plan_splits(paths, target_tasks=target)
    return fs.map_in_tasks(
        spark,
        splits,
        min(len(splits), target) or 1,
        lambda task_splits: _batches_for_splits(task_splits, plans, aschema, envelope),
        _out_schema(plans, envelope),
    )


def read_avro(
    spark: SparkSession,
    paths: list[str],
    avro_schema: dict | None = None,
    plans: list[S.FieldPlan] | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Paths → fully typed flat DataFrame (envelope struct + typed payload
    columns + ``_source_file``), with no shuffle anywhere on the
    conversion path.

    ``engine`` (or conf ``spark.muninn.avro.engine``): ``auto`` (default)
    uses the JVM spark-avro scan when the jar is present AND the schema is
    exactly alignable (see ``read_avro_jvm``), else the pure-Python codec;
    ``jvm`` forces the JVM path (raises when unavailable); ``python``
    forces the distributed Python codec.

    ``plans`` (default: derived from ``avro_schema``) is the only thing
    that selects how columns decode — e.g. the drift merge's adjusted
    plans, or ``schema.stringified`` plans for the all-string read. The
    engine rule above applies to every plan list alike."""
    if avro_schema is None:
        avro_schema = avro_io.read_schema(paths[0])
    if plans is None:
        plans = S.derive_field_plans(avro_schema)
    return _read(spark, paths, plans, engine, envelope=True)


def _read(
    spark: SparkSession,
    paths: list[str],
    plans: list[S.FieldPlan],
    engine: str | None,
    envelope: bool,
) -> DataFrame:
    """The engine rule of every Avro read (see ``read_avro``): the JVM
    scan when it aligns, else the Python codec. ``envelope`` says whether
    ``plans`` name the fields of a CDC ``payload`` record next to
    ``source_metadata`` (``read_avro``) or the top-level fields of a bare
    record (``read_avro_generic``)."""
    if engine is None:
        engine = spark.conf.get("spark.muninn.avro.engine", "auto")
    if engine in ("auto", "jvm"):
        jdf = read_avro_jvm(spark, paths, plans, envelope)
        if jdf is not None:
            return jdf
        if engine == "jvm":
            raise RuntimeError(JVM_UNAVAILABLE)
    return _distributed_decode(spark, paths, plans, envelope)


class _Unalignable(Exception):
    """The JVM decoder's output for this column cannot reproduce the
    engine's reference semantics exactly — use the Python codec."""


def _same_erased_type(a, b) -> bool:
    """Type equality ignoring nullability flags: the JVM scan declares
    every field, element and value nullable, while a plan's target type
    can keep a non-union record member NOT NULL (a RAW record's
    ``dtype``) — semantically identical columns that plain ``==`` would
    reject, bailing the JVM path."""
    from pyspark.sql import types as T

    if isinstance(a, T.ArrayType) and isinstance(b, T.ArrayType):
        return _same_erased_type(a.elementType, b.elementType)
    if isinstance(a, T.MapType) and isinstance(b, T.MapType):
        return _same_erased_type(a.keyType, b.keyType) and _same_erased_type(
            a.valueType, b.valueType
        )
    if isinstance(a, T.StructType) and isinstance(b, T.StructType):
        return len(a.fields) == len(b.fields) and all(
            fa.name == fb.name and _same_erased_type(fa.dataType, fb.dataType)
            for fa, fb in zip(a.fields, b.fields)
        )
    return a == b


def _align_value(spark: SparkSession, col, decoded, plan: S.FieldPlan):
    """Column expr mapping spark-avro's native decode of one payload field
    to the engine's target type — or raise ``_Unalignable``.

    Alignable: identical types, epoch-long→timestamp, epoch-int→date, the
    direct-path logicalType asymmetries (decoded date/timestamp back to
    the base int/long the reference keeps, SURVEY §1.3), bytes decimals
    scanned as raw unscaled bytes (coerced by the jar's Java UDF
    ``JVM_BYTES_DECIMAL_FN`` when it is registered in ``spark`` — an
    upstream spark-avro session without the engine jar has none), a
    generic read's declared decimal the scan decoded at exactly its
    declared type, and record recursion. NOT alignable
    (reference semantics the JVM decoder can't reproduce): multi-branch
    union collapse to sorted-key JSON with non-string leaves, and any
    CDC decimal the scan already decoded at its declared scale."""
    from pyspark.sql import types as T

    target = plan.dtype
    if plan.source == S.DECLARED_DECIMAL:
        # the scan decodes a declared decimal exactly at its declared
        # scale: the identity when the types agree
        if decoded != target:
            raise _Unalignable()
        return col
    if plan.source == S.STRUCT_CAST:
        if not isinstance(decoded, T.StructType):
            raise _Unalignable()
        by_name = {f.name: f.dataType for f in decoded.fields}
        members = []
        for c in plan.children:
            if c.name in by_name:
                members.append(
                    _align_value(spark, col[c.name], by_name[c.name], c).alias(c.name)
                )
            else:
                members.append(F.lit(None).cast(c.dtype).alias(c.name))
        return F.when(col.isNull(), F.lit(None).cast(target)).otherwise(F.struct(*members))
    if plan.source in (S.RAW, S.TS_MILLIS, S.TS_MICROS, S.EPOCH_DAYS) and (
        _same_erased_type(decoded, target)
    ):
        # nullability flags may differ (the scan's are all-nullable, a
        # RAW record's members may be NOT NULL) — values are identical
        # either way, and Spark refuses casts TOWARD non-null, so pass the
        # column through
        return col
    if plan.source == S.TS_MILLIS and isinstance(decoded, T.LongType):
        return F.timestamp_millis(col)
    if plan.source == S.TS_MICROS and isinstance(decoded, T.LongType):
        return F.timestamp_micros(col)
    if plan.source == S.EPOCH_DAYS and isinstance(decoded, T.IntegerType):
        return F.date_from_unix_date(col)
    # direct-path logicalType asymmetry (reference keeps the base type):
    # JVM decoded a date/timestamp the target says stays int/long
    if isinstance(target, T.IntegerType) and isinstance(decoded, T.DateType):
        return F.unix_date(col)
    if isinstance(target, T.LongType) and isinstance(decoded, T.TimestampType):
        return F.unix_micros(col)
    if (
        plan.source == S.BYTES_DECIMAL
        and isinstance(target, T.DecimalType)
        and isinstance(decoded, T.BinaryType)
    ):
        # the engine's DSv2 source honored muninn.decimalAsBinary: the
        # column carries the raw big-endian two's-complement unscaled
        # bytes, and the jar's Java port of scalars.bytes_to_decimal
        # (assumed scale 30, 28-digit context, quantize to 9 HALF_EVEN,
        # silent zero past 28 digits) runs inside the scan's stage — no
        # Python worker. register_jvm_functions registered it when the
        # frame came from that source; a precision-less bytes decimal
        # reaches here from upstream spark-avro too, which registers
        # nothing, so the Python codec takes the table
        if not spark.catalog.functionExists(JVM_BYTES_DECIMAL_FN):
            raise _Unalignable()
        return F.call_function(JVM_BYTES_DECIMAL_FN, col)
    if isinstance(target, T.DecimalType) and isinstance(decoded, T.DecimalType):
        # NEVER alignable (parity-matrix finding, r5): the reference
        # reinterprets a bytes decimal's unscaled int at ASSUMED scale 30
        # regardless of the writer's declared scale, then quantizes to 9
        # HALF_EVEN — upstream spark-avro honors the DECLARED scale, so a
        # (10,2) column decodes 25 → 0.25 where the reference mandates
        # 25·10⁻³⁰. The two engines agree only when declared scale == 30,
        # which then needs the HALF_EVEN quantize Spark's cast (HALF_UP)
        # can't do. (With the engine's own source this branch is dormant —
        # decimalAsBinary delivers BinaryType, handled above.)
        raise _Unalignable()
    if plan.source == S.STRINGIFY:
        if isinstance(decoded, T.StringType):
            return col  # str() of a string is the identity
        expr = _stringify_catalyst(col, decoded)
        if expr is not None:
            return expr
    raise _Unalignable()


def _stringify_catalyst(col, decoded):
    """JVM-side equivalent of ``scalars.stringify_any`` for the container
    shapes where Jackson and json.dumps agree byte-for-byte — compact
    separators, sorted map keys (UTF-8 byte order == code-point order ==
    Python's), nulls kept. Returns None when the element type has no
    exact JVM rendering (caller falls back to the Python codec).

    Safe leaves: strings (same \\", \\\\, \\uXXXX control escapes, raw
    UTF-8 beyond ASCII under ensure_ascii=False), integers, booleans.
    Floats/decimals/bytes stay unalignable — their Python reprs
    (shortest-round-trip floats, str(Decimal), utf-8-replace bytes) have
    no Catalyst equivalent."""
    from pyspark.sql import types as T

    safe_leaf = (T.StringType, T.BooleanType, T.IntegerType, T.LongType)
    if isinstance(decoded, T.ArrayType) and isinstance(
        decoded.elementType, safe_leaf
    ):
        return F.to_json(col, {"ignoreNullFields": "false"})
    if (
        isinstance(decoded, T.MapType)
        and isinstance(decoded.keyType, T.StringType)
        and isinstance(decoded.valueType, safe_leaf)
    ):
        entries = F.array_sort(F.map_entries(col))
        return F.to_json(F.map_from_entries(entries), {"ignoreNullFields": "false"})
    return None


def _align_envelope(decoded) -> F.Column:
    """source_metadata struct → the fixed envelope type, reproducing the
    reference's per-field coercions where they're loss-free (str casts,
    scalar→list lift); anything needing the tolerant bool/int parsers
    falls back to the Python codec."""
    from pyspark.sql import types as T

    if not isinstance(decoded, T.StructType):
        raise _Unalignable()
    by_name = {f.name: f.dataType for f in decoded.fields}
    col = F.col("source_metadata")

    def member(name: str, target: T.DataType):
        if name not in by_name:
            return F.lit(None).cast(target).alias(name)
        got, c = by_name[name], col[name]
        if _same_erased_type(got, target):
            return c.alias(name)
        if isinstance(target, T.StringType) and isinstance(
            got, (T.IntegerType, T.LongType, T.BooleanType, T.DoubleType)
        ):
            return c.cast("string").alias(name)  # reference str()s these
        if isinstance(target, T.LongType) and isinstance(got, T.IntegerType):
            return c.cast("long").alias(name)
        if isinstance(target, T.ArrayType) and _same_erased_type(
            got, target.elementType
        ):
            return F.array(c).alias(name)  # _to_list_of_str scalar lift
        raise _Unalignable()

    members = [
        member(f.name, f.dataType) for f in S.SOURCE_METADATA_TYPE.fields
    ]
    return F.when(
        col.isNull(), F.lit(None).cast(S.SOURCE_METADATA_TYPE)
    ).otherwise(F.struct(*members)).alias("source_metadata")


def read_avro_jvm(
    spark: SparkSession,
    paths: list[str],
    plans: list[S.FieldPlan],
    envelope: bool = True,
) -> DataFrame | None:
    """JVM spark-avro ingest: vectorized scan + one aligned select, same
    output contract as ``read_avro`` (``envelope`` as in ``_read``: with
    it the plans align ``payload.*`` and ``source_metadata`` is aligned
    too, without it they align the top-level columns). Returns None when
    the connector jar is absent or the schema needs reference semantics
    only the Python codec reproduces (union collapse to JSON with
    non-string leaves, a CDC decimal the scan decoded at its declared
    scale) — the caller falls back transparently.

    At 100 TB this is the production path: the whole decode happens in
    whole-stage codegen with no Python worker in the loop; the Python
    codec remains the semantic reference and offline fallback. The
    same holds for bytes-decimal columns (the reference's core CDC shape,
    main.py:172-191), whose assumed-scale-30 + HALF_EVEN semantics no
    Catalyst cast expresses: the scan delivers the raw unscaled bytes
    (``muninn.decimalAsBinary``) and the jar's Java UDF
    ``muninnavro.CdcBytesDecimal`` coerces them in the same stage. A
    generic read scans without that option, so a declared decimal keeps
    the scan's own exact decode at its declared scale."""
    from pyspark.sql import types as T

    df = try_native_avro(spark, paths, decimal_as_binary=envelope)
    if df is None:
        return None
    if JVM_PATH_COL in df.columns:
        register_jvm_functions(spark)
    by_name = top = {f.name: f.dataType for f in df.schema.fields}
    col_of = F.col
    if envelope:
        if not isinstance(top.get("payload"), T.StructType):
            return None
        by_name = {f.name: f.dataType for f in top["payload"].fields}
        col_of = lambda name: F.col("payload")[name]  # noqa: E731
    try:
        cols = [_align_envelope(top.get("source_metadata"))] if envelope else []
        for p in plans:
            if p.name in by_name:
                cols.append(
                    _align_value(spark, col_of(p.name), by_name[p.name], p).alias(p.name)
                )
            else:
                cols.append(F.lit(None).cast(p.dtype).alias(p.name))
    except _Unalignable:
        return None
    # normalized to match the Python codec's _source_file byte-for-byte.
    # Two provenance forms: the engine's own DSv2 source emits an explicit
    # path column (a DSv2 scan is invisible to input_file_name(), which
    # returns '' for it); upstream spark-avro is a V1 FileFormat, where
    # input_file_name() yields a percent-encoded file: URI. Both canon to
    # the plain path.
    if JVM_PATH_COL in df.columns:
        src = canon_source_col(F.col(JVM_PATH_COL))
        return df.select(*cols, src.alias(SOURCE_FILE_COL))
    return df.select(
        *cols, canon_source_col(F.input_file_name()).alias(SOURCE_FILE_COL)
    )


_REGISTER_LOCK = threading.Lock()


def register_jvm_functions(spark: SparkSession) -> None:
    """Register the engine jar's Java UDF ``muninnavro.CdcBytesDecimal``
    as ``JVM_BYTES_DECIMAL_FN`` on this session, once: registering it
    again would replace it and log a WARN per table. Call it only when
    the jar is loaded (a frame from the engine's own DSv2 source, which
    carries ``JVM_PATH_COL``); the class ships in the same jar.
    ``convert()`` reads its tables from concurrent threads, so the
    check-then-register holds a module lock."""
    with _REGISTER_LOCK:
        if not spark.catalog.functionExists(JVM_BYTES_DECIMAL_FN):
            spark.udf.registerJavaFunction(
                JVM_BYTES_DECIMAL_FN, "muninnavro.CdcBytesDecimal", S.DECIMAL_38_9
            )


def try_native_avro(
    spark: SparkSession, pattern: str, decimal_as_binary: bool = False
) -> DataFrame | None:
    """Use the spark-avro connector when its jar is on the classpath;
    callers fall back to the pure-Python distributed reader.

    The Spark runtime ships the Avro 1.12.1 core/ipc/mapred jars but not
    the ``spark-avro`` DataSource module, so the engine ships its OWN
    JVM DataSource: a Java DSv2 implementation registered under the same
    ``avro`` short name (``jvm/src/muninnavro/``, built by the
    ``jvm/BUILD.md`` recipe into ``jars/muninn-spark-avro.jar``, loaded
    via ``spark.jars`` by ``session.get_spark``). It keeps the upstream
    module's split and pruning discipline: byte-range splits aligned to
    sync markers, reader-schema projection pushdown. Without either jar
    ``format("avro")`` raises ``Failed to find data source: avro`` and
    this returns None; the Python codec (the fused typed-decode
    codegen) then decodes, and it stays the semantic reference. On a
    real deployment either jar works; ``_align_value`` maps either
    jar's decode to the same typed output.

    The ``muninn.pathColumn`` option asks the engine's DSv2 source to
    emit per-row file provenance (upstream spark-avro ignores the
    unknown option, and there ``input_file_name()`` works instead).

    ``decimal_as_binary`` (CDC path only): ask the engine's source to
    scan bytes/fixed decimal columns as raw unscaled BinaryType so the
    engine's own assumed-scale-30 coercion (the Java UDF registered by
    ``register_jvm_functions``) can run on top — upstream spark-avro
    ignores the option and still decodes DecimalType, which
    ``_align_value`` then rejects into the Python fallback, exactly the
    pre-option behavior."""
    try:
        reader = (
            spark.read.format("avro")
            .option("muninn.pathColumn", JVM_PATH_COL)
        )
        if decimal_as_binary:
            reader = reader.option("muninn.decimalAsBinary", "true")
        return reader.load(pattern)
    except Exception:
        return None


def read_avro_generic(
    spark: SparkSession,
    paths: list[str],
    avro_schema: dict | None = None,
    engine: str | None = None,
) -> DataFrame:
    """Read ANY Avro OCF files — no CDC envelope assumed.

    The CDC scan (``read_avro``) is envelope-shaped: it promotes
    ``payload.*`` and coerces ``source_metadata`` (the reference's
    contract, main.py:55-108). This entry point instead reads each
    TOP-LEVEL record field under ``schema.record_field_plans`` (the §1.3
    type mapper, except that a declared decimal keeps its declared
    type), so the engine can re-ingest its own ``avro_sink.write_avro``
    output or third-party Avro tables. Everything else is ``read_avro``'s:
    the same decoders, alignment and engine rule (``engine`` or conf
    ``spark.muninn.avro.engine``)."""
    if avro_schema is None:
        avro_schema = avro_io.read_schema(paths[0])
    if avro_schema.get("type") != "record":
        raise ValueError("read_avro_generic needs a top-level record schema")
    return _read(spark, paths, S.record_field_plans(avro_schema), engine, envelope=False)
