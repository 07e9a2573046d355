"""Import smoke test: every module in the package imports cleanly, so a
stale import left behind by a deleted module fails here even when no
other test touches the importing module."""

from __future__ import annotations

import importlib
import pkgutil

import muninn_avro_to_parquet_spark as pkg


def test_every_module_imports():
    failed = {}
    # a subpackage whose __init__ fails to import is reported, not skipped
    walk = pkgutil.walk_packages(
        pkg.__path__, pkg.__name__ + ".", onerror=lambda n: failed.setdefault(n, "walk")
    )
    names = [m.name for m in walk]
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as e:  # report every broken module, not the first
            failed[name] = f"{type(e).__name__}: {e}"
    assert not failed, failed
    assert f"{pkg.__name__}.plans.explain" in names


def test_benchmark_hooks_resolve(spark):
    """perfbench's traced run wraps package functions by name, and its
    probes call some directly. Deleting or renaming one, or changing its
    signature, breaks only that traced run, which this suite never
    starts. So install and remove every workload's hooks on a real
    tracer, and bind each direct call the probes make."""
    import inspect

    from muninn_avro_to_parquet_spark import convert
    from muninn_avro_to_parquet_spark.sources import avro_source
    from perfbench.trace import Tracer
    from perfbench.workloads import CatalogMix, ConvertBatch, StreamCdc

    tracer = Tracer(spark)
    for cls in (ConvertBatch, StreamCdc, CatalogMix):
        workload = object.__new__(cls)
        workload.patch(tracer)
        patched = list(tracer._patched)
        assert patched, cls.__name__
        for owner, attr, original in patched:
            assert getattr(owner, attr) is not original, (cls.__name__, attr)
        tracer.unpatch()
        for owner, attr, original in patched:
            assert getattr(owner, attr) is original, (cls.__name__, attr)

    calls = [
        (convert.group_paths_by_table, (["p"],), {}),
        (convert.schema_groups, (["p"],), {}),
        (convert.convert_paths, (spark, "t", ["p"], "out"), {"ingestion_date": "d"}),
        (
            convert.convert_paths_merged,
            (spark, "t", [({}, ["p"])], "out"),
            {"ingestion_date": "d"},
        ),
        (avro_source.read_avro, (spark, ["p"], {}), {}),
        (avro_source.read_avro_jvm, (spark, ["p"], []), {}),
        (avro_source.try_native_avro, (spark, ["p"]), {"decimal_as_binary": True}),
    ]
    for fn, args, kwargs in calls:
        inspect.signature(fn).bind(*args, **kwargs)


def _offending_lines(pattern: str, extra: tuple[str, ...] = ()) -> tuple[list[str], int]:
    """``file:line`` of each line matching ``pattern`` under ``sources/``,
    ``streaming/``, in ``convert.py`` and in each of ``extra``, and how
    many files were searched."""
    import os
    import re

    root = os.path.dirname(pkg.__file__)
    files = [os.path.join(root, name) for name in ("convert.py", *extra)]
    for sub in ("sources", "streaming"):
        for dirpath, _, names in os.walk(os.path.join(root, sub)):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    call = re.compile(pattern)
    offenders = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                if call.search(line):
                    offenders.append(f"{os.path.relpath(path, root)}:{lineno}")
    return offenders, len(files)


def test_conversion_path_builds_no_frame_from_a_python_list():
    """``createDataFrame`` of a list and ``parallelize`` run a Python RDD
    stage per call (PySpark 4.1: ``sc.parallelize`` then a reserializing
    ``map``), which cost a conversion read more than its decode. The
    sources, ``convert.py`` and ``streaming/`` hand work to tasks with
    ``fs.map_in_tasks`` instead; this keeps the stage from coming back."""
    offenders, n_files = _offending_lines(r"createDataFrame\(|\.parallelize\(")
    assert n_files > 3 and not offenders, offenders


def test_conversion_path_has_no_pandas_udf():
    """The Python codec's decode emits target-typed Arrow batches, so a
    conversion crosses into Python once per batch. A ``pandas_udf`` on
    the path would add an ``ArrowEvalPython`` hop that re-serializes its
    column; none may be defined or imported under ``sources/``,
    ``streaming/``, in ``convert.py`` or in ``schema.py``."""
    offenders, n_files = _offending_lines(r"pandas_udf", extra=("schema.py",))
    assert n_files > 4 and not offenders, offenders


def test_reads_decode_through_the_typed_decoder():
    """Every Spark read of Avro decodes through the typed decoder
    (``avro_source.compile_target_decoder``) or the JVM scan.
    ``avro_io.compile_source_decoder`` builds a dict per record and
    stays behind ``avro_io.iter_records``/``read_file``; no read path
    outside ``avro_io.py`` may call it."""
    offenders, n_files = _offending_lines(r"compile_source_decoder\(")
    offenders = [o for o in offenders if not o.startswith("sources/avro_io.py:")]
    assert n_files > 3 and not offenders, offenders


def test_a_table_becomes_a_frame_in_one_place():
    """``convert.read_table`` is the only place a table becomes a frame:
    nothing under ``streaming/`` decodes Avro itself (the stream's
    snapshot merges the frame the conversion wrote), and in
    ``convert.py`` ``read_avro(`` appears only inside ``read_table``."""
    import ast
    import os

    offenders, n_files = _offending_lines(r"\bread_avro(_jvm|_generic)?\(")
    assert n_files > 3
    streaming = [o for o in offenders if o.startswith("streaming/")]
    assert not streaming, streaming

    path = os.path.join(os.path.dirname(pkg.__file__), "convert.py")
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "read_table"]
    in_convert = [int(o.split(":")[1]) for o in offenders if o.startswith("convert.py:")]
    outside = [n for n in in_convert if not fn.lineno <= n <= fn.end_lineno]
    assert in_convert and not outside, outside
