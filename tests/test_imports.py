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
