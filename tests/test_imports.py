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
