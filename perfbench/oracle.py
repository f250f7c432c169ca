"""The correctness comparator: ``tools/check_oracle.compare``, imported
from the checkout unchanged (row count, column names, then
order-insensitive values with near-miss detection)."""

from __future__ import annotations

import functools
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _check_oracle():
    # check_oracle imports the engine and ``__spark_entry__`` by
    # top-level name and prepends its own path guess to sys.path; bind
    # both from this checkout first and restore sys.path afterwards
    import __spark_entry__  # noqa: F401
    import datapipeline_spike_spark.plans  # noqa: F401

    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def compare(name, spark_df, oracle_df) -> list[str]:
    return _check_oracle().compare(name, spark_df, oracle_df)
