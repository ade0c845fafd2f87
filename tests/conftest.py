"""Shared pytest fixtures: one SparkSession per test run, small-SF data dirs."""

from __future__ import annotations

import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

# Protobuf test-environment shim (see tools/pbshim/sitecustomize.py): where
# no protobuf distribution is installed, expose the machine's vendored
# runtime so transformWithStateInPandas can run. Must happen BEFORE the
# Spark JVM launches — Python workers inherit PYTHONPATH from the JVM and
# import the shim's sitecustomize at startup; the pytest driver process
# applies the same logic in-process here.
_PBSHIM = os.path.join(_ROOT, "tools", "pbshim")
try:
    from google.protobuf import descriptor  # noqa: F401
except ImportError:
    if os.path.isdir(_PBSHIM):
        os.environ["PYTHONPATH"] = (
            _PBSHIM + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
        # load by explicit path — a sitecustomize imported at interpreter
        # startup would shadow a plain `import sitecustomize`
        import importlib.util as _ilu

        _spec = _ilu.spec_from_file_location(
            "_pbshim_sitecustomize", os.path.join(_PBSHIM, "sitecustomize.py")
        )
        _mod = _ilu.module_from_spec(_spec)
        _spec.loader.exec_module(_mod)

from big_data_medical_analysis_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={
        "spark.sql.shuffle.partitions": "8",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
