from __future__ import annotations

import os

import pytest

from apache_iceberg_demo_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


# session.get_spark sizes the local driver JVM at 48g unless told otherwise.
# On a host with less memory the JVM grows its heap past physical memory
# during the suite (its live set stays near 1.5 GB at sf0.001) and the kernel
# OOM-kills it mid-run, failing every later test. Cap the heap at half the
# host's memory unless SPARK_GRAFT_DRIVER_MEM is set.
_HOST_GB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(48, _HOST_GB // 2))}g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
