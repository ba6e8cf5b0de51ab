"""Env-knob census: every SPARK_GRAFT_* variable the package reads is a
deployment setting listed here.  A new env knob doubles the configurations
tests and benchmarks must cover, so adding one means adding it here."""

import os
import re

import bingcrawler_spark

KNOWN = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_ORACLE_SF"}


def test_env_knob_census():
    root = os.path.dirname(bingcrawler_spark.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                    found |= set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read()))
    assert found == KNOWN
