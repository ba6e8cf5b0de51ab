"""Knob censuses: every SPARK_GRAFT_* variable the package reads is a
deployment setting listed here, and every CrawlConfig field is listed too.
A new knob doubles the configurations tests and benchmarks must cover, so
adding one means adding it here."""

import dataclasses
import os
import re

import pytest

import bingcrawler_spark
from bingcrawler_spark.crawler import CrawlConfig, CrawlEngine
from bingcrawler_spark.statestore import SnapshotStore
from bingcrawler_spark.synth import synth_pages_df

KNOWN = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_ORACLE_SF"}

CRAWL_CONFIG_FIELDS = {
    "wave_size",
    "max_depth",
    "default_budget",
    "min_weight",
    "use_bloom",
    "filter_kind",
    "child_weight_expr",
    "n_partitions",
    "compact_every",
}


def test_env_knob_census():
    root = os.path.dirname(bingcrawler_spark.__file__)
    found = set()
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), encoding="utf-8") as f:
                    found |= set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", f.read()))
    assert found == KNOWN


def test_crawl_config_field_census():
    assert {f.name for f in dataclasses.fields(CrawlConfig)} == CRAWL_CONFIG_FIELDS


def test_unknown_filter_kind_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="'bloom', 'cuckoo'"):
        CrawlEngine(
            spark,
            SnapshotStore(spark, str(tmp_path)),
            synth_pages_df(spark, 10, 2),
            config=CrawlConfig(use_bloom=True, filter_kind="blom"),
        )
