"""Knob censuses: every SPARK_GRAFT_* variable the package reads is a
deployment setting listed here, and every CrawlConfig field is listed too.
A new knob doubles the configurations tests and benchmarks must cover, so
adding one means adding it here.  A dead-def census sits alongside, over
functions, classes and methods: code nothing calls is code every reader
still has to read."""

import ast
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
    """Every field is listed, and every field is set by keyword in at least
    one CrawlConfig(...) call outside crawler.py: a field no caller sets is
    a configuration nothing runs."""
    assert {f.name for f in dataclasses.fields(CrawlConfig)} == CRAWL_CONFIG_FIELDS
    pkg = os.path.dirname(bingcrawler_spark.__file__)
    root = os.path.dirname(pkg)
    passed = set()
    for rel in REFERRING:
        for path in _py_files(root, rel):
            if path == os.path.join(pkg, "crawler.py"):
                continue
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            passed |= {
                kw.arg
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and getattr(n.func, "id", getattr(n.func, "attr", None)) == "CrawlConfig"
                for kw in n.keywords
            }
    assert CRAWL_CONFIG_FIELDS <= passed, sorted(CRAWL_CONFIG_FIELDS - passed)


# top-level package defs that are looked up by a name built at run time,
# so no file names them (none today)
LOOKED_UP_BY_NAME: set[str] = set()

REFERRING = ["bingcrawler_spark", "tests", "tools", "perfbench", "bench.py",
             "__spark_entry__.py"]


def _py_files(root, rel):
    path = os.path.join(root, rel)
    if path.endswith(".py"):
        yield path
    for dirpath, _, files in os.walk(path):
        yield from (os.path.join(dirpath, f) for f in files if f.endswith(".py"))


def _registered(node) -> bool:
    """A catalog query: decorated with driver_queries.register(...)."""
    for dec in node.decorator_list:
        f = dec.func if isinstance(dec, ast.Call) else dec
        if getattr(f, "id", getattr(f, "attr", None)) == "register":
            return True
    return False


def _package_defs(mod, tree, package_classes):
    """(module, qualified name, name) of each top-level def and class, and
    of each non-dunder method of a class whose bases are all package
    classes.  A class with a foreign base may define callbacks its base
    calls (HTMLParser.handle_starttag); the language calls dunders."""
    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    out = set()
    for n in tree.body:
        if not isinstance(n, funcs + (ast.ClassDef,)) or _registered(n):
            continue
        out.add((mod, n.name, n.name))
        if isinstance(n, ast.ClassDef) and all(
            isinstance(b, ast.Name) and b.id in package_classes for b in n.bases
        ):
            out |= {
                (mod, f"{n.name}.{m.name}", m.name)
                for m in n.body
                if isinstance(m, funcs) and not m.name.startswith("__")
            }
    return out


def test_dead_def_census():
    """Every top-level def and class in the package, and every method of a
    class built only on package classes, is referenced somewhere: as a
    name, an attribute, an import or a string constant, in the package,
    the tests, the tools, perfbench, bench.py or the driver entry.
    Registered catalog queries are reached through QUERIES."""
    pkg = os.path.dirname(bingcrawler_spark.__file__)
    root = os.path.dirname(pkg)
    trees = {}
    for rel in REFERRING:
        for path in _py_files(root, rel):
            with open(path, encoding="utf-8") as f:
                trees[path] = ast.parse(f.read())
    package = {
        os.path.relpath(p, root): t
        for p, t in trees.items()
        if p.startswith(pkg + os.sep)
    }
    classes = {
        n.name for t in package.values() for n in t.body if isinstance(n, ast.ClassDef)
    }
    defs = set()
    for mod, tree in package.items():
        defs |= _package_defs(mod, tree, classes)
    refs = set()
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Name):
                refs.add(n.id)
            elif isinstance(n, ast.Attribute):
                refs.add(n.attr)
            elif isinstance(n, ast.alias):
                refs.add(n.name.rsplit(".", 1)[-1])
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                refs.add(n.value)
    dead = {d[:2] for d in defs if d[2] not in refs | LOOKED_UP_BY_NAME}
    assert not dead, sorted(dead)


def test_unknown_filter_kind_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="'bloom', 'cuckoo'"):
        CrawlEngine(
            spark,
            SnapshotStore(spark, str(tmp_path)),
            synth_pages_df(spark, 10, 2),
            config=CrawlConfig(use_bloom=True, filter_kind="blom"),
        )
