"""Contracts outside any one query: the `__spark_entry__` catalog order, the
bare-run parallelism default, the documented knob inventory, and the one
copy-on-write commit."""

from __future__ import annotations

import os
import re

from .conftest import REPO_ROOT

PKG = os.path.join(REPO_ROOT, "aws_glue_pyspark_incrementality_and_parallelism_spark")


def test_entry_queries_follow_registration_order():
    import __spark_entry__ as e
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans.catalog import REGISTRY

    assert list(e.queries()) == list(REGISTRY)
    assert set(e.oracle_sql()) == {n for n, s in REGISTRY.items() if s.oracle is not None}


def test_default_parallelism_falls_back_to_usable_cores(monkeypatch):
    from aws_glue_pyspark_incrementality_and_parallelism_spark import session

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_parallelism() == 3


def test_every_package_knob_is_in_the_readme_table():
    with open(os.path.join(REPO_ROOT, "README.md")) as f:
        documented = set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z_]+)` \|", f.read(), re.M))
    read = set()
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(root, name)) as f:
                    read |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", f.read()))
    assert read, "the scan found no knobs at all"
    assert read <= documented, f"undocumented knobs: {sorted(read - documented)}"


def test_staging_swap_lives_only_in_replace_parquet():
    """Copy-on-write parquet commits go through `sources.io.replace_parquet`;
    a hand-written staging swap anywhere else fails here."""
    found = set()
    for root, _, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    if "__staging" in f.read():
                        found.add(os.path.relpath(path, PKG))
    assert found == {os.path.join("sources", "io.py")}
