"""Tests for the benchmark itself.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark process per workload and trace setting at
sf0.001; the gate tests need DuckDB only.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [REPO, BENCH]

import datagen  # noqa: E402
import measure_panels  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bench(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_emits_every_metric(tmp_path, workload, trace):
    proc = _bench(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--sf", "0.001")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float | int), m["name"]
    if trace:
        assert "tracing overhead" in proc.stdout
        assert os.path.exists(tmp_path / ".perfbench_traces" / f"{workload}-seed3.json")
    assert not list((tmp_path / ".perfbench_tmp").glob("run-*"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_incremental", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf0001"))
    datagen.generate(d, 5, 0.001)
    return d


def test_datagen_is_seeded(tmp_path):
    a = datagen.generate(str(tmp_path / "a"), 11, 0.001)
    b = datagen.generate(str(tmp_path / "b"), 11, 0.001)
    c = datagen.generate(str(tmp_path / "c"), 12, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_perturbed_query_result_registers_as_failure(tiny):
    from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog

    name = "tpch_q14_promo_share"
    con = oracle.connect(tiny)
    cur = con.execute(catalog.REGISTRY[name].oracle)
    cols, rows = [d[0] for d in cur.description], cur.fetchall()
    assert rows

    wl = run.QueryWorkload.__new__(run.QueryWorkload)
    wl.names, wl.sf_dir = [name], tiny
    wl.results = {name: (cols, rows)}
    assert wl.check([name, name]) == []

    bumped = list(rows[0])
    i = next(i for i, v in enumerate(bumped) if isinstance(v, (int, float)) and not isinstance(v, bool))
    bumped[i] = bumped[i] + 1
    wl.results = {name: (cols, [tuple(bumped)] + rows[1:])}
    assert len(wl.check([name, name])) == 2
    wl.results = {name: (cols, rows[1:])}
    assert len(wl.check([name])) == 1
    wl.results = {name: "Py4JJavaError: boom"}
    assert len(wl.check([name])) == 1


def _etl_outputs(con, data, out, cuts):
    """Write what a correct sequence of run_etl calls would: one output
    directory per slice, each report grouped and rounded to cents."""
    t = lambda n: f"read_parquet('{data}/{n}.parquet')"  # noqa: E731
    lo = -1
    for i, hi in enumerate(cuts):
        for report, (select, keys) in run.ETL_REPORTS.items():
            path = f"{out}/run-{i:04d}/{report}"
            os.makedirs(path)
            con.execute(f"""
            COPY (SELECT {select}, round(SUM(l_extendedprice), 2) AS total
                  FROM read_parquet('{data}/lineitem.parquet/*.parquet') l
                  JOIN {t('orders')} o ON l.l_orderkey = o.o_orderkey
                  JOIN {t('customer')} c ON o.o_custkey = c.c_custkey
                  JOIN {t('supplier')} s ON l.l_suppkey = s.s_suppkey
                  WHERE l.l_orderkey > {lo} AND l.l_orderkey <= {hi}
                  GROUP BY ALL) TO '{path}/part-0.parquet' (FORMAT parquet)""")
        lo = hi


def test_perturbed_etl_total_registers_as_failure(tmp_path):
    data, out = str(tmp_path / "data"), str(tmp_path / "out")
    tables = datagen.generate(data, 9, 0.001)
    os.remove(f"{data}/lineitem.parquet")
    os.makedirs(f"{data}/lineitem.parquet")
    import pyarrow.parquet as pq

    pq.write_table(tables["lineitem"], f"{data}/lineitem.parquet/part-00000.parquet")
    cuts = [300, 700, 1100, 1499]
    con = duckdb.connect()
    _etl_outputs(con, data, out, cuts)
    assert run.etl_total_mismatches(con, data, out, cuts[-1]) == []

    victim = f"{out}/run-0002/sales_by_supplier/part-0.parquet"
    con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN total + 0.05
                         ELSE total END AS total) FROM read_parquet('{victim}'))
                    TO '{victim}.tmp' (FORMAT parquet)""")
    os.replace(f"{victim}.tmp", victim)
    errors = run.etl_total_mismatches(con, data, out, cuts[-1])
    assert len(errors) == 1 and errors[0].startswith("sales_by_supplier")


def test_etl_duplicate_slice_registers_as_failure(tmp_path):
    data, out = str(tmp_path / "data"), str(tmp_path / "out")
    tables = datagen.generate(data, 9, 0.001)
    os.remove(f"{data}/lineitem.parquet")
    os.makedirs(f"{data}/lineitem.parquet")
    import pyarrow.parquet as pq

    pq.write_table(tables["lineitem"], f"{data}/lineitem.parquet/part-00000.parquet")
    con = duckdb.connect()
    _etl_outputs(con, data, out, [700, 1499])
    shutil.copytree(f"{out}/run-0001", f"{out}/run-0002")  # a slice reported twice
    assert run.etl_total_mismatches(con, data, out, 1499)


def test_exhausted_etl_window_registers_as_failure(tmp_path, monkeypatch):
    import pyarrow as pa

    wl = run.EtlWorkload(1, str(tmp_path), 1)
    assert wl.blocks == 2  # two windows of one block each at MIN_ETL_RUN_S
    wl.slices = [pa.table({"l_orderkey": [i]}) for i in range(len(run.SLICE_ORDERS))]
    monkeypatch.setattr(wl, "_append", lambda *a: None)
    monkeypatch.setattr(wl, "_run", lambda *a: None)
    ops = wl.timed(None, 60)
    assert len(ops.latency) == len(run.SLICE_ORDERS)
    assert len(ops.failed) == 1 and ops.failed[0].startswith("window exhausted")


def test_run_sets_take_each_cost_stratum_median():
    measured = {f"q{i}": {"serial_s": float(i)} for i in range(40)}
    panels = {w: list(measured) for w in measure_panels.RUN_SET_SIZE}
    got = measure_panels.run_sets(panels, measured)
    assert got["query_iterative"] == ["q5", "q15", "q25", "q35"]
    with open(os.path.join(BENCH, "panels.json")) as f:
        frozen = json.load(f)
    assert measure_panels.classify(frozen["queries"]) == frozen["panels"]
    assert measure_panels.run_sets(frozen["panels"], frozen["queries"]) == frozen["run_sets"]


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 1, "name": "root", "parent": None, "op": 1, "start": 0.0, "end": 10.0},
        {"id": 2, "name": "a", "parent": 1, "op": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "name": "b", "parent": 1, "op": 1, "start": 3.0, "end": 6.0},  # overlaps a
        {"id": 4, "name": "c", "parent": 3, "op": 1, "start": 5.0, "end": 5.5},
    ]
    got = tracing.self_times(spans)
    assert got == pytest.approx({"root": 5.0, "a": 3.0, "b": 2.5, "c": 0.5})
