"""Re-measure the query panels the benchmark's query workloads draw from.

    python3 perfbench/measure_panels.py [--out perfbench/panels.json]

Runs every batch query (all registered queries except the ``stream_*``
and ``maintenance_*`` families, which are checkpointed streaming and
file-commit jobs) serially on one local[nproc] session over ``datagen``
tables at the benchmark's scale (``run.SF``, seed ``SEED``): first once
with ``collect()`` checked against its DuckDB oracle, then once timed
with the noop sink. It records, per query, the
Spark jobs launched inside ``fn(spark, sf_dir)`` (eager pins and
collects) and the serial seconds, then applies ``RULE`` to split the
queries into the three panels and ``run_sets`` to pick each query
workload's run set from its panel.

The panels and run sets in ``panels.json`` are frozen: ``run.py`` reads
the name lists and never re-classifies, so a later change that cuts a
query's job count does not move it from one workload to another.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

RULE = (
    "batch = registered queries minus the stream_* and maintenance_* families; "
    "query_iterative = batch queries whose fn() launched >= 5 Spark jobs; "
    "query_relational = families tpch, join, join3, agg, window, setop, fn, subquery, "
    "sort, report, events, minus query_iterative; "
    "query_pyworker = families multimodal, dedup, text, sim, udf, embed, rag, archive, "
    "minus query_iterative. A family is the name up to the first '_'."
)
RELATIONAL = {"tpch", "join", "join3", "agg", "window", "setop", "fn", "subquery", "sort", "report", "events"}
PYWORKER = {"multimodal", "dedup", "text", "sim", "udf", "embed", "rag", "archive"}
ITERATIVE_MIN_JOBS = 5
#: Seed of the tables the panels are measured on.
SEED = 1
#: Queries per run set: one per equal-count stratum of the panel ranked by
#: serial seconds, the stratum's median, so a run set keeps the panel's
#: spread of costs at a size whose pass fits a short timed window.
RUN_SET_SIZE = {"query_relational": 12, "query_iterative": 4, "query_pyworker": 8}


def family(name: str) -> str:
    return name.split("_", 1)[0]


def classify(measured: dict[str, dict]) -> dict[str, list[str]]:
    iterative = sorted(n for n, m in measured.items() if m["fn_jobs"] >= ITERATIVE_MIN_JOBS)
    rest = [n for n in sorted(measured) if n not in iterative]
    return {
        "query_relational": [n for n in rest if family(n) in RELATIONAL],
        "query_iterative": iterative,
        "query_pyworker": [n for n in rest if family(n) in PYWORKER],
    }


def run_sets(panels: dict[str, list[str]], measured: dict[str, dict]) -> dict[str, list[str]]:
    out = {}
    for workload, k in RUN_SET_SIZE.items():
        ranked = sorted(panels[workload], key=lambda n: (measured[n]["serial_s"], n))
        strata = [ranked[i * len(ranked) // k:(i + 1) * len(ranked) // k] for i in range(k)]
        out[workload] = [s[len(s) // 2] for s in strata]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, "panels.json"))
    args = ap.parse_args()
    out = os.path.abspath(args.out)

    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    import datagen
    import launch
    import oracle
    import run

    scratch = launch.make_scratch()
    try:
        from aws_glue_pyspark_incrementality_and_parallelism_spark.operators import multimodal
        from aws_glue_pyspark_incrementality_and_parallelism_spark.plans import catalog
        from aws_glue_pyspark_incrementality_and_parallelism_spark.session import build_spark

        sf_dir = os.path.join(scratch, "data")
        datagen.generate(sf_dir, SEED, run.SF)
        spark = build_spark(app_name="perfbench-panels", extra_conf=launch.spark_conf(scratch))
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        con = oracle.connect(sf_dir)
        names = [n for n in catalog.REGISTRY if family(n) not in ("stream", "maintenance")]
        measured: dict[str, dict] = {}
        for i, name in enumerate(names):
            spec = catalog.REGISTRY[name]
            df = spec.fn(spark, sf_dir)
            bad = oracle.mismatch(con, spec.oracle, df.columns, [tuple(r) for r in df.collect()])
            group = f"panel-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            t1 = time.perf_counter()
            fn_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            sc.setJobGroup("", "")
            multimodal.release_decode_caches()
            measured[name] = {
                "family": family(name),
                "fn_jobs": fn_jobs,
                "build_s": round(t1 - t0, 3),
                "serial_s": round(t2 - t0, 3),
                "oracle_ok": bad is None,
            }
            print(name, measured[name], bad or "", flush=True)
        spark.stop()
        panels = classify(measured)
        doc = {
            "rule": RULE,
            "measured_on": {"sf": run.SF, "seed": SEED, "host": launch.sysinfo()},
            "panels": panels,
            "run_sets": run_sets(panels, measured),
            "queries": measured,
        }
        with open(out, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        launch.remove_scratch(scratch)


if __name__ == "__main__":
    main()
