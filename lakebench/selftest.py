#!/usr/bin/env python3
"""Self-test of the lake-search benchmark on sf0.001 lakes (about three
minutes on four cores).

    python3 lakebench/selftest.py

Checks that every metric of BENCHMARK.json is emitted with its unit and
correct answers, that a traced request launches as many Spark jobs as the
same request untraced, and that a deliberately stale answer is counted as
a failed operation. Also prints the tracing overhead of one seed: the
traced cold_search_s minus the untraced one. Exits 1 on any failure.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = 0.001
SEED = 5

problems: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        problems.append(what)


def run_cli(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--sf", str(SF),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    expect(out.returncode == 0, f"{workload} --trace {trace} exits 0")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_result(result: dict, spec: list[dict], label: str) -> None:
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{label}: result keys")
    expect(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, f"{label}: answers correct")
    for m in spec:
        got = result["metrics"].get(m["name"])
        expect(
            got is not None and got["unit"] == m["unit"] and math.isfinite(got["value"]),
            f"{label}: {m['name']} [{m['unit']}] = {got and got['value']}",
        )


def in_process_checks() -> None:
    sys.path[:0] = [ROOT, HERE]
    import lakegen
    import reference as R
    from pyspark.sql import functions as F
    from run import Bench, percentiles
    from tracing import Tracer

    p50, tail, name = percentiles([float(x) for x in range(1, 21)])
    expect((p50, tail, name) == (10.5, 10.0, "p50 (n=20)"), f"percentiles of 1..20: {p50}, {tail}, {name}")
    expect(percentiles([3.0, 1.0, 2.0])[1:] == (3.0, "max (n=3, fewer than 11 samples)"), "tail of 3 samples is the max")

    args = argparse.Namespace(workload="search_serve", seed=SEED, seconds=1.0, trace=0, sf=SF)
    bench = Bench(args)
    bench.isolate()
    prep = bench.helper("prepare", bench.lake, SEED, SF, [], [])
    bench.table_rows = prep["rows"]
    bench.setup_session()
    try:
        bench.cold_search(prep)
        expect(bench.failed == 0, "cold build answers correctly")
        spark, eng = bench.spark, bench.eng
        jsc = spark.sparkContext._jsc.sc()

        def jobs_of(call) -> int:
            jsc.listenerBus().waitUntilEmpty()
            before = jsc.statusStore().jobsList(None).size()
            call()
            jsc.listenerBus().waitUntilEmpty()
            return jsc.statusStore().jobsList(None).size() - before

        calls = {
            "search(dataset)": lambda: eng.search(dataset="orders", k=3).collect(),
            "metadata_search": lambda: eng.metadata_search("spark join", k=5).collect(),
        }
        for label, call in calls.items():
            jobs_of(call)  # first warm call
            plain = jobs_of(call)
            tracer = Tracer()
            tracer.install()
            tracer.bind(spark)
            try:
                def traced():
                    tracer.request = "parity"
                    with tracer.span("request"):
                        call()
                traced_jobs = jobs_of(traced)
            finally:
                tracer.uninstall()
            expect(plain == traced_jobs, f"{label}: {traced_jobs} jobs traced, {plain} untraced")

        table = "orders"
        rows = eng.similar_columns(k=3).filter(F.col("q_table") == table).collect()
        before, _ = bench.helper("refresh_reference", bench.lake, table)
        expect(R.check_similar_columns(rows, before) is None, "answer passes against the lake it was computed on")
        src = os.path.join(bench.work, "orders-v1.parquet")
        bench.helper("prepare_version", bench.lake, src, table, SEED, 1, SF)
        eng.publish(spark.read.parquet(src), lakegen.table_path(bench.lake, table), title=table)
        after, _ = bench.helper("refresh_reference", bench.lake, table)

        class Frozen:  # "builds" the answer taken before the publish
            def collect(self):
                return rows

        failed = bench.failed
        bench.request("stale-0", "columns", Frozen, lambda got: R.check_similar_columns(got, after))
        expect(bench.failed == failed + 1, "a stale answer (taken before the publish) counts as failed")
    finally:
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cold = {}
    for workload, trace in (("search_serve", 0), ("index_cold", 0), ("index_cold", 1)):
        result = run_cli(workload, trace)
        kind = "per_layer" if trace else "end_to_end"
        check_result(result, spec[kind], f"{workload} trace={trace}")
        key = "trace.cold_search_s" if trace else "cold_search_s"
        cold[trace] = result["metrics"][key]["value"]
    print(f"tracing overhead (index_cold, seed {SEED}, sf{SF}): "
          f"{cold[1] - cold[0]:+.2f}s on a {cold[0]:.2f}s cold build")
    in_process_checks()
    print("ALL OK" if not problems else f"{len(problems)} FAILED")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
