#!/usr/bin/env python3
"""Danae lake-search benchmark: cold index build and warm search serving.

    python3 lakebench/run.py --workload search_serve --seed 1 --seconds 24 --trace 0

Run from the repository root. Each run is one process with one client in
a closed loop on ``local[N]`` (N = min(4, nproc)) with a fixed JVM
heap. It generates its lake from ``--seed``, drives the engine only
through its public functions, checks every answer against a reference
that shares no state with the timed session (see reference.py), and
prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it is the full record (sample counts, percentile names,
failures, host fingerprint). README.md describes every metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback
import pickle
import subprocess
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BIG = 1e9  # printed in place of an infinite latency (a failed request)

CPUS = min(4, os.cpu_count() or 1)
JVM_HEAP = "2g"

# lake scale per workload (sf=0.01 gives 60,000 lineitem rows)
LAKE_SF = {"index_cold": 0.05, "search_serve": 0.01}
# requests of each kind a run makes after its cold build: index_cold makes
# exactly this many, search_serve at least this many
AFTER_BUILD = {"index_cold": 2, "search_serve": 6}

END_TO_END = (
    ("setup_s", "s"), ("cold_search_s", "s"),
    ("search_p50_s", "s"), ("search_tail_s", "s"),
    ("keyword_p50_s", "s"), ("keyword_tail_s", "s"),
    ("correct_share", "ratio"), ("peak_rss_mb", "MB"),
)

PER_LAYER = (
    ("session.get_spark_s", "s"), ("shipping.ensure_shipped_s", "s"),
    ("catalog.load_table_calls", "count"), ("catalog.load_table_s", "s"),
    ("profiler.quantile_signatures_s", "s"), ("profiler.temporal_profile_s", "s"),
    ("profiler.spatial_bboxes_s", "s"), ("tfidf.categorical_embeddings_s", "s"),
    ("profiler.rows_in", "count"),
    ("knn.typed_signatures_s", "s"), ("knn.content_similarity_s", "s"),
    ("knn.pairs", "count"), ("knn.kept_ratio", "ratio"),
    ("matching.scores_s", "s"), ("matching.groups", "count"), ("matching.edges", "count"),
    ("metadata.pairwise_bm25_s", "s"), ("metadata.bm25_search_s", "s"),
    ("metadata.docs_matched", "count"), ("metadata.hit_ratio", "ratio"),
    ("engine.construct_s", "s"), ("engine.execute_s", "s"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_bytes", "bytes"), ("spark.spill_bytes", "bytes"), ("spark.gc_s", "s"),
    ("spark.cached_mb", "MB"),
    ("trace.cold_search_s", "s"), ("trace.overhead_s", "s"),
)


def log(msg: str) -> None:
    print(f"[lakebench] {msg}", file=sys.stderr, flush=True)


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def percentiles(samples: list[float]) -> tuple[float, float, str]:
    """(median, tail, tail name). The tail is the highest percentile
    with at least ten samples beyond it (nearest rank); with ten or
    fewer samples no percentile qualifies and the maximum is reported."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return math.inf, math.inf, "none (n=0)"
    if n > 10:
        i = n - 11
        tail, name = xs[i], f"p{100 * (i + 1) / n:.0f} (n={n})"
    else:
        tail, name = xs[-1], f"max (n={n}, fewer than 11 samples)"
    return statistics.median(xs), tail, name


def finite(x: float) -> float:
    return x if math.isfinite(x) else BIG


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.sf = args.sf if args.sf is not None else LAKE_SF[args.workload]
        self.work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.lake = os.path.join(self.work, "lake")
        self.tracer = None
        self.spark = None
        self.eng = None
        self.setup: dict = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.requests: dict[str, dict] = {}
        self.measured: list[str] = []
        self.cold_s = math.inf
        self.rss_parts: dict = {}
        self.tail_names: dict[str, str] = {}

    # ------------------------------------------------------------ setup
    def helper(self, fn: str, *args):
        """Call reference.<fn>(*args) in a fresh Python process and return
        its result (a pickle this benchmark wrote, in its own work dir)."""
        req, out = os.path.join(self.work, "helper-in.pkl"), os.path.join(self.work, "helper-out.pkl")
        with open(req, "wb") as f:
            pickle.dump((fn, args), f)
        env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE]))
        subprocess.run([sys.executable, os.path.join(HERE, "reference.py"), req, out], env=env, check=True)
        with open(out, "rb") as f:
            return pickle.load(f)

    def isolate(self) -> None:
        """Keep every file Spark, the JVM and Python write inside the work dir."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["SPARK_DRIVER_MEMORY"] = JVM_HEAP
        # every JVM (the launcher too): temp files here, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.local.dir={local}"
            f" --conf spark.sql.warehouse.dir={os.path.join(self.work, 'warehouse')}"
            " --conf spark.ui.showConsoleProgress=false"
            " pyspark-shell"
        )
        import tempfile

        tempfile.tempdir = tmp

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def setup_session(self, started: float | None = None) -> None:
        """Session ready, package shipped, Python workers warm."""
        from danae_spark.api import DataLakeEngine
        from danae_spark.session import get_spark

        t0 = time.perf_counter() if started is None else started
        with self.span("session.get_spark"):
            g0 = time.perf_counter()
            self.spark = get_spark("lakebench")
            get_s = time.perf_counter() - g0
        if self.tracer:
            self.tracer.bind(self.spark)
        e0 = time.perf_counter()
        self.eng = DataLakeEngine(self.spark, self.lake)
        ship_s = time.perf_counter() - e0
        sc = self.spark.sparkContext

        def probe(_):  # nested, so it pickles by value: workers import only the engine
            import danae_spark

            return danae_spark.__version__

        n = sc.defaultParallelism
        sc.parallelize(range(n), n).map(probe).collect()
        self.setup = {"setup_s": time.perf_counter() - t0, "get_spark_s": get_s, "ensure_shipped_s": ship_s}

    def fingerprint(self) -> dict:
        sc = self.spark.sparkContext
        jvm, py = [], []
        for _ in range(3):
            t = time.perf_counter()
            self.spark.range(1).count()
            jvm.append(time.perf_counter() - t)
            t = time.perf_counter()
            sc.parallelize([0], 1).map(lambda x: x).collect()
            py.append(time.perf_counter() - t)
        return {
            "nproc": os.cpu_count(),
            "local_cpus": CPUS,
            "jvm_heap": JVM_HEAP,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "spark": self.spark.version,
            "jvm_job_dispatch_s": statistics.median(jvm),
            "python_job_dispatch_s": statistics.median(py),
        }

    # --------------------------------------------------------- requests
    def request(self, rid: str, kind: str, build, check) -> float:
        """Run one request: construct (build) and execute (collect), then
        check the answer outside the timed region. Returns the latency,
        +inf when the request raised or answered wrongly."""
        tr = self.tracer
        span = self.span
        first_exec = tr.sql_execution_count(self.spark) if tr else 0
        overhead0 = tr.overhead_s if tr else 0.0
        if tr:
            tr.request = rid
        rows, err = None, None
        t0 = time.perf_counter()
        try:
            with span(f"request.{kind}"):
                with span(f"{kind}.construct"):
                    df = build()
                with span(f"{kind}.execute"):
                    rows = df.collect()
            latency = time.perf_counter() - t0
        except Exception as exc:  # a failed request is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            err, latency = f"raised {type(exc).__name__}", math.inf
        info = {"kind": kind, "latency_s": latency, "rows": len(rows) if rows is not None else 0}
        if tr:
            tr.request = None
            info["overhead_s"] = tr.overhead_s - overhead0
            tr.collect(tr.request_spans(rid))
            info.update(tr.plan_counts(self.spark, first_exec))
        reason = err or check(rows)
        self.attempted += 1
        if reason:
            self.failed += 1
            self.failures.append(f"{rid}: {reason}")
            log(f"wrong answer {rid}: {reason}")
            latency = math.inf
        info["ok"] = reason is None
        self.requests[rid] = info
        return latency

    def cold_search(self, prep: dict) -> None:
        import reference as R

        scores = prep["search"][R.weights_key(0.6, 0.4, None)]
        self.cold_s = self.request(
            "cold-0", "search",
            lambda: self.eng.search(k=3),
            lambda rows: R.check_lake_search(rows, scores, 3),
        )

    def serve_mix(self, prep: dict, count: int, seconds: float = 0.0) -> None:
        """Closed loop alternating per-dataset searches and keyword
        queries: `count` of each kind, then more until `seconds` have
        passed. search_serve first makes one untimed request of each kind
        and measures the rest."""
        import reference as R

        searches, keywords = self.pools
        serve = self.workload == "search_serve"

        def do_search(i: int, tag: str) -> float:
            q = searches[i % len(searches)]
            key = R.weights_key(q["w_content"], q["w_metadata"], q["type_weights"])
            scores = prep["search"][key].get(q["dataset"], {})
            return self.request(
                f"{tag}-search-{i}", "search",
                lambda: self.eng.search(
                    dataset=q["dataset"], k=q["k"], w_content=q["w_content"],
                    w_metadata=q["w_metadata"], type_weights=q["type_weights"],
                ),
                lambda rows: R.check_search(rows, scores, q["dataset"], q["k"]),
            )

        def do_keyword(i: int, tag: str) -> float:
            q = keywords[i % len(keywords)]
            expected = prep["keyword"][(q["query"], q["k"])]
            return self.request(
                f"{tag}-keyword-{i}", "keyword",
                lambda: self.eng.metadata_search(q["query"], k=q["k"]),
                lambda rows: R.check_keyword(rows, expected),
            )

        if serve:  # the first call of each plan shape compiles its code
            do_search(len(searches) - 1, "warmup")
            do_keyword(len(keywords) - 1, "warmup")
        deadline = time.perf_counter() + seconds
        lat_s, lat_k = self.samples.setdefault("search", []), self.samples.setdefault("keyword", [])
        i = 0
        while i < count or time.perf_counter() < deadline:
            lat_s.append(do_search(i, "serve"))
            lat_k.append(do_keyword(i, "serve"))
            if serve:
                self.measured += [f"serve-search-{i}", f"serve-keyword-{i}"]
            i += 1

    def end_to_end(self, rss_mb: float) -> dict:
        m = {
            "setup_s": self.setup["setup_s"],
            "cold_search_s": self.cold_s,
            "correct_share": (self.attempted - self.failed) / max(1, self.attempted),
            "peak_rss_mb": rss_mb,
        }
        for kind in ("search", "keyword"):
            p50, tail, name = percentiles(self.samples[kind])
            m[f"{kind}_p50_s"], m[f"{kind}_tail_s"] = p50, tail
            self.tail_names[f"{kind}_tail_s"] = name
        return {k: {"value": finite(m[k]), "unit": u} for k, u in END_TO_END}

    def per_layer(self, cached_mb: float) -> dict:
        from tracing import PROFILER_LAYERS, is_under

        tr = self.tracer
        by_id = {sp["id"]: sp for sp in tr.spans}
        selfs = tr.self_times(tr.spans)
        measured = [r for r in self.measured if r in self.requests]
        per_req = {r: {} for r in measured}
        rows_in = {r: 0 for r in measured}
        loads = {r: 0 for r in measured}
        counters = {r: dict.fromkeys(("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms"), 0) for r in measured}
        for sp in tr.spans:
            r = sp["request"]
            if r not in per_req:
                continue
            per_req[r][sp["name"]] = per_req[r].get(sp["name"], 0.0) + selfs[sp["id"]]
            for c in counters[r]:
                counters[r][c] += sp.get(c, 0)
            if sp["name"] == "catalog.load_table":
                loads[r] += 1
                if is_under(sp, by_id, PROFILER_LAYERS):
                    rows_in[r] += self.table_rows.get(sp.get("table"), 0)

        def mean(xs) -> float:
            xs = list(xs)
            return statistics.fmean(xs) if xs else 0.0

        def layer_s(name: str) -> float:
            return mean(v[name] for v in per_req.values() if name in v)

        def span_s(kind: str, phase: str) -> float:
            return mean(
                sp["end"] - sp["start"] for sp in tr.spans
                if sp["request"] in per_req and sp["name"] == f"{kind}.{phase}"
            )

        searches = [self.requests[r] for r in measured if self.requests[r]["kind"] == "search"]
        # keyword metrics cover every keyword query of the run (index_cold
        # measures its cold build, which makes none)
        keywords = [q for q in self.requests.values() if q["kind"] == "keyword" and q["ok"]]
        pairs = sum(q["knn_pairs"] for q in searches)
        edges = sum(q["matching_edges"] for q in searches)
        matched = sum(q["docs_matched"] for q in keywords)
        returned = sum(q["rows"] for q in keywords)
        m = {
            "session.get_spark_s": self.setup["get_spark_s"],
            "shipping.ensure_shipped_s": self.setup["ensure_shipped_s"],
            "catalog.load_table_calls": mean(loads.values()),
            "catalog.load_table_s": layer_s("catalog.load_table"),
            "profiler.quantile_signatures_s": layer_s("profiler.quantile_signatures"),
            "profiler.temporal_profile_s": layer_s("profiler.temporal_profile"),
            "profiler.spatial_bboxes_s": layer_s("profiler.spatial_bboxes"),
            "tfidf.categorical_embeddings_s": layer_s("tfidf.categorical_embeddings"),
            "profiler.rows_in": mean(rows_in.values()),
            "knn.typed_signatures_s": layer_s("knn.typed_signatures"),
            "knn.content_similarity_s": layer_s("knn.content_similarity"),
            "knn.pairs": mean(q["knn_pairs"] for q in searches),
            "knn.kept_ratio": edges / pairs if pairs else 0.0,
            "matching.scores_s": layer_s("matching.scores"),
            "matching.groups": mean(q["matching_groups"] for q in searches),
            "matching.edges": mean(q["matching_edges"] for q in searches),
            "metadata.pairwise_bm25_s": layer_s("metadata.pairwise_bm25"),
            "metadata.bm25_search_s": mean(q["latency_s"] for q in keywords),
            "metadata.docs_matched": mean(q["docs_matched"] for q in keywords),
            "metadata.hit_ratio": returned / matched if matched else 0.0,
            "engine.construct_s": span_s("search", "construct"),
            "engine.execute_s": span_s("search", "execute"),
            "spark.jobs": mean(c["jobs"] for c in counters.values()),
            "spark.stages": mean(c["stages"] for c in counters.values()),
            "spark.tasks": mean(c["tasks"] for c in counters.values()),
            "spark.shuffle_bytes": mean(c["shuffle_bytes"] for c in counters.values()),
            "spark.spill_bytes": mean(c["spill_bytes"] for c in counters.values()),
            "spark.gc_s": mean(c["gc_ms"] for c in counters.values()) / 1000.0,
            "spark.cached_mb": cached_mb,
            "trace.cold_search_s": self.cold_s,
            "trace.overhead_s": mean(self.requests[r].get("overhead_s", 0.0) for r in measured),
        }
        return {k: {"value": finite(m[k]), "unit": u} for k, u in PER_LAYER}

    # ---------------------------------------------------------- lifecycle
    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python process plus the JVM it
        launched (not the Python workers)."""
        py = _vm_hwm_kb(os.getpid()) / 1024.0
        jvm = sum(_vm_hwm_kb(p) for p in _descendants(os.getpid()) if _comm(p) == "java") / 1024.0
        self.rss_parts = {"python": py, "jvm": jvm}
        return py + jvm

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / (1 << 20)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        procs = [p for p in _descendants(os.getpid()) if _comm(p) == "java"]
        procs += [d for p in procs for d in _descendants(p)]
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while procs and time.time() < deadline:
            procs = [p for p in procs if not _ended(p)]
            if procs:
                time.sleep(0.2)
        for p in procs:
            try:
                os.kill(p, 9)
            except OSError:
                pass

    def run(self) -> int:
        try:
            return self._run()
        finally:
            from pyspark import SparkContext

            if SparkContext._gateway is not None:  # stopped early by an error
                self.shutdown()
            shutil.rmtree(self.work, ignore_errors=True)

    def _run(self) -> int:
        started = process_start()
        import lakegen

        self.isolate()
        phases = {}
        self.pools = (lakegen.search_requests(self.args.seed), lakegen.keyword_requests(self.args.seed))
        # input generation and reference answers run in a helper process,
        # so their CPU and memory stay out of the measured numbers
        t = time.perf_counter()
        prep = self.helper("prepare", self.lake, self.args.seed, self.sf, *self.pools)
        phases["prepare_s"] = time.perf_counter() - t
        self.table_rows = prep["rows"]

        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        # setup from process start, without the input generation
        t = time.perf_counter()
        self.setup_session(started=t - (time.time() - started) + phases["prepare_s"])
        phases["setup_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.cold_search(prep)
        phases["cold_s"] = time.perf_counter() - t
        log(f"cold search {self.cold_s:.2f}s")
        t = time.perf_counter()
        if self.workload == "index_cold":
            self.measured.append("cold-0")
            self.serve_mix(prep, AFTER_BUILD["index_cold"])
        else:
            self.serve_mix(prep, AFTER_BUILD["search_serve"], self.args.seconds)
        phases["measure_s"] = time.perf_counter() - t
        cached = self.cached_mb()
        t = time.perf_counter()
        fingerprint = self.fingerprint()
        phases["fingerprint_s"] = time.perf_counter() - t
        rss = self.peak_rss_mb()
        t = time.perf_counter()
        self.shutdown()
        phases["shutdown_s"] = time.perf_counter() - t

        if self.args.trace:
            self.tracer.uninstall()
            metrics = self.per_layer(cached)
        else:
            metrics = self.end_to_end(rss)
        record = {
            "workload": self.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "lake_sf": self.sf,
            "lake_rows": self.table_rows,
            "phases": phases,
            "run_wall_s": time.time() - started,
            "peak_rss_parts_mb": self.rss_parts,
            "client": "one process, one client, closed loop",
            "host": fingerprint,
            "setup": self.setup,
            "samples": {k: len(v) for k, v in self.samples.items()},
            "latencies_s": {k: [finite(x) for x in v] for k, v in self.samples.items()},
            "tail_percentiles": self.tail_names,
            "failed_share": self.failed / max(1, self.attempted),
            "failures": self.failures,
        }
        if self.tracer:
            path = os.path.join(ROOT, ".lakebench_work", f"trace-{self.workload}-{self.args.seed}.json")
            self.tracer.dump(path, {"record": record, "requests": self.requests})
            record["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }))
        return 0


def _ended(pid: int) -> bool:
    """Gone, or a zombie waiting for a parent that is not this process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(LAKE_SF))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's lake scale")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import danae_spark.api  # noqa: F401
    except ImportError as exc:
        log(f"the engine is not importable from {ROOT}: {exc}")
        return 2
    return Bench(args).run()


if __name__ == "__main__":
    sys.exit(main())
