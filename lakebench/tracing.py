"""Traced-run mode: spans around each call into a public engine layer.

``Tracer.install`` wraps the engine's public layer functions (the table
in ``LAYERS``) in place, in every loaded ``danae_spark`` module that
holds them, so a call made anywhere inside the engine opens a span. A
span records name, start, end, parent and request; the Spark jobs a span
launches are tagged with a job group named after the span, and their
job, stage, task, shuffle, spill and GC counters are read from Spark's
status store after the request has finished, outside the timed region.
The only work inside timed regions is the clock reads and the job-group
switches; their cost is kept in ``overhead_s``.

Spans stay in memory and are written out once, by ``dump``.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, public function, layer name)
LAYERS = (
    ("danae_spark.shipping", "ensure_shipped", "shipping.ensure_shipped"),
    ("danae_spark.catalog", "load_table", "catalog.load_table"),
    ("danae_spark.profiling.profiler", "quantile_signatures", "profiler.quantile_signatures"),
    ("danae_spark.profiling.profiler", "temporal_profile", "profiler.temporal_profile"),
    ("danae_spark.profiling.profiler", "spatial_bboxes", "profiler.spatial_bboxes"),
    ("danae_spark.profiling.tfidf", "categorical_column_embeddings", "tfidf.categorical_embeddings"),
    ("danae_spark.search.knn", "typed_signatures", "knn.typed_signatures"),
    ("danae_spark.search.knn", "content_similarity", "knn.content_similarity"),
    ("danae_spark.search.knn", "signature_knn", "knn.signature_knn"),
    ("danae_spark.search.matching", "dataset_matching_scores", "matching.scores"),
    ("danae_spark.search.metadata", "pairwise_dataset_bm25", "metadata.pairwise_bm25"),
    ("danae_spark.search.metadata", "bm25_search", "metadata.bm25_search"),
    ("danae_spark.search.engine", "dataset_search", "engine.dataset_search"),
)

PROFILER_LAYERS = (
    "profiler.quantile_signatures",
    "profiler.temporal_profile",
    "profiler.spatial_bboxes",
    "tfidf.categorical_embeddings",
)

ROWS = "number of output rows"


def _int(text) -> int:
    digits = "".join(ch for ch in str(text).split("\n")[0] if ch.isdigit())
    return int(digits) if digits else 0


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []
        self.request: str | None = None
        self.sc = None
        self.overhead_s = 0.0

    # ------------------------------------------------------------ spans
    def bind(self, spark) -> None:
        """Attach to the run's session."""
        self.sc = spark.sparkContext

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "group": f"lakebench-span-{len(self.spans)}",
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - sp["end"]

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            attrs = {}
            if layer == "catalog.load_table" and len(args) >= 3:
                attrs["table"] = args[2]
            with self.span(layer, **attrs):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, layer in LAYERS:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapper = self._wrap(orig, layer)
            for name, mod in list(sys.modules.items()):
                if not name.startswith("danae_spark") or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapper)
                        self._patched.append((mod, key, orig))

    def uninstall(self) -> None:
        for mod, key, orig in reversed(self._patched):
            setattr(mod, key, orig)
        self._patched.clear()

    # -------------------------------------------- status-store counters
    def collect(self, spans: list[dict]) -> None:
        """Fill job/stage/task/shuffle/spill/GC counters of `spans` from
        the status store (call after the request, outside timing)."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in spans:
            c = dict.fromkeys(("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms"), 0)
            for job_id in tracker.getJobIdsForGroup(sp["group"]):
                c["jobs"] += 1
                stage_ids = store.job(job_id).stageIds()
                for i in range(stage_ids.size()):
                    st = store.lastStageAttempt(stage_ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["gc_ms"] += st.jvmGcTime()
            sp.update(c)

    def sql_execution_count(self, spark) -> int:
        return spark._jsparkSession.sharedState().statusStore().executionsCount()

    def plan_counts(self, spark, first_execution: int) -> dict:
        """Row counts read from the SQL plan metrics of every execution
        started since `first_execution`:

        - knn_pairs: candidate column pairs (the cross-table nested-loop
          joins of the signature kNN);
        - matching_groups / matching_edges: (query, candidate) groups the
          bipartite matcher scored, and the similarity rows fed to it;
        - docs_matched: documents matching at least one keyword term.
        """
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = spark._jsparkSession.sharedState().statusStore()
        out = dict.fromkeys(("knn_pairs", "matching_groups", "matching_edges", "docs_matched"), 0)
        total = store.executionsCount()
        if total <= first_execution:
            return out
        execs = store.executionsList(first_execution, total - first_execution)
        for e in range(execs.size()):
            eid = execs.apply(e).executionId()
            graph = store.planGraph(eid)
            values = store.executionMetrics(eid)
            nodes, rows, children = {}, {}, defaultdict(list)
            all_nodes = graph.allNodes()
            for i in range(all_nodes.size()):
                n = all_nodes.apply(i)
                nodes[n.id()] = (n.name(), n.desc())
                metrics = n.metrics()
                for j in range(metrics.size()):
                    m = metrics.apply(j)
                    if m.name() == ROWS:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            rows[n.id()] = _int(v.get())
            edges = graph.edges()
            for i in range(edges.size()):
                ed = edges.apply(i)
                children[ed.toId()].append(ed.fromId())
            for nid, (name, desc) in nodes.items():
                if name == "BroadcastNestedLoopJoin" and "q_table" in desc and "cand_table" in desc:
                    out["knn_pairs"] += rows.get(nid, 0)
                elif name == "FlatMapGroupsInPandas" and "match_group" in desc:
                    out["matching_groups"] += rows.get(nid, 0)
                    out["matching_edges"] += _first_rows_below(nid, children, rows)
                elif (
                    name == "HashAggregate"
                    and desc.startswith("HashAggregate(keys=[doc_id")
                    and "functions=[sum(" in desc
                ):
                    out["docs_matched"] = max(out["docs_matched"], rows.get(nid, 0))
        return out

    # ------------------------------------------------------- summaries
    def self_times(self, spans: list[dict]) -> dict[int, float]:
        child = defaultdict(float)
        for sp in spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        return {sp["id"]: sp["end"] - sp["start"] - child[sp["id"]] for sp in spans}

    def request_spans(self, request: str) -> list[dict]:
        return [sp for sp in self.spans if sp["request"] == request]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def _first_rows_below(nid, children, rows) -> int:
    """Rows out of the nearest descendant of `nid` that counts rows."""
    frontier = list(children.get(nid, ()))
    while frontier:
        nxt = []
        for c in frontier:
            if c in rows:
                return rows[c]
            nxt.extend(children.get(c, ()))
        frontier = nxt
    return 0


def is_under(span: dict, by_id: dict[int, dict], names: tuple[str, ...]) -> bool:
    p = span["parent"]
    while p is not None:
        if by_id[p]["name"] in names:
            return True
        p = by_id[p]["parent"]
    return False
