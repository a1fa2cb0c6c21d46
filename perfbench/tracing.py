"""Tracing for the benchmark's traced runs.

Two sources, both outside ``widiff_spark``:

* spans the benchmark records around its own calls into the program's
  modules (``Tracer.instrument`` swaps module attributes for timing
  wrappers for the length of one op, so calls the program makes
  internally, e.g. ``run_incremental`` -> ``checkpoint.pending_buckets``,
  are seen from outside);
* Spark's own per-node SQL metrics and per-task stage metrics, read over
  the driver's loopback status API after each op.

Each plan node is attributed to the module layer that built it, from its
place in the plan: the persisted diff output (``InMemoryTableScan``) holds
``parse`` (the Python node over the document scan) and ``diff`` or, when
the op chose the salted mode, ``salted``; the dedup-and-write top of a
write plan is ``materialize``; what lies between is ``enrich`` or
``features``; and executions issued inside the probe or checkpoint spans
belong to ``pipeline`` and ``checkpoint``.  Executions outside every span
are not the op's and are skipped.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

# per-layer metrics: name -> (unit, the end-to-end metric and workload it
# should move).  BENCHMARK.json lists the same names.
_BUILD = "build_s on hot_pages, resume_s on resume"
LAYER_METRICS = {
    "pipeline.probe_s": ("s", _BUILD),
    "pipeline.plan_s": ("s", "build_s on hot_pages: run_pipeline's wall "
                        "less its skew probe, the driver building the plan "
                        "(no Spark job runs there)"),
    "pipeline.salted_chosen": ("count", "none: 1 means mode='auto' picked "
                               "the salted diff"),
    "pipeline.cache_bytes": ("B", _BUILD),
    "parse.python_s": ("s", "revisions_per_s on hot_pages and resume"),
    "parse.python_init_s": ("s", "revisions_per_s on hot_pages and resume"),
    "parse.bytes_to_python": ("B", "revisions_per_s on hot_pages and resume"),
    "parse.bytes_from_python": ("B", "revisions_per_s on hot_pages and "
                                "resume"),
    "parse.scan_bytes": ("B", "revisions_per_s on hot_pages and resume"),
    "parse.rows_out": ("count", "revisions_per_s on hot_pages and resume"),
    "parse.quarantined": ("count", "revisions_per_s on hot_pages and resume"),
    "diff.exchange_bytes": ("B", "resume_s on resume"),
    "diff.exchange_skew": ("ratio", "resume_s on resume"),
    "diff.fetch_wait_s": ("s", "resume_s on resume"),
    "diff.python_s": ("s", "resume_s on resume"),
    "diff.python_init_s": ("s", "resume_s on resume"),
    "diff.rows_out": ("count", "resume_s on resume"),
    "diff.task_skew": ("ratio", "resume_s on resume"),
    "salted.python_s": ("s", "build_s on hot_pages"),
    "salted.exchange_bytes": ("B", "build_s on hot_pages"),
    "salted.task_skew": ("ratio", "build_s on hot_pages"),
    "revert.reverted_rows": ("count", "none: revert time is inside "
                             "diff.python_s and salted.python_s"),
    "revert.reversion_rows": ("count", "none: as revert.reverted_rows"),
    "enrich.jvm_s": ("s", _BUILD),
    "enrich.broadcast_bytes": ("B", _BUILD),
    "features.python_s": ("s", "build_s on hot_pages"),
    "features.update_rows": ("count", "build_s on hot_pages"),
    "features.distinct_pairs": ("count", "build_s on hot_pages"),
    "features.pair_reuse": ("ratio", "build_s on hot_pages"),
    "materialize.write_s": ("s", _BUILD),
    "materialize.rows_written": ("count", _BUILD),
    "materialize.bytes_written": ("B", _BUILD),
    "materialize.files_written": ("count", _BUILD),
    "materialize.sort_spill_bytes": ("B", _BUILD),
    "materialize.pk_dropped_rows": ("count", _BUILD),
    "checkpoint.pending_s": ("s", "resume_s on resume"),
    "checkpoint.record_s": ("s", "resume_s on resume"),
    "checkpoint.noop_s": ("s", "build_s on resume"),
    "checkpoint.watermark_rows_scanned": ("count", "resume_s on resume"),
    "checkpoint.buckets_redone": ("count", "resume_s on resume"),
    "checkpoint.rework_ratio": ("ratio", "resume_s on resume"),
    "trace.op_s": ("s", "none: the traced op's wall, against the untraced "
                   "runs' build_s"),
    "trace.overhead": ("ratio", "none: traced op wall over the same wall "
                       "less the tracer's own time"),
    "trace.span_coverage": ("ratio", "none: layer spans over op wall"),
}

# module attributes wrapped in spans during a traced op
TRACED_CALLS = {
    "pipeline": ["probe_max_page_revisions", "run_pipeline",
                 "run_incremental"],
    "materialize": ["write_table"],
    "checkpoint": ["pending_buckets", "record"],
}


class Tracer:
    """In-memory spans, written out once when the benchmark ends."""

    def __init__(self, after_write=None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0
        self.results: list = []  # what the wrapped run_pipeline returned
        self.after_write = after_write
        self.self_s = 0.0  # time spent in the tracer's own code

    @contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"op": self.op, "name": name, "parent": (
            self._stack[-1] if self._stack else None),
            "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    @contextmanager
    def instrument(self, modules: dict):
        """Wrap ``TRACED_CALLS`` of the given modules for the duration."""
        saved = []
        for mod_name, attrs in TRACED_CALLS.items():
            mod = modules[mod_name]
            for attr in attrs:
                fn = getattr(mod, attr)
                saved.append((mod, attr, fn))
                setattr(mod, attr, self._wrap(f"{mod_name}.{attr}", fn))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _wrap(self, name, fn):
        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            table = args[2] if name == "materialize.write_table" else None
            with self.span(name, table=table):
                t1 = time.perf_counter()
                out = fn(*args, **kwargs)
                t2 = time.perf_counter()
            if name == "pipeline.run_pipeline":
                self.results.append(out)
            elif name == "materialize.write_table" and self.after_write:
                self.after_write()
            self.self_s += time.perf_counter() - t0 - (t2 - t1)
            return out
        return wrapped

    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ---------------------------------------------------------------------------
# Spark status API
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
         "TiB": 2 ** 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def metric_value(text: str) -> float:
    """A SQL metric string as a number: sizes in bytes, times in seconds.
    Task-aggregated metrics read ``total (min, med, max ...)\\n<total> (..)``;
    the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    if len(parts) == 2 and parts[1] in _SIZE:
        return float(parts[0]) * _SIZE[parts[1]]
    if len(parts) == 2 and parts[1] in _TIME:
        return float(parts[0]) * _TIME[parts[1]]
    return float(parts[0])


def metric_stage(text: str) -> tuple[int, int] | None:
    m = _STAGE.search(text)
    return (int(m.group(1)), int(m.group(2))) if m else None


class SparkStatus:
    """Reads the running application's SQL and stage metrics."""

    def __init__(self, sc):
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def last_execution_id(self) -> int:
        execs = self._get("/sql?details=false&offset=0&length=100000")
        return max((e["id"] for e in execs), default=-1)

    def executions_after(self, after_id: int, wait_s: float = 10.0) -> list:
        """Executions with id > after_id, once all of them completed (the
        listener bus applies the final metrics asynchronously)."""
        deadline = time.time() + wait_s
        while True:
            execs = [e for e in self._get(
                "/sql?details=true&planDescription=false&offset=0"
                "&length=100000") if e["id"] > after_id]
            if all(e["status"] != "RUNNING" for e in execs) \
                    or time.time() > deadline:
                return execs
            time.sleep(0.1)

    def stage_tasks(self, stage: tuple[int, int]) -> list:
        return self._get(f"/stages/{stage[0]}/{stage[1]}/taskList"
                         f"?offset=0&length=100000")

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
                   for r in self._get("/storage/rdd"))


def submission_epoch(execution: dict) -> float:
    ts = execution["submissionTime"].replace("GMT", "")
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


# ---------------------------------------------------------------------------
# plan nodes -> layers
# ---------------------------------------------------------------------------

# feature tables whose rows went through a Python battery
BATTERY_TABLES = {"features_text", "features_time", "features_quantity",
                  "features_globecoordinate"}
_WRITE_TOP = {"AdaptiveSparkPlan", "Execute InsertIntoHadoopFsRelationCommand",
              "WriteFiles", "Sort"}
_PYTHON_NODES = {"MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython",
                 "BatchEvalPython", "FlatMapCoGroupsInPandas"}


class Plan:
    def __init__(self, execution: dict):
        self.nodes = {n["nodeId"]: n for n in execution["nodes"]}
        self.children: dict[int, list[int]] = {i: [] for i in self.nodes}
        has_parent = set()
        for e in execution["edges"]:
            self.children.setdefault(e["toId"], []).append(e["fromId"])
            has_parent.add(e["fromId"])
        self.roots = [i for i, n in self.nodes.items()
                      if i not in has_parent and not self.is_codegen(n)]
        # the graph draws a subplan used several times (e.g. a persisted
        # DataFrame read by several branches) once per use, every copy
        # carrying the same accumulators: count such a node once
        seen, self.copies = set(), set()
        for i in sorted(self.nodes):
            n = self.nodes[i]
            key = (n["nodeName"], tuple(sorted(
                (m["name"], m["value"]) for m in n["metrics"])))
            if key in seen and any(m["value"] for m in n["metrics"]):
                self.copies.add(i)
            seen.add(key)

    @staticmethod
    def is_codegen(node) -> bool:
        return node["nodeName"].startswith("WholeStageCodegen")

    def operators(self):
        """(nodeId, node) of every node but the repeated copies."""
        return ((i, n) for i, n in self.nodes.items() if i not in self.copies)

    def metrics(self, nid: int) -> dict:
        return {m["name"]: m["value"] for m in self.nodes[nid]["metrics"]}

    def value(self, nid: int, name: str) -> float:
        text = self.metrics(nid).get(name)
        return metric_value(text) if text else 0.0

    def descendants_until(self, nid: int, stop: set[str]):
        """Nodes below ``nid``, not descending past nodes named in ``stop``
        (which are included)."""
        todo = list(self.children.get(nid, []))
        while todo:
            c = todo.pop()
            yield c
            if self.nodes[c]["nodeName"] not in stop:
                todo.extend(self.children.get(c, []))

    def regions(self, table: str | None, dedup: bool, diff_layer: str,
                eager: bool = False) -> dict:
        """nodeId -> layer for every operator node; ``diff_layer`` names
        the diff mode's layer.  ``eager`` marks jobs ``run_pipeline``
        itself runs (e.g. range-partition sampling), whose plans are the
        pipeline's own stages without a cache above them."""
        out: dict[int, str] = {}
        middle = "features" if (table or "").startswith("features_") \
            else "enrich"

        def walk(nid, region):
            name = self.nodes[nid]["nodeName"]
            if name == "InMemoryTableScan":
                out[nid] = "cache"
                for c in self.children.get(nid, []):
                    walk_cache(c)
                return
            if region == "materialize":
                if dedup and name == "Exchange":
                    out[nid] = "materialize"
                    for c in self.children.get(nid, []):
                        walk(c, middle)
                    return
                if not dedup and name not in _WRITE_TOP:
                    region = middle
            out[nid] = region
            for c in self.children.get(nid, []):
                walk(c, region)

        def walk_cache(nid):
            name = self.nodes[nid]["nodeName"]
            if name in _PYTHON_NODES:
                # parse is the Python node reading the scan directly
                below = {self.nodes[d]["nodeName"] for d in
                         self.descendants_until(
                             nid, {"Exchange"} | _PYTHON_NODES)}
                out[nid] = "parse" if any(b.startswith("Scan")
                                          for b in below) else diff_layer
            elif name.startswith("Scan"):
                out[nid] = "parse"
            elif name == "Exchange":
                out[nid] = diff_layer
            else:
                out[nid] = "cache"
            for c in self.children.get(nid, []):
                walk_cache(c)

        top = "materialize" if table else middle
        for r in self.roots:
            if eager:
                walk_cache(r)
            else:
                walk(r, top)
        return out

    def codegen_region(self, regions: dict) -> dict:
        """WholeStageCodegen node -> the layer of its fused operators, which
        directly follow it in node id order (codegen ids repeat between a
        plan and the cached plan inside it)."""
        out = {}
        for nid, n in self.nodes.items():
            m = re.match(r"WholeStageCodegen \((\d+)\)", n["nodeName"])
            member = self.nodes.get(nid + 1)
            if m and member and member.get("wholeStageCodegenId") \
                    == int(m.group(1)) and nid + 1 in regions:
                out[nid] = regions[nid + 1]
        return out


def _ratio_max_median(values: list[float]) -> float:
    values = [v for v in values if v is not None]
    if not values:
        return 0.0
    med = statistics.median(values) or statistics.fmean(values)
    return max(values) / med if med else 0.0


class LayerCollector:
    """Folds one op's spans and executions into the per-layer metrics."""

    def __init__(self, status: SparkStatus):
        self.status = status

    def collect(self, spans: list[dict], executions: list,
                dedup_tables: set[str], mode: str) -> dict:
        m = {k: 0.0 for k in LAYER_METRICS}
        diff_layer = "salted" if mode == "salted" else "diff"
        python_stage = {}  # layer -> (run time, stage) of its slowest node
        for ex in executions:
            span = _innermost(spans, submission_epoch(ex))
            if span is None:
                continue
            sname, table = span["name"], span.get("table")
            plan = Plan(ex)
            if sname in ("checkpoint.pending_buckets", "checkpoint.record"):
                for nid, n in plan.operators():
                    if n["nodeName"].startswith("Scan"):
                        m["checkpoint.watermark_rows_scanned"] += plan.value(
                            nid, "number of output rows")
                continue
            if sname == "pipeline.probe_max_page_revisions":
                continue
            dedup = table in dedup_tables
            regions = plan.regions(table, dedup, diff_layer,
                                   eager=sname == "pipeline.run_pipeline")
            regions.update(plan.codegen_region(regions))
            for nid, layer in regions.items():
                if nid not in plan.copies:
                    self._node(plan, nid, layer, m, python_stage)
            if table in BATTERY_TABLES:
                m["features.update_rows"] += sum(
                    plan.value(nid, "number of output rows")
                    for nid, n in plan.operators() if n["nodeName"]
                    == "Execute InsertIntoHadoopFsRelationCommand")
            if dedup:
                # rows into the PK dedup (its exchange is the write plan's
                # topmost one) minus rows it let through
                dedup_exchange = min((
                    nid for nid, layer in regions.items()
                    if layer == "materialize"
                    and plan.nodes[nid]["nodeName"] == "Exchange"),
                    default=None)
                into = plan.value(dedup_exchange, "records read") \
                    if dedup_exchange is not None else 0.0
                out = sum(plan.value(nid, "number of output rows")
                          for nid, n in plan.operators() if n["nodeName"]
                          == "Execute InsertIntoHadoopFsRelationCommand")
                if into:
                    m["materialize.pk_dropped_rows"] += into - out
        if diff_layer in python_stage:
            tasks = [t["taskMetrics"] for t in self.status.stage_tasks(
                python_stage[diff_layer][1]) if t.get("taskMetrics")]
            m[f"{diff_layer}.task_skew"] = _ratio_max_median(
                [t["executorRunTime"] for t in tasks])
            if diff_layer == "diff":
                reads = [t["shuffleReadMetrics"] for t in tasks]
                m["diff.exchange_skew"] = _ratio_max_median(
                    [r["localBytesRead"] + r["remoteBytesRead"]
                     for r in reads])
                m["diff.fetch_wait_s"] = sum(
                    r["fetchWaitTime"] for r in reads) / 1000.0
        return m

    @staticmethod
    def _node(plan, nid, layer, m, python_stage):
        name = plan.nodes[nid]["nodeName"]
        metrics = plan.metrics(nid)
        if name in _PYTHON_NODES and layer in ("parse", "diff", "salted",
                                               "features"):
            run = plan.value(nid, "time to run Python workers")
            m[f"{layer}.python_s"] += run
            # worker start-up is Spark's "time to start Python workers":
            # its "time to initialize" is measured from the moment a reused
            # worker went idle (pyspark/worker.py takes boot_time before
            # blocking on the next task), so it counts time in the pool
            if layer in ("parse", "diff"):
                m[f"{layer}.python_init_s"] += plan.value(
                    nid, "time to start Python workers")
            if layer == "parse":
                m["parse.bytes_to_python"] += plan.value(
                    nid, "data sent to Python workers")
                m["parse.bytes_from_python"] += plan.value(
                    nid, "data returned from Python workers")
            if layer in ("parse", "diff"):
                m[f"{layer}.rows_out"] += plan.value(
                    nid, "number of output rows")
            if layer == "features":
                m["features.distinct_pairs"] += plan.value(
                    nid, "number of output rows")
            stage = metric_stage(metrics.get(
                "time to run Python workers", ""))
            if layer in ("diff", "salted") and stage and run > \
                    python_stage.get(layer, (0.0, None))[0]:
                python_stage[layer] = (run, stage)
        elif name.startswith("Scan") and layer == "parse":
            m["parse.scan_bytes"] += plan.value(nid, "size of files read")
        elif name == "Exchange" and layer in ("diff", "salted"):
            m[f"{layer}.exchange_bytes"] += plan.value(
                nid, "shuffle bytes written")
        elif name == "BroadcastExchange" and layer == "enrich":
            m["enrich.broadcast_bytes"] += plan.value(nid, "data size")
        elif name.startswith("WholeStageCodegen") and layer == "enrich":
            m["enrich.jvm_s"] += plan.value(nid, "duration")
        elif name == "Execute InsertIntoHadoopFsRelationCommand":
            m["materialize.rows_written"] += plan.value(
                nid, "number of output rows")
            m["materialize.bytes_written"] += plan.value(nid, "written output")
            m["materialize.files_written"] += plan.value(
                nid, "number of written files")
        if layer == "materialize" and "spill size" in metrics:
            m["materialize.sort_spill_bytes"] += plan.value(nid, "spill size")


def _innermost(spans: list[dict], t: float) -> dict | None:
    inside = [s for s in spans if s["start"] <= t <= (s["end"] or t)]
    return max(inside, key=lambda s: s["start"]) if inside else None
