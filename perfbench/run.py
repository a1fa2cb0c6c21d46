"""KG build benchmark: closed-loop workloads through the public API.

    python3 perfbench/run.py --workload hot_pages --seed 1 --seconds 5 --trace 0

One client; the next op starts when the previous one returns.  Inputs come
from the seed alone (``workloads.py``), every op's output is checked against
the cleanroom replay, and the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` traces every op, reports the per-layer
metrics (``tracing.py``) and writes the spans under ``perfbench/.traces/``.

Workloads (``WORKLOADS`` sets each corpus shape):

* ``hot_pages``: a small balanced corpus plus two hot pages whose histories
  exceed the skew threshold, so ``mode="auto"`` picks the salted diff.  One
  op is ``run_pipeline(mode="auto")`` followed by ``write_table`` of the
  five change tables, ``entity_stats`` and the five feature tables, into an
  empty directory.
* ``resume``: a checkpointed base state is built before timing.  One op
  copies it, calls ``run_incremental`` on the input advanced by one
  revision for eight pages in each of two seed-chosen buckets (timed as
  ``resume_s``), then calls it again, which must be a no-op.

Everything the run writes stays under ``perfbench/.work`` and
``perfbench/.traces``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import threading
import time
from collections import Counter

_T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TRACES = os.path.join(HERE, ".traces")

MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4    # one per core; the diff runs 4x as many bucket tasks
DRIVER_MEMORY = "2g"      # explicit: build_session's default is 24g
MIN_OPS = 1
# hot_pages lowers the engine's per-cluster skew threshold
# (pipeline._auto_threshold) so that hot pages of a few hundred revisions
# cross it while every balanced page (3-8 revisions) stays far below
HOT_THRESHOLD = 100
HOT_REVISIONS = 120
ADVANCE_BUCKETS, ADVANCE_PAGES = 2, 8

# corpus shape per workload: balanced pages per seed-chosen bucket, plus
# hot pages
WORKLOADS = {
    "hot_pages": {"buckets": 2, "pages": 8, "hot_pages": 2},
    "resume": {"buckets": 4, "pages": 12, "hot_pages": 0},
}

END_TO_END = {
    "setup_s": "s", "build_s": "s", "resume_s": "s", "revisions_per_s": "1/s",
    "triples_per_s": "1/s", "peak_rss_mb": "MB", "triple_precision": "ratio",
    "triple_recall": "ratio",
}


def _environment(workload: str) -> None:
    """Keep the JVM, its Python workers and every temp file inside the
    checkout, and let the workers import the engine from source."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    if WORKLOADS[workload]["hot_pages"]:
        os.environ["WIDIFF_SKEW_THRESHOLD"] = str(HOT_THRESHOLD)
    else:
        os.environ.pop("WIDIFF_SKEW_THRESHOLD", None)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        "--conf spark.driver.bindAddress=127.0.0.1 "
        "--conf spark.driver.host=127.0.0.1 "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)


# ---------------------------------------------------------------------------
# host and process measurements
# ---------------------------------------------------------------------------

def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def _descendants(root: int) -> list[int]:
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(entry)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones split among the
    processes sharing them, so forked Python workers are not counted once
    per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PssSampler:
    """Peak summed proportional resident memory of the driver JVM and the
    Python workers (every process below this one), sampled on a thread."""

    def __init__(self, period: float = 0.5):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(
                _pss_bytes(p) for p in _descendants(me)))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------

class Bench:
    def __init__(self, workload: str, seed: int):
        import workloads  # noqa: F401 - loaded before setup_s is timed
        from widiff_spark import checkpoint, materialize, pipeline
        self.pipeline, self.materialize = pipeline, materialize
        self.modules = {"pipeline": pipeline, "materialize": materialize,
                        "checkpoint": checkpoint}
        self.workload, self.seed = workload, seed
        self.spark = None
        self.info: dict = {"workload": workload, "seed": seed}

    # -- session ------------------------------------------------------------
    def start_session(self):
        """Cold start: launches the driver JVM, builds the session and runs
        its first job, the skew probe over a two-page corpus."""
        import pandas as pd
        from workloads import hot_page_rows, write_docs
        self.spark = self.pipeline.build_session(
            "perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS,
            driver_memory=DRIVER_MEMORY)
        self.spark.sparkContext.setLogLevel("ERROR")
        rng = random.Random(0)
        rows = pd.DataFrame(hot_page_rows(rng, "Q42", "wd-warm", 4200, 6)
                            + hot_page_rows(rng, "Q43", "wd-warm", 4300, 6))
        self.pipeline.probe_max_page_revisions(
            write_docs(self.spark, rows, f"{WORK}/warm-docs", n_files=1))

    def clean(self):
        """Between ops: drop every cached table (the salted diff persists
        intermediates that ``PipelineResult.unpersist`` does not release)
        and collect garbage on both sides."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    # -- inputs ---------------------------------------------------------------
    def prepare(self):
        """Generate the inputs and the oracle (untimed)."""
        import pandas as pd
        from workloads import Oracle, bulk_corpus, write_docs
        t0 = time.perf_counter()
        rng = random.Random(self.seed * 7919 + 1)
        shape = WORKLOADS[self.workload]
        rows, buckets = bulk_corpus(self.spark, self.seed, shape["buckets"],
                                    shape["pages"])
        rows = pd.concat([rows] + [self._hot_page(rng, k)
                                   for k in range(shape["hot_pages"])],
                         ignore_index=True)
        self.info.update(buckets=buckets)
        if self.workload == "resume":
            base_docs = write_docs(self.spark, rows, f"{WORK}/base-docs")
            rows = self._advance(rng, rows, buckets)
        self.docs = write_docs(self.spark, rows, f"{WORK}/docs")
        self.n_revisions = len(rows)
        self.oracle = Oracle(rows, features=self.workload != "resume")
        self.info.update(revisions=len(rows),
                         oracle_triples=sum(self.oracle.triples.values()))
        if self.workload == "resume":
            # the checkpointed base state every op starts from; building it
            # also warms the JVM and the Python workers before timing
            t1 = time.perf_counter()
            self.base_dir = f"{WORK}/base-state"
            self.pipeline.run_incremental(self.spark, base_docs,
                                          self.base_dir)
            self.base_triples = self.pipeline.triples(
                self.materialize.read_table(self.spark, self.base_dir,
                                            "value_change")).count()
            self.clean()
            self.info["base_build_s"] = round(time.perf_counter() - t1, 3)
        self.info["prepare_s"] = round(time.perf_counter() - t0, 3)

    def _hot_page(self, rng, k: int):
        import pandas as pd
        from workloads import hot_page_rows
        path = f"Q{90_000_000 + rng.randrange(1_000_000) * 10 + k}"
        first_rid = 5_000_000_000 + rng.randrange(10 ** 6) * 1000
        return pd.DataFrame(hot_page_rows(rng, path, f"wd-hot-{k}",
                                          first_rid, HOT_REVISIONS))

    def _advance(self, rng, rows, buckets):
        """Base rows plus one new revision for each of the first
        ADVANCE_PAGES pages of ADVANCE_BUCKETS seed-chosen buckets (pages
        ending in a redirect get none), so every seed adds as many."""
        import pandas as pd
        from workloads import advance_rows
        chosen = sorted(rng.sample(buckets, ADVANCE_BUCKETS))
        last = rows[rows["bucket"].isin(chosen)].groupby(
            ["repo", "path"]).tail(1)
        new = (pd.DataFrame(advance_rows(last, 50, 60))
               .merge(last[["repo", "path", "bucket"]], on=["repo", "path"])
               .groupby("bucket").head(ADVANCE_PAGES))
        self.n_new = len(new)
        self.expect_buckets = sorted(new["bucket"].unique().tolist())
        self.info.update(new_revisions=len(new),
                         advance_buckets=self.expect_buckets)
        return pd.concat([rows, new], ignore_index=True)

    # -- ops ------------------------------------------------------------------
    def timed_op(self) -> tuple[dict, str]:
        """One op: the timed calls and the record of their walls.  Returns
        the record and the directory holding the op's tables."""
        out = f"{WORK}/op-state"
        shutil.rmtree(out, ignore_errors=True)
        rec: dict = {"errors": []}
        if self.workload != "resume":
            t0 = time.perf_counter()
            res = self.pipeline.run_pipeline(self.spark, self.docs,
                                             mode="auto")
            names = self.pipeline.CHANGE_TABLES + ["entity_stats"] + sorted(
                n for n in res.tables if n.startswith("features_"))
            for name in names:
                self.materialize.write_table(res.tables[name], out, name)
            wall = time.perf_counter() - t0
            res.unified.unpersist(blocking=True)
            rec.update(build_s=wall, resume_s=wall, mode=res.mode,
                       revisions=self.n_revisions)
        else:
            shutil.copytree(self.base_dir, out)
            t0 = time.perf_counter()
            first = self.pipeline.run_incremental(self.spark, self.docs, out)
            t1 = time.perf_counter()
            second = self.pipeline.run_incremental(self.spark, self.docs, out)
            t2 = time.perf_counter()
            rec.update(build_s=t2 - t0, resume_s=t1 - t0, noop_s=t2 - t1,
                       revisions=self.n_new,
                       buckets_redone=len(first["processed_buckets"]))
            if first["processed_buckets"] != self.expect_buckets:
                rec["errors"].append(
                    f"advanced buckets {first['processed_buckets']} != "
                    f"{self.expect_buckets}")
            if second["processed_buckets"]:
                rec["errors"].append("second run_incremental was not a no-op")
        return rec, out

    def check(self, out: str, rec: dict):
        """Materialized tables against the cleanroom replay of the same
        input, a from-scratch build that shares no code with the engine:
        the exact multiset of change triples (P/R) and, per table, of the
        checked columns (``workloads.CHECKED``).  One Spark job reads back
        all of it."""
        from functools import reduce
        from pyspark.sql import functions as F
        from workloads import (CHECKED, precision_recall, row_key,
                               triple_key)

        def read(name):
            return self.materialize.read_table(self.spark, out, name)

        def tagged(tag, df):
            return df.select(F.lit(tag).alias("t"), *[
                F.col(c).cast("string").alias(f"c{i}")
                for i, c in enumerate(df.columns)])

        tables = [t for t in CHECKED if t in self.oracle.rows]
        parts = [tagged("triple", self.pipeline.triples(read("value_change")))]
        parts += [tagged(t, read(t).select(*CHECKED[t])) for t in tables]
        got = reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True),
                     parts).toPandas()
        rows = {t: [tuple(r) for r in g.drop(columns="t").itertuples(
                    index=False)] for t, g in got.groupby("t")}

        engine = Counter(triple_key(*r[:6]) for r in rows.get("triple", []))
        p, r = precision_recall(engine, self.oracle.triples)
        n = sum(engine.values())
        rec.update(precision=p, recall=r, triples=n - (
            self.base_triples if self.workload == "resume" else 0))
        if p != 1.0 or r != 1.0:
            rec["errors"].append(f"triple P/R {p:.6f}/{r:.6f}")
        for t in tables:
            width = len(CHECKED[t])
            have = Counter(row_key(v[:width]) for v in rows.get(t, []))
            want = self.oracle.rows[t]
            if have != want:
                rec["errors"].append(
                    f"{t}: {sum((have - want).values())} rows not in the "
                    f"oracle, {sum((want - have).values())} missing")

    def close(self):
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while _descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)


def _median(values):
    return statistics.median(values) if values else 0.0


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    bench = Bench(workload, seed)
    try:
        t0 = time.perf_counter()
        bench.start_session()
        setup = time.perf_counter() - t0
        bench.prepare()
        measure = _measure_traced if trace else _measure
        t0 = time.perf_counter()
        out = measure(bench, seconds)
        bench.info["measure_s"] = round(time.perf_counter() - t0, 3)
        return out | {"setup_s": setup, "info": bench.info}
    finally:
        t0 = time.perf_counter()
        bench.close()
        bench.info["close_s"] = round(time.perf_counter() - t0, 3)


def _loop(bench, seconds, one_op):
    """Closed loop: ops back to back until ``seconds`` have passed and at
    least ``MIN_OPS`` ran.  An op that raises counts as failed."""
    recs, n, t_start = [], 0, time.perf_counter()
    ticks0 = _cpu_ticks()
    while n < MIN_OPS or time.perf_counter() - t_start < seconds:
        try:
            rec = one_op()
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            import traceback
            traceback.print_exc(file=sys.stderr)
            rec = {"errors": [f"{type(exc).__name__}: {exc}"]}
        recs.append(rec)
        bench.clean()
        n += 1
    ticks1 = _cpu_ticks()
    total = ticks1[0] - ticks0[0]
    bench.info["host"] = {
        "nproc": len(os.sched_getaffinity(0)),
        "steal_share": round((ticks1[1] - ticks0[1]) / total, 4)
        if total else 0.0,
        "loadavg": os.getloadavg()}
    return recs


def _op(bench) -> dict:
    rec, out = bench.timed_op()
    bench.check(out, rec)
    return rec


def _measure(bench, seconds) -> dict:
    with PssSampler() as rss:
        recs = _loop(bench, seconds, lambda: _op(bench))
    ok = [r for r in recs if not r["errors"]]
    m = {
        "build_s": _median([r["build_s"] for r in ok]),
        "resume_s": _median([r["resume_s"] for r in ok]),
        "revisions_per_s": _median([r["revisions"] / r["resume_s"]
                                    for r in ok]),
        "triples_per_s": _median([r["triples"] / r["resume_s"] for r in ok]),
        "peak_rss_mb": rss.peak / 2 ** 20,
        "triple_precision": min((r.get("precision", 0.0) for r in recs),
                                default=0.0),
        "triple_recall": min((r.get("recall", 0.0) for r in recs),
                             default=0.0),
    }
    return {"recs": recs, "metrics": m}


def _measure_traced(bench, seconds) -> dict:
    from tracing import LAYER_METRICS, LayerCollector, SparkStatus, Tracer
    from widiff_spark.schema import TABLE_PKS
    status = SparkStatus(bench.spark.sparkContext)
    cache = {"bytes": 0}

    def after_write():
        cache["bytes"] = max(cache["bytes"], status.cached_bytes())

    tracer = Tracer(after_write=after_write)
    collector = LayerCollector(status)
    layers = []

    def one_op():
        n = len(layers)
        tracer.op, tracer.results, tracer.self_s, cache["bytes"] = \
            n, [], 0.0, 0
        before = status.last_execution_id()
        with tracer.instrument(bench.modules):
            rec, out = bench.timed_op()
        # the op's executions only: the correctness read-back comes after
        execs = status.executions_after(before)
        spans = tracer.op_spans(n)
        res = tracer.results[-1] if tracer.results else None
        mode = res.mode if res is not None else "grouped"
        lm = collector.collect(spans, execs, set(TABLE_PKS), mode)
        lm.update(_span_metrics(spans, rec, lm))
        lm["pipeline.salted_chosen"] = float(mode == "salted")
        lm["pipeline.cache_bytes"] = float(cache["bytes"])
        lm["trace.op_s"] = rec["build_s"]
        lm["trace.overhead"] = rec["build_s"] / (rec["build_s"]
                                                 - tracer.self_s)
        if res is not None:
            lm["parse.quarantined"] = float(res.tables["quarantine"].count())
        lm.update(_revert_counts(bench, out))
        if lm["features.distinct_pairs"]:
            lm["features.pair_reuse"] = (lm["features.update_rows"]
                                         / lm["features.distinct_pairs"])
        layers.append(lm)
        bench.check(out, rec)
        return rec

    recs = _loop(bench, seconds, one_op)
    m = {k: _median([lm[k] for lm in layers]) for k in LAYER_METRICS}
    os.makedirs(TRACES, exist_ok=True)
    tracer.write(os.path.join(
        TRACES, f"{bench.workload}-seed{bench.seed}.jsonl"))
    return {"recs": recs, "metrics": m}


def _span_metrics(spans: list[dict], rec: dict, lm: dict) -> dict:
    def total(name, phase=None):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name
                   and (phase is None or _phase(spans, s) == phase))

    layer_spans = sum(total(n) for n in (
        "pipeline.run_pipeline", "materialize.write_table",
        "checkpoint.pending_buckets", "checkpoint.record"))
    out = {
        "pipeline.probe_s": total("pipeline.probe_max_page_revisions"),
        "pipeline.plan_s": total("pipeline.run_pipeline")
        - total("pipeline.probe_max_page_revisions"),
        "materialize.write_s": total("materialize.write_table"),
        "trace.span_coverage": layer_spans / rec["build_s"],
    }
    if "noop_s" in rec:
        new = rec["revisions"]
        out.update({
            "checkpoint.pending_s": total("checkpoint.pending_buckets", 0),
            "checkpoint.record_s": total("checkpoint.record", 0),
            "checkpoint.noop_s": rec["noop_s"],
            "checkpoint.buckets_redone": float(rec["buckets_redone"]),
            "checkpoint.rework_ratio": lm["parse.rows_out"] / new
            if new else 0.0,
        })
    return out


def _phase(spans: list[dict], span: dict) -> int | None:
    """Index of the top-level ``run_incremental`` call a span sits under."""
    calls = [s for s in spans if s["name"] == "pipeline.run_incremental"]
    for i, c in enumerate(calls):
        if c["start"] <= span["start"] and span["end"] <= c["end"]:
            return i
    return None


def _revert_counts(bench, out: str) -> dict:
    from pyspark.sql import functions as F
    vc = bench.materialize.read_table(bench.spark, out, "value_change") \
        .filter(F.col("change_target") == "")
    row = vc.agg(F.sum("is_reverted").alias("a"),
                 F.sum("reversion").alias("b")).first()
    return {"revert.reverted_rows": float(row["a"] or 0),
            "revert.reversion_rows": float(row["b"] or 0)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "widiff_spark")):
        print("perfbench: widiff_spark/ not found beside perfbench/",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    _environment(args.workload)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    recs = out["recs"]
    failed = sum(1 for r in recs if r["errors"])
    metrics = out["metrics"]
    if args.trace:
        from tracing import LAYER_METRICS
        units = {k: v[0] for k, v in LAYER_METRICS.items()}
    else:
        metrics["setup_s"] = out["setup_s"]
        units = END_TO_END
    out["info"].update(setup_s=round(out["setup_s"], 3),
                       process_s=round(time.perf_counter() - _T_START, 3))
    print("perfbench info: " + json.dumps(out["info"]))
    print("perfbench ops: " + json.dumps([
        {k: (round(v, 4) if isinstance(v, float) else v)
         for k, v in r.items()} for r in recs]))
    print("perfbench: failed_op_share "
          f"{failed / len(recs):.4f} (ops attempted {len(recs)})")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(recs), "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
