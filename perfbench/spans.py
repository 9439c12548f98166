"""Layer trace for the traced run: spans around the engine's public
calls, each annotated from Spark's core and SQL status stores.

Jobs belong to a span when their id was handed out while the span was
open (the DAG scheduler's job counter, read before and after), not by
job group: micro-batch jobs of a streaming query run on the stream's
own thread and never carry the caller's group. The status stores fill
asynchronously, so each span drains the listener bus before reading.
Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time


class NullTracer:
    """The untraced run: every hook is free."""

    phase = "setup"

    @contextlib.contextmanager
    def span(self, name, request=None):
        yield {}

    def patch(self, module, attr, name, observe=None):
        pass

    def unpatch(self):
        pass

    def count(self, name, n=1):
        pass


class Tracer:
    """Spans with status-store deltas. ``patch`` wraps a module-level
    function so that calls made inside an open span (the engine calling
    its own layers) become child spans."""

    def __init__(self, spark):
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        self._quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._gateway.jvm.double, 0
        )
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.samples: dict[str, list] = {}
        self.stack: list[int] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self._patched: list[tuple] = []

    def count(self, name, n=1):
        self.counters[name] = self.counters.get(name, 0) + n

    def sample(self, name, value):
        self.samples.setdefault(name, []).append(value)

    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name, request=None):
        t0 = time.perf_counter()
        self.jsc.listenerBus().waitUntilEmpty()
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": self.stack[-1] if self.stack else None,
            "request": request,
            "phase": self.phase,
            "first_job": self._next_job(),
            "sql_before": int(self.sql_store.executionsCount()),
        }
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self.overhead_s += time.perf_counter() - t0
        rec["start_ms"] = time.time() * 1000.0
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec["end_ms"] = rec["start_ms"] + rec["wall_s"] * 1000.0
            t1 = time.perf_counter()
            self.stack.pop()
            rec["end_job"] = self._next_job()
            self.jsc.listenerBus().waitUntilEmpty()
            rec["sql_executions"] = (
                int(self.sql_store.executionsCount()) - rec.pop("sql_before")
            )
            self._annotate(rec)
            self.overhead_s += time.perf_counter() - t1

    def _annotate(self, rec: dict) -> None:
        store = self.jsc.statusStore()
        keys = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
                "jvm_gc_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")
        tot = dict.fromkeys(keys, 0.0)
        intervals = []
        first_job_ms = None
        for job_id in range(rec["first_job"], rec["end_job"]):
            try:
                job = store.job(job_id)
            except Exception:  # noqa: BLE001 -- job evicted or not posted
                continue
            sub = job.submissionTime()
            if sub.isDefined():
                s_ms = float(sub.get().getTime())
                done = job.completionTime()
                e_ms = float(done.get().getTime()) if done.isDefined() else rec["end_ms"]
                intervals.append((s_ms, e_ms))
                first_job_ms = s_ms if first_job_ms is None else min(first_job_ms, s_ms)
            ids = job.stageIds()
            for i in range(ids.size()):
                attempts = store.stageData(
                    ids.apply(i), False, None, False, self._quantiles
                )
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    if st.status().toString() == "SKIPPED":
                        continue
                    tot["stages"] += 1
                    tot["tasks"] += st.numCompleteTasks()
                    tot["executor_run_s"] += st.executorRunTime() / 1e3
                    tot["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    tot["jvm_gc_s"] += st.jvmGcTime() / 1e3
                    tot["input_bytes"] += st.inputBytes()
                    tot["shuffle_read_bytes"] += st.shuffleReadBytes()
                    tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    tot["spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
        rec.update(tot)
        rec["jobs"] = rec["end_job"] - rec["first_job"]
        rec["no_job_s"] = max(
            0.0, rec["wall_s"] - _covered_ms(
                intervals, rec["start_ms"], rec["end_ms"]) / 1e3
        )
        rec["before_first_job_s"] = (
            rec["wall_s"] if first_job_ms is None
            else min(rec["wall_s"], max(0.0, (first_job_ms - rec["start_ms"]) / 1e3))
        )

    def patch(self, module, attr, name, observe=None):
        """Replace ``module.attr`` with a wrapper that records a light
        child span (wall time and job ids only, no status-store reads)
        while a parent span is open, and hands the call's result to
        ``observe(tracer, result)``. The engine resolves these names at
        call time, so its own calls go through the wrapper; calls the
        benchmark makes outside any span are not recorded."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.stack:
                return original(*args, **kwargs)
            rec = {"name": name, "id": len(self.spans),
                   "parent": self.stack[-1], "request": None,
                   "phase": self.phase, "first_job": self._next_job()}
            self.spans.append(rec)
            start = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                rec["wall_s"] = time.perf_counter() - start
                rec["end_job"] = self._next_job()
                rec["jobs"] = rec["end_job"] - rec["first_job"]
            if observe is not None:
                observe(self, result)
            return result

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, original))

    def unpatch(self):
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters,
                       "samples": self.samples, **extra}, f)


def _covered_ms(intervals, lo, hi) -> float:
    """Length of the union of [s, e] intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _named(spans, name):
    """Spans of one name, from the timed phase when it has any (set-up
    spans otherwise: ``serve`` builds its index only in set-up)."""
    named = [s for s in spans if s["name"] == name]
    timed = [s for s in named if s["phase"] == "timed"]
    return timed or named


def _median(values, scale=1.0):
    values = list(values)
    return statistics.median(values) * scale if values else 0.0


# Per-layer metric -> (unit, function of (spans, counters)). A layer the
# workload does not exercise reads 0.
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "jvm_gc_s", "no_job_s", "input_bytes", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes")


def _span_stat(name, key, scale=1.0):
    """Median of one span field over the spans of one name."""
    return lambda spans, c, smp: _median((s[key] for s in _named(spans, name)), scale)


def _counter(name):
    return lambda spans, c, smp: float(c.get(name, 0))


def _sampled(name):
    """Median of the values the engine's own calls returned."""
    return lambda spans, c, smp: _median(smp.get(name, ()))


def _request_no_job_ms(spans, c, smp):
    by_req: dict = {}
    for s in spans:
        if s["phase"] == "timed" and s["name"] in (
                "serving.query", "serving.query.collect"):
            by_req[s["request"]] = by_req.get(s["request"], 0.0) + s["no_job_s"]
    return _median(by_req.values(), 1e3)


def _per_round(name_a, name_b, key):
    def f(spans, c, smp):
        a = _named(spans, name_a)
        b = _named(spans, name_b)
        return (sum(s[key] for s in a + b) / len(a)) if a else 0.0
    return f


def _top(spans):
    return [s for s in spans if s["parent"] is None and s["phase"] == "timed"]


PER_LAYER = {
    "hashing.embed_query_text_us": ("us", _span_stat("hashing.embed_query_text", "wall_s", scale=1e6)),
    "hashing.texts_embedded": ("count", _counter("hashing.texts_embedded")),
    "ingest.ingest_documents_s": ("s", _span_stat("ingest.ingest_documents", "wall_s")),
    "ingest.write_ingest_s": ("s", _span_stat("ingest.write_ingest", "wall_s")),
    "ingest.jobs": ("count", _per_round("ingest.ingest_documents", "ingest.write_ingest", "jobs")),
    "ingest.shuffle_write_bytes": ("B", _per_round("ingest.ingest_documents", "ingest.write_ingest", "shuffle_write_bytes")),
    "txlog.commits": ("count", _counter("txlog.commits")),
    "txlog.live_files": ("count", _counter("txlog.live_files")),
    "txlog.disk_files": ("count", _counter("txlog.disk_files")),
    "txlog.read_table_any_ms": ("ms", _span_stat("txlog.read_table_any", "wall_s", scale=1e3)),
    "txlog.tx_vacuum_s": ("s", _span_stat("txlog.tx_vacuum", "wall_s")),
    "ivf.build_ivf_index_s": ("s", _span_stat("ivf.build_ivf_index", "wall_s")),
    "ivf.jobs": ("count", lambda sp, c, smp: float(sum(s["jobs"] for s in _named(sp, "ivf.build_ivf_index") + _named(sp, "ivf.save")))),
    "pq.train_pq_s": ("s", _span_stat("pq.train_pq", "wall_s")),
    "pq.encode_pq_s": ("s", _span_stat("pq.encode_pq", "wall_s")),
    "pq.ivf_pq_search_call_ms": ("ms", _span_stat("pq.ivf_pq_search", "wall_s", scale=1e3)),
    "pq.probed_leaves": ("count", _sampled("pq.probed_leaves")),
    "serving.query_call_ms": ("ms", _span_stat("serving.query", "wall_s", scale=1e3)),
    "serving.query_collect_ms": ("ms", _span_stat("serving.query.collect", "wall_s", scale=1e3)),
    "serving.query_stages": ("count", _span_stat("serving.query.collect", "stages")),
    "serving.query_tasks": ("count", _span_stat("serving.query.collect", "tasks")),
    "serving.query_no_job_ms": ("ms", _request_no_job_ms),
    "serving.batch_call_ms": ("ms", _span_stat("serving.query_batch", "before_first_job_s", scale=1e3)),
    "serving.batch_collect_ms": ("ms", lambda sp, c, smp: _median(
        (s["wall_s"] - s["before_first_job_s"] for s in _named(sp, "serving.query_batch")), 1e3)),
    "serving.refresh_s": ("s", _span_stat("serving.refresh", "wall_s")),
    "serving.refresh_jobs": ("count", _span_stat("serving.refresh", "jobs")),
    "serving.is_stale_ms": ("ms", _span_stat("serving.is_stale", "wall_s", scale=1e3)),
    "ivf_stream.epoch_s": ("s", _span_stat("ivf_stream.merge", "wall_s")),
    "ivf_stream.epoch_jobs": ("count", _span_stat("ivf_stream.merge", "jobs")),
    "ivf_stream.jobs_per_update": ("count", _span_stat("churn.update", "jobs")),
    "maintenance.maintain_s": ("s", _span_stat("maintenance.maintain_index", "wall_s")),
    "maintenance.heal_gc_s": ("s", _counter("maintenance.heal_gc_s")),
    "maintenance.compact_s": ("s", _counter("maintenance.compact_s")),
    "maintenance.drift_s": ("s", _counter("maintenance.drift_s")),
    "maintenance.files_before": ("count", _counter("maintenance.files_before")),
    "maintenance.files_after": ("count", _counter("maintenance.files_after")),
    "spark.busy_ratio": ("ratio", None),
    **{f"spark.{k}": ("count" if k in ("jobs", "stages", "tasks") else
                      "s" if k.endswith("_s") else "B", None)
       for k in SPARK_KEYS},
}


def per_layer_metrics(tracer: Tracer) -> dict:
    """Every per-layer metric from the spans and counters. The
    ``spark.*`` figures are sums over the top-level spans of the timed
    phase; ``busy_ratio`` is executor run time over cores x wall."""
    spans = tracer.spans
    out = {}
    for name, (unit, fn) in PER_LAYER.items():
        if fn is not None:
            out[name] = {"value": float(fn(spans, tracer.counters, tracer.samples)),
                         "unit": unit}
    top = _top(spans)
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = {"value": float(sum(s[k] for s in top)),
                             "unit": PER_LAYER[f"spark.{k}"][0]}
    wall = sum(s["wall_s"] for s in top)
    out["spark.busy_ratio"] = {
        "value": out["spark.executor_run_s"]["value"] / (tracer.cores * wall) if wall else 0.0,
        "unit": "ratio",
    }
    return out
