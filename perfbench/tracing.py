"""Tracing from outside the engine, for ``--trace 1`` runs only.

Spans wrap the engine's public entry points (module attributes and class
methods are replaced for the life of the run, then restored). Spark work
is attributed to spans afterwards from Spark's own REST status API: a job
belongs to every span whose interval holds the job's submission time.
Job groups are not used, because Structured Streaming sets its own inside
``foreachBatch``. Python UDF time comes from Spark's UDF perf profiler.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
import urllib.request
from datetime import datetime, timezone

from harness import median

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "session.build_s": "s",
    "functions.udfs.python_s": "s",
    "functions.udfs.rows": "count",
    "sources.lake.merge.wall_s": "s",
    "sources.lake.merge.task_s": "s",
    "sources.lake.merge.cpu_s": "s",
    "sources.lake.merge.gc_s": "s",
    "sources.lake.merge.shuffle_write_bytes": "bytes",
    "sources.lake.merge.bytes_written": "bytes",
    "sources.lake.merge.files_written": "count",
    "sources.lake.merge.task_skew": "ratio",
    "operators.dedup.choose_strategies_s": "s",
    "operators.dedup.choose_strategies.salted": "count",
    "operators.dedup.choose_strategies.n_salts": "count",
    "operators.dedup.choose_strategies.thin": "count",
    "ingest.apply_batch.wall_p50_s": "s",
    "ingest.apply_batch.spark_jobs_per_call": "count",
    "ingest.apply_batch.driver_s_per_call": "s",
    "streaming.tail.trigger_p50_s": "s",
    "streaming.tail.add_batch_p50_s": "s",
    "streaming.tail.overhead_p50_s": "s",
    "streaming.tail.epochs": "count",
    "streaming.tail.restart_s": "s",
    "sources.catalog.record_lineage_s": "s",
    "sources.catalog.commit_marker_s": "s",
    "sources.catalog.low_watermark_calls": "count",
    "sources.catalog.low_watermark_s": "s",
    "sources.catalog.lineage_files": "count",
    "sources.lake.manifest.calls": "count",
    "sources.lake.manifest.wall_s": "s",
    "sources.lake.files_live": "count",
    "sources.lake.compact_partial.calls": "count",
    "sources.lake.compact_partial.wall_s": "s",
    "sources.lake.compact_partial.bytes_rewritten": "bytes",
    "sources.lake.lookup.spark_jobs_per_call": "count",
    "sources.lake.lookup.rows_read_per_row_returned": "ratio",
    "sources.lake.changes_since.files_read": "count",
    "sources.lake.snapshot.delta_files_resolved": "count",
}

# (dotted owner, attribute, span name); owners are modules or classes
TARGETS = [
    ("pyorchdb_spark.session", "build_session", "session.build_session"),
    ("pyorchdb_spark.ingest", "replay", "ingest.replay"),
    ("pyorchdb_spark.ingest", "apply_batch", "ingest.apply_batch"),
    # tail.py binds apply_batch at import time; wrap that binding too
    ("pyorchdb_spark.streaming.tail", "apply_batch", "ingest.apply_batch"),
    ("pyorchdb_spark.streaming.tail", "tail_events", "streaming.tail.tail_events"),
    ("pyorchdb_spark.operators.dedup", "choose_strategies", "operators.dedup.choose_strategies"),
    ("pyorchdb_spark.sources.lake.LakeTable", "merge", "sources.lake.merge"),
    ("pyorchdb_spark.sources.lake.LakeTable", "compact_partial", "sources.lake.compact_partial"),
    ("pyorchdb_spark.sources.lake.LakeTable", "snapshot", "sources.lake.snapshot"),
    ("pyorchdb_spark.sources.lake.LakeTable", "lookup", "sources.lake.lookup"),
    ("pyorchdb_spark.sources.lake.LakeTable", "changes_since", "sources.lake.changes_since"),
    ("pyorchdb_spark.sources.lake.LakeTable", "manifest", "sources.lake.manifest"),
    ("pyorchdb_spark.sources.catalog.BatchLedger", "record_lineage", "sources.catalog.record_lineage"),
    ("pyorchdb_spark.sources.catalog.BatchLedger", "commit_marker", "sources.catalog.commit_marker"),
    ("pyorchdb_spark.sources.catalog.BatchLedger", "low_watermark", "sources.catalog.low_watermark"),
]


def _resolve(dotted: str):
    import importlib

    parts = dotted.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ImportError(dotted)


class Span:
    __slots__ = ("name", "t0", "t1", "parent", "info")

    def __init__(self, name: str, t0: float, parent: "Span | None"):
        self.name, self.t0, self.t1, self.parent, self.info = name, t0, None, parent, {}


class Tracer:
    """In-memory spans; a thread-local stack gives each span its parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._saved: list[tuple[object, str, object]] = []
        self.on_return: dict[str, object] = {}

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                stack = tracer._stack()
                s = Span(name, time.time(), stack[-1] if stack else None)
                stack.append(s)
                self.s = s
                return s

            def __exit__(self, *exc):
                self.s.t1 = time.time()
                tracer._stack().pop()
                with tracer._lock:
                    tracer.spans.append(self.s)

        return _Ctx()

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name) as s:
                out = fn(*a, **kw)
                hook = tracer.on_return.get(name)
                if hook is not None:
                    hook(s, a, kw, out)
                return out

        traced.__wrapped_by_perfbench__ = fn
        return traced

    def install(self) -> None:
        for owner_name, attr, name in TARGETS:
            owner = _resolve(owner_name)
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def of(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.t0 >= since]


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class SparkStatus:
    """Jobs and stages of the live application, from the UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def load(self) -> None:
        self.jobs = []
        for j in self._get("/jobs"):
            sub, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if sub is not None:
                self.jobs.append({"id": j["jobId"], "t0": sub, "t1": end or sub, "stages": j["stageIds"]})
        self.stages = {}
        for s in self._get("/stages?status=complete"):
            self.stages[s["stageId"]] = s

    def task_skew(self, stage: dict) -> float | None:
        """max / median task run time of one stage attempt."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else None

    def jobs_in(self, spans: list[Span]) -> list[dict]:
        return [j for j in self.jobs if any(s.t0 <= j["t0"] <= s.t1 for s in spans)]

    def stages_of(self, jobs: list[dict]) -> list[dict]:
        ids = {sid for j in jobs for sid in j["stages"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur0, cur1 = 0.0, None, None
    for a, b in clipped:
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def udf_profile(spark) -> tuple[float, int]:
    """(Python seconds inside UDFs, rows through ``normalize_path``) from
    the perf profiler's accumulated pstats."""
    results = spark._profiler_collector._perf_profile_results
    secs, rows = 0.0, 0
    for stats in results.values():
        secs += stats.total_tt
        for (filename, _line, func), (_cc, nc, *_rest) in stats.stats.items():
            if func == "_norm_one" and filename.endswith("udfs.py"):
                rows += nc
    return secs, rows


def layer_metrics(tr: Tracer, status: SparkStatus, since: float, extra: dict) -> dict:
    """Per-layer figures of the measured phase (spans starting at/after
    ``since``); ``extra`` carries what the workload measured itself."""
    out: dict[str, float] = {}

    def per_call(total: float, n: int) -> float:
        return total / n if n else 0.0

    # merges: wall, task metrics, bytes, skew of the LWW reduce stage
    merges = tr.of("sources.lake.merge", since)
    mjobs = status.jobs_in(merges)
    mstages = status.stages_of(mjobs)
    n = len(merges)
    out["sources.lake.merge.wall_s"] = per_call(sum(s.t1 - s.t0 for s in merges), n)
    out["sources.lake.merge.task_s"] = per_call(sum(s["executorRunTime"] for s in mstages) / 1e3, n)
    out["sources.lake.merge.cpu_s"] = per_call(sum(s["executorCpuTime"] for s in mstages) / 1e9, n)
    out["sources.lake.merge.gc_s"] = per_call(sum(s["jvmGcTime"] for s in mstages) / 1e3, n)
    out["sources.lake.merge.shuffle_write_bytes"] = per_call(sum(s["shuffleWriteBytes"] for s in mstages), n)
    out["sources.lake.merge.bytes_written"] = per_call(sum(s.info.get("bytes", 0) for s in merges), n)
    out["sources.lake.merge.files_written"] = per_call(sum(s.info.get("files", 0) for s in merges), n)
    skews = [
        k
        for st in mstages
        if st["shuffleReadBytes"] > 0 and st["outputBytes"] > 0 and st["numTasks"] > 1
        and (k := status.task_skew(st)) is not None
    ]
    out["sources.lake.merge.task_skew"] = median(skews) if skews else 0.0

    cs = tr.of("operators.dedup.choose_strategies")
    out["operators.dedup.choose_strategies_s"] = median([s.t1 - s.t0 for s in cs])
    dec = cs[-1].info.get("decision") if cs else None
    out["operators.dedup.choose_strategies.salted"] = float(bool(dec and dec[0]))
    out["operators.dedup.choose_strategies.n_salts"] = float(dec[1]) if dec and dec[0] else 0.0
    out["operators.dedup.choose_strategies.thin"] = float(bool(dec and dec[2]))

    builds = tr.of("session.build_session")
    out["session.build_s"] = median([s.t1 - s.t0 for s in builds])

    applies = [s for s in tr.of("ingest.apply_batch", since) if s.info.get("applied", True)]
    ajobs = [status.jobs_in([s]) for s in applies]
    out["ingest.apply_batch.wall_p50_s"] = median([s.t1 - s.t0 for s in applies])
    out["ingest.apply_batch.spark_jobs_per_call"] = per_call(sum(len(j) for j in ajobs), len(applies))
    out["ingest.apply_batch.driver_s_per_call"] = per_call(
        sum(
            (s.t1 - s.t0) - busy_seconds([(j["t0"], j["t1"]) for j in jobs], s.t0, s.t1)
            for s, jobs in zip(applies, ajobs)
        ),
        len(applies),
    )

    for name in ("record_lineage", "commit_marker"):
        sp = tr.of(f"sources.catalog.{name}", since)
        out[f"sources.catalog.{name}_s"] = per_call(sum(s.t1 - s.t0 for s in sp), len(sp))
    lw = tr.of("sources.catalog.low_watermark", since)
    out["sources.catalog.low_watermark_calls"] = float(len(lw))
    out["sources.catalog.low_watermark_s"] = per_call(sum(s.t1 - s.t0 for s in lw), len(lw))

    man = tr.of("sources.lake.manifest", since)
    out["sources.lake.manifest.calls"] = float(len(man))
    out["sources.lake.manifest.wall_s"] = sum(s.t1 - s.t0 for s in man)

    cp = tr.of("sources.lake.compact_partial", since)
    out["sources.lake.compact_partial.calls"] = float(len(cp))
    out["sources.lake.compact_partial.wall_s"] = sum(s.t1 - s.t0 for s in cp)
    out["sources.lake.compact_partial.bytes_rewritten"] = float(sum(s.info.get("bytes", 0) for s in cp))

    reads = {k: tr.of(f"bench.{k}", since) for k in ("lookup", "changes", "scan")}
    lk = reads["lookup"]
    out["sources.lake.lookup.spark_jobs_per_call"] = per_call(len(status.jobs_in(lk)), len(lk))
    rows_read = sum(st["inputRecords"] for st in status.stages_of(status.jobs_in(lk)))
    rows_ret = sum(s.info.get("rows", 0) for s in lk)
    out["sources.lake.lookup.rows_read_per_row_returned"] = rows_read / rows_ret if rows_ret else 0.0
    ch = tr.of("sources.lake.changes_since", since)
    out["sources.lake.changes_since.files_read"] = per_call(sum(s.info.get("files", 0) for s in ch), len(ch))
    sn = [s for s in tr.of("sources.lake.snapshot", since) if s.parent is not None and s.parent.name == "bench.scan"]
    out["sources.lake.snapshot.delta_files_resolved"] = per_call(sum(s.info.get("deltas", 0) for s in sn), len(sn))

    out.update(extra)
    return out


def install_hooks(tr: Tracer) -> None:
    """Return-value hooks that count files from the manifests the engine
    hands back: outside observation of what each call wrote or read."""

    def manifest_of(lake, version=None):
        fn = type(lake).manifest
        return getattr(fn, "__wrapped_by_perfbench__", fn)(lake, version)

    def on_write(span, a, kw, out):
        lake, prefix = a[0], f"data/commit-{out.version:08d}-"
        new = [f for f in out.files if f["path"].startswith(prefix)]
        span.info["files"] = len(new)
        span.info["bytes"] = sum(os.path.getsize(os.path.join(lake.root, f["path"])) for f in new)

    def on_changes(span, a, kw, out):
        seq = a[1] if len(a) > 1 else kw["seq"]
        m = manifest_of(a[0])
        if m is not None:
            span.info["files"] = sum(1 for f in m.files if f.get("seq_max") is None or f["seq_max"] > seq)

    def on_snapshot(span, a, kw, out):
        m = manifest_of(a[0], a[1] if len(a) > 1 else kw.get("version"))
        if m is not None:
            span.info["deltas"] = sum(1 for f in m.files if f.get("delta"))

    def on_choose(span, a, kw, out):
        span.info["decision"] = tuple(out)

    def on_apply(span, a, kw, out):
        span.info["applied"] = not out.skipped

    tr.on_return.update(
        {
            "sources.lake.merge": on_write,
            "sources.lake.compact_partial": on_write,
            "sources.lake.changes_since": on_changes,
            "sources.lake.snapshot": on_snapshot,
            "operators.dedup.choose_strategies": on_choose,
            "ingest.apply_batch": on_apply,
        }
    )


def stream_metrics(progress: list[dict], restart_s: list[float]) -> dict:
    """Trigger breakdown from ``StreamingQuery.recentProgress`` of every
    query incarnation; only triggers that carried input rows count."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in data]
    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in data]
    return {
        "streaming.tail.trigger_p50_s": median(trig),
        "streaming.tail.add_batch_p50_s": median(add),
        "streaming.tail.overhead_p50_s": median([t - a for t, a in zip(trig, add)]),
        "streaming.tail.epochs": float(len(data)),
        "streaming.tail.restart_s": median(restart_s),
    }
