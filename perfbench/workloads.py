"""The workloads: backfill and hot_read.

Each run builds its inputs from the seed (cached per workload, seed and
size under ``.perfbench/cache``), builds one session, warms it up once,
prepares the measured table several times, measures the amount of work
``--seconds`` sizes, then checks every read and the final table against
the Spark-free oracle in ``gen``. Every read of a run has arguments of
its own (key set, starting seq, table version): repeating an identical
read makes a fast second mode that moves the median from run to run.

The engine is reached only through its public calls, always looked up on
their module or class at call time so the tracer can wrap them.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import harness
from harness import median, quantile

KEYS = ("repo", "path")

# Sizes. Row counts are per run; a seed picks which rows. ``--seconds``
# sets how much work a run measures: the number of replays (backfill) or
# update cycles (hot_read) that take about that long on a 4-core host, so
# that every run of a workload measures the same work, whatever its speed.
BACKFILL = dict(
    events=45_000, batches=3, files_per_batch=4, content_max_reps=16, warm_events=3_000,
    nominal_replay_s=10.0,
)
HOT_READ = dict(
    base_events=10_000, n_keys=4_000, content_max_reps=8, drop_events=2_000,
    hot_share=0.3, max_drops=12, warm_drops=1, restart_after=2, nominal_cycle_s=5.0,
    mor_compact_factor=3, tombstone_lag_batches=2,
)
SETUP_REPS = 3
LOOKUP_KEYS = 8
POLL_S = 0.05


class _NoSpan:
    def __init__(self):
        self.info = {}

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _engine():
    """The engine modules, imported only after the process is placed."""
    from pyorchdb_spark import ingest, session
    from pyorchdb_spark.operators import dedup
    from pyorchdb_spark.sources import catalog, lake
    from pyorchdb_spark.streaming import tail

    return ingest, session, dedup, catalog, lake, tail


def _raw_manifest(lake):
    """The table manifest without a tracer span: the benchmark's own
    polling must not count as engine calls."""
    fn = type(lake).manifest
    return getattr(fn, "__wrapped_by_perfbench__", fn)(lake)


def _head_seq(lake) -> int:
    m = _raw_manifest(lake)
    return -1 if m is None or m.head_seq is None else int(m.head_seq)


def _since(lake, seq: int) -> int:
    """``seq``, raised to the tombstone watermark: ``changes_since`` refuses
    to start below it."""
    m = _raw_manifest(lake)
    return max(seq, m.tombstone_watermark) if m and m.tombstone_watermark is not None else seq


def _manifest_bytes(lake) -> int:
    m = _raw_manifest(lake)
    return sum(os.path.getsize(os.path.join(lake.root, f["path"])) for f in m.files) if m else 0


def _table_counts(lake, ledger) -> dict:
    m = _raw_manifest(lake)
    return {
        "sources.lake.files_live": float(len(m.files) if m else 0),
        "sources.catalog.lineage_files": float(
            sum(f.endswith(".parquet") for f in os.listdir(ledger.lineage_dir))
        ),
    }


def _key_dicts(rows: pd.DataFrame) -> list[dict]:
    return [{"repo": r, "path": p} for r, p in zip(rows["repo"], rows["path"])]


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, damage: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.damage = trace, damage
        self.cpus = harness.nproc()
        self.work = harness.Workdir(workload, seed)
        harness.place_process(self.work)
        self.ingest, self.session, self.dedup, self.catalog, self.lake_mod, self.tail = _engine()
        self.tracer = None
        if trace:
            import tracing as tr

            self.tracer = tr.Tracer()
            tr.install_hooks(self.tracer)
            self.tracer.install()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat = {"lookup": [], "changes": [], "scan": []}
        self.read_checks: list[tuple] = []
        self.setup_s: list[float] = []
        self.progress: list[dict] = []
        self.restart_s: list[float] = []
        self.record: dict = {"workload": workload, "seed": seed, "seconds": seconds, "cpus": self.cpus}

    # ---------- plumbing ----------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else _NoSpan()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def build_session(self):
        """The run's one session; its build time is part of ``setup_s``."""
        extra = {}
        if self.trace:
            extra = {
                "spark.ui.enabled": "true",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        t = time.perf_counter()
        self.spark = self.session.build_session(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            extra_conf=harness.spark_conf(self.work, extra),
        )
        self.build_s = time.perf_counter() - t

    def new_table(self, root: str):
        return (
            self.lake_mod.LakeTable(self.spark, root),
            self.catalog.BatchLedger(self.spark, root),
        )

    def cache_dir(self, tag: str) -> str:
        return os.path.join(harness.CACHE, f"{self.workload}-seed{self.seed}-{tag}")

    # ---------- read mix ----------

    def read_lookup(self, lake, keys: list[dict], prefix) -> None:
        with self.span("bench.lookup") as s:
            t = time.perf_counter()
            rows = lake.lookup(keys).collect()
            self.lat["lookup"].append(time.perf_counter() - t)
            s.info["rows"] = len(rows)
        got = {(r["repo"], r["path"], r["content_sha256"]) for r in rows}
        self.read_checks.append(("lookup", prefix, keys, got))

    def read_changes(self, lake, since: int, prefix) -> None:
        with self.span("bench.changes"):
            t = time.perf_counter()
            rows = lake.changes_since(since).select("repo", "path", "op", "content_sha256").collect()
            self.lat["changes"].append(time.perf_counter() - t)
        got = {(r["repo"], r["path"], r["op"], r["content_sha256"]) for r in rows}
        self.read_checks.append(("changes", prefix, since, got))

    def read_scan(self, lake, version: int, prefix) -> None:
        """Aggregate over ``snapshot(version)``, the table after ``prefix``."""
        with self.span("bench.scan"):
            t = time.perf_counter()
            rows = lake.snapshot(version=version).groupBy("lang").count().collect()
            self.lat["scan"].append(time.perf_counter() - t)
        self.read_checks.append(("scan", prefix, None, {(r["lang"], r["count"]) for r in rows}))

    def verify_reads(self, oracle: "Oracle") -> None:
        for kind, prefix, arg, got in self.read_checks:
            if kind == "lookup":
                st = oracle.live(prefix)
                want = {(k["repo"], k["path"], st[(k["repo"], k["path"])][3])
                        for k in arg if (k["repo"], k["path"]) in st}
            elif kind == "changes":
                want = oracle.changes(prefix, arg)
            else:
                counts: dict[str, int] = {}
                for lang, *_ in oracle.live(prefix).values():
                    counts[lang] = counts.get(lang, 0) + 1
                want = set(counts.items())
            self.check(got == want, f"{kind} read after prefix {prefix} differs from the oracle")

    def final_check(self, lake, want_digest: str) -> None:
        if self.damage:
            self.damage_one_row(lake)
        try:
            rows = lake.snapshot().select("repo", "path", "content_sha256").toPandas()
        except Exception:
            traceback.print_exc()
            self.check(False, "final table unreadable")
            return
        self.check(gen.digest(rows) == want_digest, "final table digest differs from the oracle")

    def damage_one_row(self, lake) -> None:
        """Self-check: corrupt one live row of the finished table in place."""
        m = _raw_manifest(lake)
        for f in sorted(m.files, key=lambda f: f["path"], reverse=True):
            path = os.path.join(lake.root, f["path"])
            t = pq.read_table(path)
            df = t.to_pandas()
            live = df.index[df["op"] != "delete"]
            if len(live):
                df.loc[live[0], "content_sha256"] = "0" * 64
                pq.write_table(pa.Table.from_pandas(df, schema=t.schema, preserve_index=False), path)
                # drop the writer's checksum sidecar, so the damage reaches
                # the oracle comparison instead of failing the file read
                crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
                if os.path.exists(crc):
                    os.unlink(crc)
                return

    # ---------- common result ----------

    def setup(self, warm_up, prepare, start=None) -> None:
        """Set-up: ``warm_up`` once (engine work in a cold JVM), then
        ``prepare`` the measured table ``SETUP_REPS`` times (the state of
        the last repetition is what the run measures), then ``start``
        once on it."""
        t = time.perf_counter()
        warm_up()
        self.warm_s = time.perf_counter() - t
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            prepare()
            self.setup_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        if start is not None:
            start()
        self.start_s = time.perf_counter() - t

    def warm_reads(self, lake) -> None:
        """One unrecorded read of each kind, so read paths start warm."""
        lake.lookup([{"repo": "repo_0", "path": "src/src/mod_0.py"}]).collect()
        lake.changes_since(_since(lake, _head_seq(lake) - 1)).count()
        lake.snapshot().groupBy("lang").count().collect()

    def measure(self, body):
        """Run ``body`` with memory sampling, host probes and trace bounds."""
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        if self.trace:
            self.spark.profile.clear()
        h0 = harness.host_sample()
        self.t_measure = time.time()
        t = time.perf_counter()
        with harness.MemSampler(jvm_pid) as mem:
            try:
                body()
            except Exception:
                traceback.print_exc()
                self.check(False, "engine call raised")
        self.measure_s = time.perf_counter() - t
        h1 = harness.host_sample()
        # the gated memory figure is what the JVM and its workers still
        # use after a full collection: resident sizes follow G1's heap
        # growth at the engine's 8 GB default, which split runs into two
        # modes about 1 GB apart, and a full collection gives no memory
        # back to the system
        jvm = self.spark.sparkContext._jvm
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        self.live_mb = used / 2**20 + harness.workers_kb(jvm_pid)[0] / 1024.0
        self.record.update(
            measure_s=round(self.measure_s, 4),
            peak_mem_mb=round(mem.peak_mb, 1),
            peak_mem_processes=mem.peak_procs,
            mem_sampling_s=round(mem.sample_s, 4),
            steal_share=round(harness.steal_share(h0, h1), 5),
            loadavg_before=h0["loadavg"],
            loadavg_after=h1["loadavg"],
        )

    def e2e(self, events_per_s, fresh, write_amp, space_amp) -> dict:
        lk = self.lat["lookup"]
        self.record.update(
            # p90s of a run's few samples are not gated (see README)
            lookup_p90_s=round(quantile(lk, 0.9), 4) if lk else None,
            freshness_p90_s=round(quantile(fresh, 0.9), 4) if fresh else None,
            samples={k: [round(x, 4) for x in v] for k, v in self.lat.items()},
            freshness=[round(x, 4) for x in fresh],
            build_s=round(self.build_s, 4), warm_s=round(self.warm_s, 4),
            setup_samples=[round(v, 4) for v in self.setup_s], start_s=round(self.start_s, 4),
        )
        return {
            "setup_s": (self.build_s + self.warm_s + median(self.setup_s) + self.start_s, "s"),
            "events_per_s": (events_per_s, "1/s"),
            "freshness_p50_s": (median(fresh), "s"),
            "lookup_p50_s": (median(lk), "s"),
            "changes_p50_s": (median(self.lat["changes"]), "s"),
            "scan_p50_s": (median(self.lat["scan"]), "s"),
            "write_amp": (write_amp, "ratio"),
            "space_amp": (space_amp, "ratio"),
            "live_mb": (self.live_mb, "MB"),
        }

    def layers(self, extra: dict) -> dict:
        import tracing as tr

        status = tr.SparkStatus(self.spark)
        status.load()
        py_s, rows = tr.udf_profile(self.spark)
        extra = dict(extra)
        extra["functions.udfs.python_s"] = py_s
        extra["functions.udfs.rows"] = float(rows)
        extra.update(tr.stream_metrics(self.progress, self.restart_s))
        return tr.layer_metrics(self.tracer, status, self.t_measure, extra)

    def close(self) -> None:
        if self.tracer is not None:
            self.tracer.uninstall()
        if self.spark is not None:
            from pyspark import SparkContext

            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None
            # end the JVM now (it exits when its stdin closes) and wait
            gw = SparkContext._gateway
            if gw is not None and getattr(gw, "proc", None) is not None:
                gw.shutdown()
                gw.proc.stdin.close()
                gw.proc.wait(timeout=60)
        self.work.close()


# ====================================================================
# inputs and the read oracle
# ====================================================================


class Oracle:
    """Per-key last writers, tombstones included, after each prefix of the
    log: ``prefixes[0]`` is the state after ``initial``, each ``add`` one
    batch more. Built from ``gen.batch_changes`` frames only."""

    def __init__(self, initial: pd.DataFrame | None = None):
        self.prefixes: list[dict] = [{}]
        if initial is not None:
            self.prefixes[0] = self._merge({}, initial)

    @staticmethod
    def _merge(state: dict, ch: pd.DataFrame) -> dict:
        out = dict(state)
        for r, p, lang, op, seq, sha in zip(ch["repo"], ch["path"], ch["lang"], ch["op"],
                                            ch["seq"], ch["content_sha256"]):
            out[(r, p)] = (lang, op, int(seq), sha)
        return out

    def add(self, ch: pd.DataFrame) -> None:
        self.prefixes.append(self._merge(self.prefixes[-1], ch))

    def live(self, k: int) -> dict:
        return {key: v for key, v in self.prefixes[k].items() if v[1] != "delete"}

    def changes(self, k: int, since: int) -> set:
        """What ``changes_since(since)`` returns after prefix ``k``."""
        return {(r, p, op, sha) for (r, p), (_lang, op, seq, sha) in self.prefixes[k].items()
                if seq > since}


def _write_log(df: pd.DataFrame, out: str, files_per_batch: int) -> list[str]:
    """``df`` as a log partitioned by ``batch_id=`` directories, each batch
    in ``files_per_batch`` files of two row groups; returns the files."""
    files = []
    for b, g in df.groupby("batch_id", sort=True):
        bdir = os.path.join(out, f"batch_id={b}")
        os.makedirs(bdir)
        for i in range(files_per_batch):
            f = os.path.join(bdir, f"part-{i:03d}.parquet")
            gen.write_file(g.iloc[i::files_per_batch], f, row_groups=2, partitioned=True)
            files.append(f)
    return files


def _cached(run: Run, tag: str, build) -> tuple[str, dict]:
    """The cache entry ``tag`` of this workload and seed: its directory and
    ``meta.json``. ``build(tmp)`` writes a missing entry into ``tmp`` and
    returns its meta; the entry is published by one atomic rename."""
    d = run.cache_dir(tag)
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        try:
            os.rename(tmp, d)
        except OSError:  # a concurrent run published the same entry first
            shutil.rmtree(tmp, ignore_errors=True)
    with open(meta_path) as fh:
        return d, json.load(fh)


def _pick_keys(events_df: pd.DataFrame, seed: int, n_sets: int, per_set: int, first=None) -> list:
    """``n_sets`` lookup key sets of canonical keys drawn from the log;
    ``first`` (a key dict) leads every set when given."""
    keys = gen.canonical_paths(events_df)[list(KEYS)].drop_duplicates().sort_values(list(KEYS))
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_sets):
        pick = keys.iloc[rng.choice(len(keys), size=per_set, replace=False)]
        ks = _key_dicts(pick)
        if first is not None:
            ks = [first] + [k for k in ks if k != first][: per_set - 1]
        out.append(ks)
    return out


def _final(d: str, files: list[str], tag: str) -> dict:
    """Digest and raw bytes of the oracle's live rows after ``files``
    (``oracle.expected_final_state`` over pyarrow reads), cached as ``tag``."""
    path = os.path.join(d, f"final-{tag}.json")
    if not os.path.exists(path):
        state = gen.live_state(gen.read_log(files))
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"digest": gen.digest(state), "raw_bytes": int(state["raw_bytes"].sum())}, fh)
        os.rename(tmp, path)
    with open(path) as fh:
        return json.load(fh)


def _log_files(top: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(top) for f in fs if f.endswith(".parquet"))


# ====================================================================
# backfill: closed-loop bulk replay of fat rows into an empty table
# ====================================================================


def _backfill_inputs(run: Run) -> tuple[str, dict]:
    p = BACKFILL
    n, nb = p["events"], p["batches"]
    bs = -(-n // nb)

    def build(tmp):
        first = gen.first_row_id(run.seed)
        ev = dict(n_keys=max(1, n // 3), content_max_reps=p["content_max_reps"])
        df = gen.events(np.arange(first, first + n), batch_size=bs, first_row=first, **ev)
        files = _write_log(df, os.path.join(tmp, "log"), p["files_per_batch"])
        # a small log of the same shape after it, for the warm-up
        nw = p["warm_events"]
        warm = gen.events(np.arange(first + n, first + n + nw), batch_size=-(-nw // nb),
                          first_row=first + n, **ev)
        _write_log(warm, os.path.join(tmp, "warm"), p["files_per_batch"])
        back = gen.read_log(files)  # the oracle reads back what the engine will read
        for i in range(nb):
            part = back[(back["seq"] >= first + i * bs) & (back["seq"] < first + (i + 1) * bs)]
            gen.batch_changes(part).to_parquet(os.path.join(tmp, f"changes-{i}.parquet"))
        last = first + (nb - 1) * bs - 1
        return {
            "events": len(df),
            "log_bytes": sum(os.path.getsize(f) for f in files),
            # starting points of the changes_since reads, all in the last batch
            "since": [last + i * bs // 6 for i in range(6)],
            "lookup_keys": _pick_keys(back, run.seed, 12, LOOKUP_KEYS),
        }

    return _cached(run, f"{n}x{nb}", build)


def run_backfill(run: Run) -> tuple[dict, dict]:
    p = BACKFILL
    d, meta = _backfill_inputs(run)
    log_dir = os.path.join(d, "log")
    final = _final(d, _log_files(log_dir), "all")
    box: dict = {}

    def warm_up():
        # a small log of the same shape: the cold costs (code generation,
        # Python workers) are paid here; a full-size warm-up replay left
        # the first measured replay as much slower than the second
        lake, ledger = run.new_table(run.work.fresh("warm-table"))
        run.ingest.replay(lake, ledger, run.spark.read.parquet(os.path.join(d, "warm")))
        run.warm_reads(lake)

    def prepare():
        box["tables"] = run.work.fresh("tables")

    run.setup(warm_up, prepare)
    n_replays = max(1, round(run.seconds / p["nominal_replay_s"]))
    ingest_s, fresh, bytes_written, replay_s = 0.0, [], 0, []
    tables: list = []

    def body():
        nonlocal ingest_s, bytes_written
        keys, since = meta["lookup_keys"], meta["since"]
        for r in range(n_replays):
            lake, ledger = run.new_table(os.path.join(box["tables"], f"t{r}"))
            ev = run.spark.read.parquet(log_dir)
            t0 = time.time()
            results = run.ingest.replay(lake, ledger, ev)
            replay_s.append(time.time() - t0)
            ingest_s += replay_s[-1]
            for res in results:
                run.check(not res.skipped and res.version is not None, f"batch {res.batch_id} not applied")
            for f in os.listdir(ledger.markers_dir):
                with open(os.path.join(ledger.markers_dir, f)) as fh:
                    fresh.append(json.load(fh)["committed_at"] - t0)
            bytes_written += harness.dir_bytes(lake.root, "data")
            if tables:
                shutil.rmtree(tables[-1][0].root)
            tables.append((lake, ledger))
            # per replay one lookup, one changes_since and one scan of
            # each batch's version, every argument new in the run
            nb = len(results)
            for i, res in enumerate(results):
                run.read_lookup(lake, keys[(nb * r + i) % len(keys)], nb)
                run.read_changes(lake, since[(nb * r + i) % len(since)], nb)
                run.read_scan(lake, res.version, i + 1)

    run.measure(body)
    oracle = Oracle()
    for i in range(p["batches"]):
        oracle.add(pd.read_parquet(os.path.join(d, f"changes-{i}.parquet")))
    run.verify_reads(oracle)
    lake, ledger = tables[-1] if tables else (None, None)
    space_amp = _manifest_bytes(lake) / final["raw_bytes"] if lake else 0.0
    if lake is not None:
        run.final_check(lake, final["digest"])
    run.record.update(replay_s=[round(v, 4) for v in replay_s], events_per_replay=meta["events"])
    reps = len(replay_s)
    e2e = run.e2e(
        reps * meta["events"] / ingest_s if ingest_s else 0.0,
        fresh,
        bytes_written / (reps * meta["log_bytes"]) if reps else 0.0,
        space_amp,
    )
    return e2e, _table_counts(lake, ledger) if lake else {}


# ====================================================================
# hot_read: hot-key updates through the tail, a read mix after each
# ====================================================================


def _hot_read_inputs(run: Run) -> tuple[str, dict]:
    """Base files ``base/base-N.parquet`` (one batch) and ``max_drops``
    update drops ``drops/drop-NNNNN.parquet``, each one batch of
    ``drop_events`` consecutive row ids, with the per-key last writers of
    each (``base-changes.parquet``, ``drops/changes-NNNNN.parquet``)."""
    p = HOT_READ
    n_base, de, n_drops = p["base_events"], p["drop_events"], p["max_drops"]

    def build(tmp):
        first = gen.first_row_id(run.seed)
        ev = dict(n_keys=p["n_keys"], content_max_reps=p["content_max_reps"])
        base = gen.events(np.arange(first, first + n_base), batch_size=n_base, first_row=first, **ev)
        os.makedirs(os.path.join(tmp, "base"))
        files = [os.path.join(tmp, "base", f"base-{i}.parquet") for i in range(4)]
        for i, f in enumerate(files):
            gen.write_file(base.iloc[i::4], f, row_groups=2)
        back = gen.read_log(files)
        gen.batch_changes(back).to_parquet(os.path.join(tmp, "base-changes.parquet"))
        os.makedirs(os.path.join(tmp, "drops"))
        meta: dict = {"drops": [], "base": {"lo": first, "hi": first + n_base - 1, "rows": len(back)}}
        all_drops = []
        for i in range(n_drops):
            lo = first + n_base + i * de
            df = gen.events(np.arange(lo, lo + de), batch_size=de, first_row=first + n_base,
                            hot_share=p["hot_share"], **ev)
            f = os.path.join(tmp, "drops", f"drop-{i:05d}.parquet")
            gen.write_file(df, f, row_groups=2)
            all_drops.append(gen.read_log([f]))
            gen.batch_changes(all_drops[-1]).to_parquet(os.path.join(tmp, "drops", f"changes-{i:05d}.parquet"))
            meta["drops"].append({"lo": lo, "hi": lo + de - 1, "rows": len(all_drops[-1]),
                                  "bytes": os.path.getsize(f)})
        hot = gen.canonical_paths(gen.events(np.array([0]), n_keys=1, batch_size=1, first_row=0,
                                             content_max_reps=1))
        meta["hot_key"] = {"repo": hot["repo"][0], "path": hot["path"][0]}
        meta["lookup_keys"] = _pick_keys(pd.concat(all_drops), run.seed, 64, LOOKUP_KEYS,
                                         first=meta["hot_key"])
        return meta

    return _cached(run, f"{n_base}+{de}x{n_drops}", build)


def _commit_times(ledger) -> dict:
    """batch_id -> (min_seq, max_seq, committed_at), read from the ledger's
    files after the run (no Spark)."""
    out = {}
    marks = {}
    for f in os.listdir(ledger.markers_dir):
        if f.endswith(".json"):
            with open(os.path.join(ledger.markers_dir, f)) as fh:
                m = json.load(fh)
            marks[m["batch_id"]] = m["committed_at"]
    for f in os.listdir(ledger.lineage_dir):
        if f.endswith(".parquet"):
            for r in pq.read_table(os.path.join(ledger.lineage_dir, f)).to_pylist():
                if r["batch_id"] in marks and r["min_seq"] is not None:
                    out[r["batch_id"]] = (r["min_seq"], r["max_seq"], marks[r["batch_id"]])
    return out


def _freshness(drops: list[dict], dropped_at: list[float], commits: dict) -> list[float]:
    fresh = []
    for dr, t in zip(drops, dropped_at):
        hit = [c for lo, hi, c in commits.values() if lo <= dr["lo"] and dr["hi"] <= hi]
        if hit:
            fresh.append(min(hit) - t)
    return fresh


def _wait(cond, timeout: float) -> bool:
    end = time.time() + timeout
    while time.time() < end:
        if cond():
            return True
        time.sleep(POLL_S)
    return cond()


def _exactly_once(run: Run, ledger, drops: list[dict]) -> None:
    """Each dropped seq range is committed by exactly one marked epoch, and
    the epochs together took in every dropped row exactly once."""
    lin = ledger.lineage().collect()
    marks = [r["batch_id"] for r in ledger.markers().collect()]
    run.check(len(marks) == len(set(marks)), "a batch id has two commit markers")
    per_batch: dict[str, list] = {}
    for r in lin:
        per_batch.setdefault(r["batch_id"], []).append(r)
    marked = set(marks)
    for dr in drops:
        covering = [
            b for b, rs in per_batch.items()
            if b in marked and any(r["min_seq"] is not None and r["min_seq"] <= dr["hi"]
                                   and dr["lo"] <= r["max_seq"] for r in rs)
        ]
        run.check(len(covering) == 1, f"seq range {dr['lo']}..{dr['hi']} committed {len(covering)} times")
    stream_rows = sum(r["rows_in"] for b, rs in per_batch.items() if b.startswith("stream-") for r in rs)
    run.check(stream_rows == sum(dr["rows"] for dr in drops), "streamed row count differs from dropped rows")


def run_hot_read(run: Run) -> tuple[dict, dict]:
    p = HOT_READ
    d, meta = _hot_read_inputs(run)
    drop_files = [os.path.join(d, "drops", f"drop-{i:05d}.parquet") for i in range(p["max_drops"])]
    cycles = min(p["max_drops"] - p["warm_drops"],
                 max(p["restart_after"] + 1, round(run.seconds / p["nominal_cycle_s"])))
    box: dict = {}
    # per applied drop count k: the table's head seq and manifest version
    heads: list[int] = []
    versions: list[int] = []
    dropped_at: list[float] = []

    base_files = _log_files(os.path.join(d, "base"))

    def warm_up():
        # decided once over the update log, as the tail's docstring asks
        box["strategy"] = run.dedup.choose_strategies(run.spark.read.parquet(*drop_files), keys=KEYS)

    def prepare():
        box["lake"], box["ledger"] = run.new_table(run.work.fresh("table"))
        box["watched"] = run.work.fresh("watched")
        box["ckpt"] = run.work.fresh("ckpt")
        staging = run.work.fresh("staging")
        for f in base_files + drop_files:
            shutil.copy(f, staging)
        box["staging"] = staging

    salted = n_salts = thin = None

    def start_query():
        return run.tail.tail_events(
            run.spark, box["watched"], box["lake"], box["ledger"], box["ckpt"],
            mor=True, available_now=False, salted=salted, n_salts=n_salts, thin_shuffle=thin,
            mor_compact_factor=p["mor_compact_factor"], tombstone_lag_batches=p["tombstone_lag_batches"],
        )

    def drop(q, names: list[str], hi: int) -> bool:
        """Move ``names`` into the watched directory and wait, on
        driver-only state, until seq ``hi`` is committed and the tail idle."""
        lake = box["lake"]
        for name in names:
            os.rename(os.path.join(box["staging"], name), os.path.join(box["watched"], name))
        ok = _wait(lambda: _head_seq(lake) >= hi and not q.status["isTriggerActive"], timeout=120)
        if ok:
            versions.append(_raw_manifest(lake).version)
        return ok

    def apply_next(q) -> bool:
        k = len(versions) - 1
        heads.append(_head_seq(box["lake"]))
        dropped_at.append(time.time())
        ok = drop(q, [f"drop-{k:05d}.parquet"], meta["drops"][k]["hi"])
        run.check(ok, f"drop {k} not committed")
        return ok

    def start():
        # the measured query builds the base table (one epoch), applies
        # the warm drops and answers one unrecorded read mix, so the
        # streaming and merge-on-read paths start warm
        nonlocal salted, n_salts, thin
        salted, n_salts, thin = box["strategy"]
        box["q"] = start_query()
        if not drop(box["q"], [os.path.basename(f) for f in base_files], meta["base"]["hi"]):
            raise RuntimeError("base files not committed")
        for _ in range(p["warm_drops"]):
            if not apply_next(box["q"]):
                raise RuntimeError("warm-up drop not committed")
        run.warm_reads(box["lake"])
        box["warm_progress"] = {(pr["runId"], pr["batchId"]) for pr in _progress(box["q"])}

    run.setup(warm_up, prepare, start)
    lake = box["lake"]
    run.record.update(strategy={"salted": bool(salted), "n_salts": int(n_salts), "thin": bool(thin)})
    bytes_before = harness.dir_bytes(lake.root, "data")
    first = len(versions) - 1

    def body():
        q = box["q"]
        try:
            keys = meta["lookup_keys"]
            for c in range(cycles):
                if c == p["restart_after"]:
                    # planned restart from the same checkpoint, tail idle
                    run.progress.extend(_progress(q))
                    t = time.perf_counter()
                    q.stop()
                    q = box["q"] = start_query()
                    run.restart_s.append(time.perf_counter() - t)
                if not apply_next(q):
                    break
                # a lookup, changes since, and scans of, the last two
                # commits; every lookup holds the hot key, because a mix of
                # lookups with and without it splits the samples into two
                # modes and puts the median between them
                k = len(versions) - 1
                run.read_lookup(lake, keys[c % len(keys)], k)
                for i in range(2):
                    run.read_changes(lake, _since(lake, heads[k - 1 - i]), k)
                    run.read_scan(lake, versions[k - i], k - i)
            run.progress.extend(_progress(q))
        finally:
            q.stop()

    run.measure(body)
    run.progress[:] = [pr for pr in run.progress if (pr["runId"], pr["batchId"]) not in box["warm_progress"]]
    applied = len(versions) - 1
    drops = meta["drops"][:applied]
    commits = _commit_times(box["ledger"])
    fresh = _freshness(drops[first:], dropped_at[first:], commits)
    run.check(len(fresh) == applied - first, "a drop has no commit marker")
    _exactly_once(run, box["ledger"], [meta["base"]] + drops)

    oracle = Oracle(pd.read_parquet(os.path.join(d, "base-changes.parquet")))
    for i in range(applied):
        oracle.add(pd.read_parquet(os.path.join(d, "drops", f"changes-{i:05d}.parquet")))
    run.verify_reads(oracle)
    final = _final(d, base_files + drop_files[:applied], f"{applied}")
    space_amp = _manifest_bytes(lake) / final["raw_bytes"]
    in_bytes = sum(dr["bytes"] for dr in drops[first:])
    write_amp = (harness.dir_bytes(lake.root, "data") - bytes_before) / in_bytes if in_bytes else 0.0
    run.final_check(lake, final["digest"])
    adds = [pr for pr in run.progress if pr.get("numInputRows", 0) > 0]
    add_s = sum(pr["durationMs"].get("addBatch", 0) for pr in adds) / 1e3
    rows = sum(pr["numInputRows"] for pr in adds)
    run.record.update(drops_applied=applied, warm_drops=first)
    e2e = run.e2e(rows / add_s if add_s else 0.0, fresh, write_amp, space_amp)
    return e2e, _table_counts(lake, box["ledger"])


def _progress(q) -> list[dict]:
    return [json.loads(pr.json) for pr in q.recentProgress]


WORKLOADS = {"backfill": run_backfill, "hot_read": run_hot_read}
