"""The ingest pipeline: one change-event batch → lake table, exactly once.

This is the engine's equivalent of the reference's whole
build→curate→load→upload flow (PyOrchDB/main.py:106-265), collapsed into
a single declarative Catalyst plan per batch:

    raw events
      → marker gate (skip committed batch_ids — broadcast anti-join)
      → path normalization / content sha256 (JVM built-ins, no Python worker)
      → LWW dedup (salted two-stage when skew expected)
      → MERGE INTO lake table (copy-on-write over affected files)
      → marker + lineage commit

Every step is a DataFrame transform; the only actions are the data-file
write, the tiny stats/lineage aggregations, and the manifest/marker
renames.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import RETAIN_ALL_TOMBSTONES, LakeTable, bucket_expr


@dataclass
class ApplyResult:
    batch_id: str
    skipped: bool
    version: int | None
    rows_in: int
    table_rows_after: int
    rows_rejected: int = 0


# C3 quarantine predicate: an event must carry a key, a sequence, and a
# recognized op to be applicable; anything else goes to _rejects.
# ``watermark_seq``: the table's tombstone GC watermark — an event at or
# below it violates the ingest contract (compaction already dropped
# tombstones up to that seq) and MUST be quarantined, else a straggler
# upsert could resurrect a key whose tombstone is gone.
def invalid_reason(keys=("repo", "path"), watermark_seq: int | None = None):
    key_null = None
    for k in keys:
        cond = F.col(k).isNull() | (F.col(k) == "")
        key_null = cond if key_null is None else (key_null | cond)
    r = (
        F.when(key_null, F.lit("null_or_empty_key"))
        .when(F.col("seq").isNull(), F.lit("null_seq"))
        .when(
            # NULL-safe: ~isin(...) is NULL (not true) for op=NULL, which
            # would let the row slip past quarantine into stored state and
            # then vanish from reads (op != 'delete' drops NULL too).
            F.col("op").isNull() | ~F.col("op").isin("upsert", "delete"),
            F.lit("unknown_op"),
        )
    )
    if watermark_seq is not None:
        r = r.when(F.col("seq") <= F.lit(int(watermark_seq)), F.lit("below_watermark"))
    return r


def _normalized_path(p):
    """Path normalization as Catalyst built-ins: NFC, then strip leading
    ``./`` chains, collapse ``//`` runs, drop one trailing ``/``.

    NFC is ICU4J's ``Normalizer.compose`` (the jar Spark ships), so the
    engine's definition follows ICU's Unicode version (16.0 in ICU4J 77).
    On characters Python's ``unicodedata`` also assigns, the result equals
    ``functions.udfs._norm_one``; a path holding a character assigned
    after Python's version may compose differently, so a table curated
    by the earlier pandas UDF can carry such a path under another key.
    ``(?s)`` and ``\\z`` keep the trailing-slash rule exact: Java's ``$``
    also matches before a final newline, and ``.`` skips newlines without
    DOTALL. ``compose`` throws on null, hence the null check."""
    nfc = F.when(
        p.isNotNull(),
        F.reflect(F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), p, F.lit(False)),
    )
    stripped = F.regexp_replace(nfc, r"^(\./)+", "")
    collapsed = F.regexp_replace(stripped, r"/{2,}", "/")
    return F.regexp_replace(collapsed, r"(?s)(.)/\z", "$1")


def prepare_events(events: DataFrame) -> DataFrame:
    """Curation: normalize paths, stamp content sha256 (engine columns).

    The sha256 column is the replay invariant (BASELINE.json:15); path
    normalization keeps key identity stable across noisy producers
    (SURVEY.md section 2.10). Both are JVM built-ins, so no row crosses
    into a Python worker: ``F.sha2`` hashes the string's UTF-8 bytes
    (exactly ``hashlib.sha256(v.encode("utf-8"))``) and
    ``_normalized_path`` equals ``functions.udfs._norm_one`` on characters
    assigned in Python's Unicode version (``_normalized_path`` says what
    happens to characters assigned later).

    ``reflect`` (the NFC call) is nondeterministic and interpreted in
    Spark, so filters on ``path`` stay above this projection; callers
    filter by ``batch_id`` BEFORE calling this, keeping partition pruning
    on the source scan.
    """
    return events.withColumn("path", _normalized_path(F.col("path"))).withColumn(
        "content_sha256",
        F.when(F.col("op") == "delete", F.lit(None).cast("string")).otherwise(
            F.sha2("content", 256)
        ),
    )


def apply_batch(
    lake: LakeTable,
    ledger: BatchLedger,
    events: DataFrame,
    batch_id: str,
    *,
    salted: bool = False,
    n_salts: int = 16,
    num_files: int | None = None,
    cache_batch: bool = False,
    mor: bool = False,
    fuse_metrics: bool = False,
    rows_hint: int | None = None,
    stream_safe_metrics: bool = False,
    thin_shuffle: bool = False,
) -> ApplyResult:
    """Apply one batch idempotently. Safe to call twice with the same id.

    ``mor=True`` routes the merge through the delta-append path
    (sources/lake.py merge-on-read): bytes written per batch stay
    proportional to the batch, never to the table.

    ``fuse_metrics=True`` (MoR only): attach the lineage/quarantine
    aggregates to the merge-write plan instead of running them as their
    own Spark job — the whole batch then costs ONE Spark job. On this box
    a minimal 2-stage job floors at ~0.3s of pure scheduling, so at the
    10^4-micro-batch design point the second job is the single largest
    per-batch fixed cost (VERDICT r3 next #3). Batch mode rides an
    ``Observation`` on the write plan; ``stream_safe_metrics=True``
    switches to the accumulator-probe variant because observations never
    fire on plans derived from a foreachBatch DataFrame (they would
    hang) — that is the streaming tail's one-job path (VERDICT r4 next
    #3). CoW batches can't fuse either way — the affected-bucket hit set
    must be known BEFORE the merge plan is built. ``rows_hint`` (e.g. the
    previous batch's row count) sizes the delta's bucket generation since
    the fused path learns the true count only after the write.
    """
    if ledger.is_committed(batch_id):
        return ApplyResult(batch_id, skipped=True, version=None, rows_in=0, table_rows_after=0)

    # AQE off for the span of one batch apply (saved/restored): a merge
    # plan is fixed-shape — one user-specified repartition(n_buckets) and
    # no joins — so AQE cannot improve it, but it MATERIALIZES the
    # exchange as its own stage-job, doubling the per-batch job count
    # (measured: 2 jobs/clean batch with AQE, 1 without). At the
    # 10^4-micro-batch design point that second job IS the dominant fixed
    # cost this path exists to remove (VERDICT r4 next #3). Session-scoped
    # conf: the engine assumes no concurrent queries inside one apply
    # (same single-writer contract the ledger already imposes).
    conf = events.sparkSession.conf
    aqe_prev = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return _apply_batch_inner(
            lake, ledger, events, batch_id,
            salted=salted, n_salts=n_salts, num_files=num_files,
            cache_batch=cache_batch, mor=mor,
            fuse_metrics=fuse_metrics, rows_hint=rows_hint,
            stream_safe_metrics=stream_safe_metrics,
            thin_shuffle=thin_shuffle,
        )
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe_prev)


def _apply_batch_inner(
    lake: LakeTable,
    ledger: BatchLedger,
    events: DataFrame,
    batch_id: str,
    *,
    salted: bool = False,
    n_salts: int = 16,
    num_files: int | None = None,
    cache_batch: bool = False,
    mor: bool = False,
    fuse_metrics: bool = False,
    rows_hint: int | None = None,
    stream_safe_metrics: bool = False,
    thin_shuffle: bool = False,
) -> ApplyResult:
    prepared = prepare_events(events)

    # ONE key-columns-only pass over the batch (the sha2 column is
    # pruned out) computing, together: lineage metrics, C3
    # quarantine detection, AND — for the CoW path — the affected-bucket
    # hit set per manifest generation that MERGE needs for file pruning.
    # Before round 3 the hit set was a second distinct+collect job per
    # batch (VERDICT r2 #1: per-batch fixed cost dominates 10^4-batch
    # replays). MoR commits touch no base file, so they skip the hit aggs.
    m = lake.manifest()
    gens = [] if mor else LakeTable.bucket_gens(m)
    reason = invalid_reason(
        lake.keys, watermark_seq=m.tombstone_watermark if m is not None else None
    )
    if fuse_metrics and mor and m is not None and m.files:
        fused = _apply_batch_fused_acc if stream_safe_metrics else _apply_batch_fused
        return fused(
            lake, ledger, prepared, batch_id, m, reason,
            salted=salted, n_salts=n_salts, rows_hint=rows_hint,
            thin_shuffle=thin_shuffle,
        )
    metrics = ledger.collect_partition_metrics(
        prepared,
        invalid_reason=reason,
        bucket_exprs={nb: bucket_expr(lake.keys, nb) for nb in gens},
    )
    # superset-safe when rejects are filtered below: an extra affected
    # file is rewritten with unchanged rows
    hits = {(nb, b) for r in metrics for nb in gens for b in (r[f"bkt_{nb}"] or [])}
    rejected = int(sum(r["n_invalid"] for r in metrics))
    if rejected:
        # divert invalid rows to _rejects, merge the rest
        ledger.record_rejects(
            batch_id,
            prepared.withColumn("reject_reason", reason).filter(F.col("reject_reason").isNotNull()),
        )
        prepared = prepared.filter(reason.isNull())

    # The merge runs several actions over the batch (pruning-key scan, the
    # data-file write, lineage agg) — ``cache_batch`` caches the prepared
    # batch so curation runs once. Batches are bounded; the table never is.
    # (NB: no Observation here — observations never fire on plans derived
    # from a foreachBatch DataFrame, which would hang the streaming tail;
    # input counts come from the lineage aggregation instead.)
    # cache_batch default False: a deserialized cache of fat content rows
    # costs more (GC + storage-memory contention at high parallelism) than
    # recomputing the batch, because Catalyst column-prunes sha2 out of
    # the key-only pruning scan and the lineage scan — only
    # the data-file write evaluates sha256 over content (measured 3x
    # regression with caching at local[32], see BENCH/BASELINE.md).
    if thin_shuffle:
        # VERDICT r4 next #4: keep fat content rows out of the bucket
        # exchange — prune the batch to its LWW winner-tuple rows first
        # (thin map-combined aggregate + broadcast semi-join). Valid rows
        # only: an invalid row must never shadow the real winner.
        from pyorchdb_spark.operators.dedup import prune_to_winners

        prepared = prune_to_winners(prepared.filter(reason.isNull()), keys=lake.keys)
    if cache_batch:
        prepared = prepared.persist()
    try:
        manifest = lake.merge(
            prepared,
            batch_id=batch_id,
            salted=salted,
            n_salts=n_salts,
            num_files=num_files,
            mor=mor,
            # first-batch volume hint: sizes the initial bucket count so
            # files start near target_rows_per_file instead of a fixed 32
            rows_hint=int(sum(r["rows_in"] for r in metrics)),
            affected_hits=hits if gens else None,
            manifest=m,
        )
        # Lineage from the already-collected metrics (no extra pass).
        table_rows = sum(f["rows"] for f in manifest.files)
        rows_in = ledger.record_lineage(batch_id, metrics, table_rows_after=table_rows)
    finally:
        if cache_batch:
            prepared.unpersist()
    ledger.commit_marker(batch_id, manifest.version, rows_in)
    return ApplyResult(
        batch_id,
        skipped=False,
        version=manifest.version,
        rows_in=rows_in,
        table_rows_after=table_rows,
        rows_rejected=rejected,
    )


def _apply_batch_fused(
    lake: LakeTable,
    ledger: BatchLedger,
    prepared: DataFrame,
    batch_id: str,
    m,
    reason,
    *,
    salted: bool = False,
    n_salts: int = 16,
    rows_hint: int | None = None,
    thin_shuffle: bool = False,
) -> ApplyResult:
    """ONE-job batch apply (MoR delta path): lineage/quarantine aggregates
    ride the merge-write plan as an ``Observation`` — no separate metrics
    job. See ``apply_batch(fuse_metrics=True)`` for when this is legal.

    ``thin_shuffle``: prune to LWW winner-tuple rows before the fat bucket
    exchange (VERDICT r4 next #4). The winner aggregate is computed from a
    PROBE-FREE branch of the batch — the CollectMetrics node must appear
    exactly once in the plan (on the fat branch) or its counts would
    double.

    Lineage granularity is one row per batch (partition_id = -1): the
    observation yields global aggregates, and per-file granularity for
    the batch is already durable in the manifest's delta entries (rows +
    footer seq ranges per bucket file). ``low_watermark`` groups lineage
    by batch_id, so the watermark derivation is unchanged. The rare
    reject path (n_invalid > 0) pays one extra job to materialize the
    quarantined rows — clean batches stay at one job."""
    from pyspark.sql import Observation

    seq_valid = F.when(reason.isNull(), F.col("seq"))
    obs = Observation()
    observed = prepared.observe(
        obs,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(reason.isNotNull().cast("long")).alias("n_invalid"),
        F.sum((reason.isNull() & (F.col("op") == "delete")).cast("long")).alias("tombstones"),
        F.max(seq_valid).alias("max_seq"),
        F.min(seq_valid).alias("min_seq"),
    )
    src = observed.filter(reason.isNull())
    if thin_shuffle:
        from pyorchdb_spark.operators.dedup import prune_to_winners, winner_tuples

        w = winner_tuples(prepared.filter(reason.isNull()), keys=lake.keys)
        src = prune_to_winners(src, keys=lake.keys, winners=w)
    manifest = lake.merge(
        src,
        batch_id=batch_id,
        salted=salted,
        n_salts=n_salts,
        mor=True,
        rows_hint=rows_hint,
        manifest=m,
    )
    try:
        got = obs.get
        metrics = [
            {
                "partition_id": -1,
                "rows_in": int(got["rows_in"] or 0),
                "tombstones": got["tombstones"],
                "max_seq": got["max_seq"],
                "min_seq": got["min_seq"],
            }
        ]
        rejected = int(got["n_invalid"] or 0)
    except Exception:
        # The observation can come back EMPTY (pyspark's conversion then
        # raises): when every row of a literal-sourced batch folds away
        # at optimization time (e.g. a single straggler quarantined by
        # the below-watermark predicate), Catalyst collapses the plan to
        # an empty LocalRelation and the CollectMetrics node never
        # executes. Such batches are degenerate by construction, so pay
        # one explicit (tiny) metrics job for them; clean batches stay
        # at one job.
        metrics = ledger.collect_partition_metrics(prepared, invalid_reason=reason)
        rejected = int(sum(r["n_invalid"] for r in metrics))
    if rejected:
        ledger.record_rejects(
            batch_id,
            prepared.withColumn("reject_reason", reason).filter(F.col("reject_reason").isNotNull()),
        )
    table_rows = sum(f["rows"] for f in manifest.files)
    rows_in = ledger.record_lineage(batch_id, metrics, table_rows_after=table_rows)
    ledger.commit_marker(batch_id, manifest.version, rows_in)
    return ApplyResult(
        batch_id,
        skipped=False,
        version=manifest.version,
        rows_in=rows_in,
        table_rows_after=table_rows,
        rows_rejected=rejected,
    )


class _BatchMetricsParam:
    """AccumulatorParam for one batch's lineage metrics: a 5-tuple
    ``(rows_in, n_invalid, tombstones, min_seq, max_seq)`` — sums on the
    counters, semilattice min/max on the seq bounds (None = unobserved)."""

    def zero(self, v):
        return v

    def addInPlace(self, a, b):
        if a is None:
            return b
        if b is None:
            return a
        mn = a[3] if b[3] is None else (b[3] if a[3] is None else min(a[3], b[3]))
        mx = a[4] if b[4] is None else (b[4] if a[4] is None else max(a[4], b[4]))
        return (a[0] + b[0], a[1] + b[1], a[2] + b[2], mn, mx)


def _make_metrics_probe(acc):
    """Arrow-vectorized pass-through probe: returns ``reason`` unchanged
    while folding this Arrow batch's lineage aggregates into ``acc``. The
    caller must reference the output EXACTLY once (filter, then drop) —
    a second reference would re-evaluate the UDF and double-count
    (Catalyst has no CSE across a filter/project pair; measured)."""

    @F.pandas_udf("string")
    def probe(reason: pd.Series, seq: pd.Series, op: pd.Series) -> pd.Series:
        valid = reason.isna()
        vseq = seq[valid].dropna()
        acc.add(
            (
                int(len(reason)),
                int((~valid).sum()),
                int(((op == "delete") & valid).sum()),
                int(vseq.min()) if len(vseq) else None,
                int(vseq.max()) if len(vseq) else None,
            )
        )
        return reason

    return probe


def _apply_batch_fused_acc(
    lake: LakeTable,
    ledger: BatchLedger,
    prepared: DataFrame,
    batch_id: str,
    m,
    reason,
    *,
    salted: bool = False,
    n_salts: int = 16,
    rows_hint: int | None = None,
    thin_shuffle: bool = False,
) -> ApplyResult:
    """ONE-job batch apply for foreachBatch plans (MoR delta path).

    The streaming twin of ``_apply_batch_fused``: observations never fire
    on plans derived from a foreachBatch DataFrame (obs.get would hang the
    tail), so here the lineage/quarantine aggregates ride the merge-write
    job as ACCUMULATOR updates from an Arrow-vectorized pass-through probe
    instead (VERDICT r4 next #3 — this removes the second per-batch Spark
    job that held the 16M streaming gate at ~58% of batch-MoR throughput).

    The probe column is referenced exactly once (the quarantine filter)
    and then dropped, so it evaluates once per input row in the write
    job's map stage — verified by accumulator count under both a plain
    write and the LWW window.

    Retry semantics (honest accounting): accumulator updates from
    transformations can be re-applied if a stage recomputes (speculation /
    executor loss — impossible in local mode, rare on a cluster). The
    counters (rows_in / tombstones / n_invalid) could then over-report;
    they feed reporting only. The GC-safety-critical values — min_seq /
    max_seq, which derive the tombstone low-watermark — are idempotent
    under re-update (semilattice), so watermark correctness never depends
    on exactly-once accumulation.

    Degenerate batches (e.g. every row quarantined) need no fallback here:
    the quarantine filter depends on the non-foldable probe UDF, so
    Catalyst cannot collapse the plan to an empty LocalRelation the way it
    can under the Observation variant — rows always flow through the probe
    and are counted."""
    from pyspark.accumulators import AccumulatorParam

    # build the param class on first use: AccumulatorParam is an ABC, so
    # derive dynamically to keep the module import free of pyspark
    # internals ordering concerns
    param = type("_BMP", (_BatchMetricsParam, AccumulatorParam), {})()
    sc = prepared.sparkSession.sparkContext
    acc = sc.accumulator((0, 0, 0, None, None), param)
    probe = _make_metrics_probe(acc)
    observed = (
        prepared.withColumn("_obs_reason", probe(reason, F.col("seq"), F.col("op")))
        .filter(F.col("_obs_reason").isNull())
        .drop("_obs_reason")
    )
    if thin_shuffle:
        # winner tuples from a PROBE-FREE branch (same valid-row set): the
        # probe must appear exactly once in the plan (fat branch) or the
        # accumulator counts would double
        from pyorchdb_spark.operators.dedup import prune_to_winners, winner_tuples

        w = winner_tuples(prepared.filter(reason.isNull()), keys=lake.keys)
        observed = prune_to_winners(observed, keys=lake.keys, winners=w)
    manifest = lake.merge(
        observed,
        batch_id=batch_id,
        salted=salted,
        n_salts=n_salts,
        mor=True,
        rows_hint=rows_hint,
        manifest=m,
    )
    rows_in_acc, n_invalid, tombstones, min_seq, max_seq = acc.value
    metrics = [
        {
            "partition_id": -1,
            "rows_in": int(rows_in_acc),
            "tombstones": int(tombstones),
            "max_seq": max_seq,
            "min_seq": min_seq,
        }
    ]
    rejected = int(n_invalid)
    if rejected:
        # rare path: one extra (tiny) job to materialize quarantined rows
        ledger.record_rejects(
            batch_id,
            prepared.withColumn("reject_reason", reason).filter(F.col("reject_reason").isNotNull()),
        )
    table_rows = sum(f["rows"] for f in manifest.files)
    rows_in = ledger.record_lineage(batch_id, metrics, table_rows_after=table_rows)
    ledger.commit_marker(batch_id, manifest.version, rows_in)
    return ApplyResult(
        batch_id,
        skipped=False,
        version=manifest.version,
        rows_in=rows_in,
        table_rows_after=table_rows,
        rows_rejected=rejected,
    )


def replay(
    lake: LakeTable,
    ledger: BatchLedger,
    events: DataFrame,
    *,
    salted: bool | str = False,
    n_salts: int = 16,
    num_files: int | None = None,
    cache_batch: bool = False,
    mor: bool = False,
    mor_compact_factor: int = 8,
    tombstone_lag_batches: int | None = None,
    thin_shuffle: bool | str = False,
    strategy_out: dict | None = None,
) -> list[ApplyResult]:
    """Batch-mode replay of a whole event log in batch_id order.

    ``mor=True``: each batch lands as a delta commit (write cost
    proportional to the batch). Read cost grows with accumulated deltas,
    so the replay self-compacts once delta commits outnumber
    ``mor_compact_factor`` — amortized, the table is rewritten every K
    batches instead of every batch, turning per-batch write amplification
    from O(table) into O(table / K + batch).

    ``tombstone_lag_batches``: opt-in tombstone GC. When set, each
    self-compaction derives the ingest low-watermark from the lineage
    history (``BatchLedger.low_watermark``) under the contract that
    events arrive at most that many batches late, and physically drops
    tombstones at or below it; arriving events at/below the recorded
    watermark are quarantined (``below_watermark``), so a dropped
    tombstone can never be resurrected. Default None retains every
    tombstone (arbitrarily late events stay mergeable).

    ``salted="auto"``: measure key skew ONCE over the whole input (one
    sampled column-pruned job, ``choose_salt_strategy``) and pick
    plain/salted + n_salts from the evidence — uniform feeds keep plain
    throughput, hot-key feeds get just enough salt.

    ``thin_shuffle``: prune each batch to its LWW winner-tuple rows before
    the fat bucket exchange (VERDICT r4 next #4) — shuffle bytes then track
    distinct keys, not events. ``"auto"`` decides from the SAME sampled
    probe as ``salted="auto"`` (dup ratio >= 2); when thin wins, salting is
    redundant (the thin aggregate partial-combines map-side, so hot keys
    never concentrate an exchange partition) and is forced off.

    ``strategy_out``: optional dict the resolved decisions are written
    into (``salted``/``n_salts``/``thin``) — "auto" runs are otherwise
    unobservable from the outside, which made the round-5e thin matrix
    ambiguous about whether thin had even engaged.
    """
    if thin_shuffle is True:
        salted = False  # redundant under thin pruning (see docstring) —
        # decided BEFORE any salted="auto" probe so the answer it would
        # discard is never paid for (one sampled Spark job per replay)
    if salted == "auto" or thin_shuffle == "auto":
        from pyorchdb_spark.operators.dedup import choose_salt_strategy, choose_strategies

        if thin_shuffle == "auto":
            auto_salted, auto_n, thin_shuffle = choose_strategies(events, keys=lake.keys)
            if salted == "auto":
                salted, n_salts = auto_salted, auto_n
        else:
            salted, n_salts = choose_salt_strategy(events, keys=lake.keys)
    if thin_shuffle is True:
        salted = False
    if strategy_out is not None:
        strategy_out.update(
            salted=bool(salted), n_salts=n_salts, thin=bool(thin_shuffle)
        )
    batch_ids = [r[0] for r in events.select("batch_id").distinct().orderBy("batch_id").collect()]
    results = []
    prev_rows: int | None = None
    for b in batch_ids:
        res = apply_batch(
            lake,
            ledger,
            events.filter(F.col("batch_id") == b),
            b,
            salted=salted,
            n_salts=n_salts,
            num_files=num_files,
            cache_batch=cache_batch,
            mor=mor,
            # batch mode: lineage aggregates ride the merge plan (ONE
            # Spark job per clean batch); the previous batch's row count
            # sizes the delta generation (replay feeds are near-constant
            # batch size, and the hint only picks a power-of-two layout)
            fuse_metrics=True,
            rows_hint=prev_rows,
            thin_shuffle=bool(thin_shuffle),
        )
        if not res.skipped and res.rows_in:
            prev_rows = res.rows_in
        results.append(res)
        if mor:
            m = lake.manifest()
            delta_commits = len({f["path"].split("/")[1] for f in m.files if f.get("delta")})
            # two gates, both driver-only arithmetic: enough delta commits
            # accumulated AND some bucket group actually exceeds the fold
            # bounds — otherwise stale cold-group delta dirs would keep the
            # commit count high and re-trigger the (Spark-job) watermark
            # derivation after every batch for nothing
            if delta_commits >= mor_compact_factor and lake.partial_compaction_due(
                max_delta_files_per_group=mor_compact_factor
            ):
                if tombstone_lag_batches is None:
                    # retain ALL tombstones: arbitrarily late events may
                    # still arrive (no disorder contract declared)
                    wm = RETAIN_ALL_TOMBSTONES
                else:
                    lw = ledger.low_watermark(lag_batches=tombstone_lag_batches)
                    wm = RETAIN_ALL_TOMBSTONES if lw is None else lw
                # partial: rewrite only bucket groups whose delta backlog
                # exceeds the bounds; cold buckets keep their base files
                lake.compact_partial(
                    max_delta_files_per_group=mor_compact_factor,
                    tombstone_watermark_seq=wm,
                )
    return results
