"""The benchmark workloads. Each drives the program only through its
public entry points, on inputs generated from the seed, and checks the
outputs outside the timers.

A workload returns an ``Outcome``: operations attempted and failed, the
per-operation times behind ``op_p50_s``/``op_p90_s``, the rows and wall
time behind ``rows_per_s``, and (traced runs) its per-layer numbers.
The work a run does is fixed by the workload and the seed; only the
open-loop stream phase lasts ``--seconds``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import gen
import host
from stream_gen import write_event_file

HERE = Path(__file__).resolve().parent


@dataclass
class Ctx:
    spark: object
    tracer: object  # spans.Tracer
    seed: int
    seconds: float
    trace: bool
    tmp: Path


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    rows: int = 0
    rows_wall_s: float = 0.0
    host: dict = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    root_spans: list[int] = field(default_factory=list)  # measured traced ops

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(msg)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile (numpy's default method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# ---------------------------------------------------------------------------
# etl_batch
# ---------------------------------------------------------------------------

# Initial drop; each incremental drop is a fifth of it. Drop times at
# 4000 to 100000 students are in CHANGES.md: below 100000 the pipeline's
# fixed per-job cost dominates, and larger drops or more of them do not
# fit the time the whole set of runs may take.
ETL_SIZES = {"students": 4000, "events": 10000, "tickets": 2000}
ETL_INCREMENTAL_DROPS = 1


def _trace_pipeline_layers(tracer) -> None:
    """Spans inside ``run_batch_pipeline`` via its module-level callees."""
    from edu_data_pipeline_spark import pipeline
    from edu_data_pipeline_spark.operators import analytics, cleaning, warehouse
    from edu_data_pipeline_spark.sources import csv_ingest

    views = {}

    def run_pipeline(*args, **kwargs):
        with tracer.span("pipeline.run_batch_pipeline"):
            try:
                return orig_run(*args, **kwargs)
            finally:
                if "sid" in views:
                    tracer.pop(views.pop("sid"))

    def first_view(*args, **kwargs):
        # the five view builders run back to back after the last merge;
        # the span covers their writes and the metadata tables up to the
        # pipeline's return
        if "sid" not in views:
            views["sid"] = tracer.push("operators.analytics.views")
        return orig_view(*args, **kwargs)

    orig_run, orig_view = pipeline.run_batch_pipeline, analytics.v_student_360
    tracer.patch(pipeline, "run_batch_pipeline", run_pipeline)
    tracer.patch(analytics, "v_student_360", first_view)
    tracer.wrap(csv_ingest, "read_raw_csv", "sources.csv_ingest.read_raw_csv")
    tracer.wrap(csv_ingest, "append_raw", "sources.csv_ingest.append_raw")
    for fn in ("clean_students", "clean_progress", "clean_tickets", "dedup_last_wins"):
        tracer.wrap(cleaning, fn, f"operators.cleaning.{fn}")
    tracer.wrap(
        warehouse.ParquetMergeWriter, "merge",
        name_fn=lambda w, *a: ("operators.warehouse.staging_merge"
                               if f"{os.sep}staging{os.sep}" in w.path
                               else "operators.warehouse.dim_fact_merge"),
    )


def _etl_drop(ctx: Ctx, drop: tuple, k: int, wh: str,
              out: Outcome) -> tuple[float, dict, int | None]:
    """Run drop ``k`` = (input dir, input rows, expected counts) into
    warehouse ``wh`` and check its counts."""
    from edu_data_pipeline_spark import pipeline

    in_dir, _, want = drop
    t0 = time.perf_counter()
    with ctx.tracer.span("op.etl_drop", drop=k) as sid:
        counts = pipeline.run_batch_pipeline(ctx.spark, in_dir, wh, batch_id=f"drop-{k}")
    dt = time.perf_counter() - t0
    out.attempted += 1
    bad = {key: (counts.get(key), n) for key, n in want.items() if counts.get(key) != n}
    if bad:
        out.fail(f"etl drop {k}: count mismatch (got, want) {bad}")
    return dt, counts, sid


def etl_batch(ctx: Ctx) -> Outcome:
    """The initial load of an empty warehouse in a fresh process, as a
    scheduled batch job's first run, then ``ETL_INCREMENTAL_DROPS``
    incremental drops merged into what the earlier drops wrote. Every
    drop is one operation: ``rows_per_s`` is all their input rows over
    their summed wall time, ``op_p50_s``/``op_p90_s`` are over their
    times (with one incremental drop: the mean of the two, and close to
    the cold initial load's time).

    A traced run does the same drops traced, then the first incremental
    drop again, untraced, into a copy of the warehouse as the initial
    drop left it: ``bench.tracing_overhead_frac`` compares the two
    (the untraced one runs later and warmer, so the overhead can be
    overstated, not hidden)."""
    out = Outcome()
    g = gen.EtlDrops(ctx.seed, **ETL_SIZES)
    drops = []  # (input dir, input rows, expected counts), before any timer
    for k in range(1 + ETL_INCREMENTAL_DROPS):
        d = str(ctx.tmp / f"drop{k}")
        n = g.write_drop(d)
        drops.append((d, n, g.truth.expected_counts()))
    wh, wh_plain = str(ctx.tmp / "wh"), str(ctx.tmp / "wh_plain")
    t = ctx.tracer
    if ctx.trace:
        _trace_pipeline_layers(t)
    stat0 = host.proc_stat()
    res = []
    try:
        for k, drop in enumerate(drops):
            res.append(_etl_drop(ctx, drop, k, wh, out))
            if k == 0 and ctx.trace:
                shutil.copytree(wh, wh_plain)
    finally:
        t.unwrap_all()
    out.host = host.host_conditions(stat0, host.proc_stat())
    out.op_s = [dt for dt, _, _ in res]
    out.rows = sum(n for _, n, _ in drops)
    out.rows_wall_s = sum(out.op_s)
    if not ctx.trace:
        return out

    with t.paused():
        plain, _, _ = _etl_drop(ctx, drops[1], 1, wh_plain, out)
    out.root_spans = [sid for _, _, sid in res]
    counters = t.spark_counters()
    # copy-on-write amplification, from the engine: rows the merge writes
    # of the incremental drops produced, per input row of those drops
    written = sum(t.inclusive(counters, s)["output_records"]
                  for _, _, sid in res[1:] for s in t.descendants(sid)
                  if t.spans[s]["name"].startswith("operators.warehouse."))
    # dedup outcome (fixed by the data): staging keeps one row per key of
    # all raw rows so far
    kept = sum(c[f"staging.{name}"] for _, c, _ in res
               for name in ("stg_students", "stg_progress", "stg_tickets"))
    raw_in = sum(c[f"raw.{name}"] for _, c, _ in res
                 for name in ("students_enrollment", "student_progress", "support_tickets"))
    out.layer.update({
        "sources.csv_ingest.read_raw_csv_s": t.total("sources.csv_ingest.read_raw_csv"),
        "sources.csv_ingest.append_raw_s": t.total("sources.csv_ingest.append_raw"),
        "operators.warehouse.staging_merge_s": t.total("operators.warehouse.staging_merge"),
        "operators.warehouse.dim_fact_merge_s": t.total("operators.warehouse.dim_fact_merge"),
        "operators.warehouse.rows_written_per_row_in":
            written / sum(n for _, n, _ in drops[1:]),
        "operators.cleaning.rows_kept_per_row_in": kept / raw_in,
        "operators.analytics.views_s": t.total("operators.analytics.views"),
        "pipeline.run_batch_pipeline.self_s":
            t.total("pipeline.run_batch_pipeline", self_time=True),
        "bench.tracing_overhead_frac": out.op_s[1] / plain - 1.0,
    })
    return out


# ---------------------------------------------------------------------------
# event_stream
# ---------------------------------------------------------------------------

STREAM_RATE = 2.0  # event files per second, open loop, below capacity
STREAM_EVENTS_PER_FILE = 20
STREAM_WARMUP_S = 4.0  # files due in the first seconds are not timed
BACKLOG_FILES = 10  # one micro-batch at the source's maxFilesPerTrigger
BACKLOG_EVENTS_PER_FILE = 10000


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Input file name -> micro-batch id, from the file source's log."""
    out = {}
    log_dir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _commit_times(checkpoint: str) -> dict[int, float]:
    d = os.path.join(checkpoint, "commits")
    return {int(n): os.stat(os.path.join(d, n)).st_mtime
            for n in os.listdir(d) if n.isdigit()}


def _read_ids(path: str) -> list[str]:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return []
    return ds.dataset(path, format="parquet").to_table(columns=["event_id"]).column(
        "event_id").to_pylist()


def _check_stream(out: Outcome, phase: str, sinks: dict, truth: dict, n_ops: int) -> int:
    """Check a phase's sinks against the generator; return the DLQ rows."""
    good, dlq = _read_ids(sinks["good"]), _read_ids(sinks["dlq"])
    ids, invalid = set(truth["ids"]), set(truth["invalid_ids"])
    problems = []
    if set(good) | set(dlq) != ids:
        problems.append(f"distinct output ids {len(set(good) | set(dlq))} != {len(ids)}")
    if len(dlq) != len(invalid) or set(dlq) != invalid:
        problems.append(f"dlq rows {len(dlq)} != invalid {len(invalid)}")
    if len(good) != len(ids - invalid):
        problems.append(f"good rows {len(good)} != valid ids {len(ids - invalid)}")
    if problems:
        out.fail(f"event_stream {phase}: {problems}", n_ops)
    return len(dlq)


def _start_stream(ctx: Ctx, src_dir: str, base: Path, available_now: bool):
    from edu_data_pipeline_spark.streaming import jobs

    sinks = {k: str(base / k) for k in ("good", "dlq", "alerts")}
    t = ctx.tracer
    with t.span("streaming.jobs.build"):
        src = jobs.read_event_stream_json(ctx.spark, src_dir)
        deduped = jobs.dedup_event_stream(jobs.clean_event_stream(src))
        sink = jobs.foreach_batch_fanout(sinks["good"], sinks["dlq"], sinks["alerts"])
    w = deduped.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(base / "checkpoint"))
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="0 seconds")
    return w.start(), sinks


def _progress_layer(progress: list[dict]) -> dict[str, float]:
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in busy]
    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "streaming.jobs.batch_ms": statistics.median(d["triggerExecution"] for d in dur),
        "streaming.jobs.trigger_overhead_ms": statistics.median(
            d["triggerExecution"] - d.get("addBatch", 0) for d in dur),
        "streaming.jobs.state_rows": max(s["numRowsTotal"] for s in state),
        "streaming.jobs.state_mem_bytes": max(s["memoryUsedBytes"] for s in state),
    }


def _write_backlog(src: Path, seed: int, files: int, per_file: int) -> dict:
    """Event files already waiting when a query starts; returns the truth
    the sink check needs."""
    staging = Path(f"{src}.staging")
    src.mkdir(parents=True)
    staging.mkdir()
    rng = random.Random(seed)
    truth = gen.StreamTruth()
    for i in range(files):
        lines = gen.event_file_lines(rng, 100000 + i, per_file, gen.EVENT_DAY, truth)
        write_event_file(str(src), str(staging), f"events-{i:06d}.json", lines)
    return {"ids": truth.ids, "invalid_ids": truth.invalid_ids, "rows": truth.rows}


def _live_phase(ctx: Ctx, base: Path, out: Outcome) -> dict[str, float]:
    """Open loop: the generator process drops files on schedule while the
    query runs with back-to-back micro-batches. Per-file latency is the
    commit time of the micro-batch holding the file minus the file's due
    time. Returns the streaming layer numbers."""
    t = ctx.tracer
    live_in, summary = base / "live_in", base / "live_gen.json"
    live_in.mkdir(parents=True)
    n_files = int((STREAM_WARMUP_S + ctx.seconds) * STREAM_RATE)
    with t.span("op.stream_live") as sid:
        q, sinks = _start_stream(ctx, str(live_in), base / "live", available_now=False)
        if sid is not None:
            t.bind_stream(q, sid)
            out.root_spans.append(sid)
        start = time.time() + 1.0
        gen_proc = subprocess.Popen(
            [sys.executable, str(HERE / "stream_gen.py"), "--out", str(live_in),
             "--summary", str(summary), "--seed", str(ctx.seed), "--start", str(start),
             "--rate", str(STREAM_RATE), "--files", str(n_files),
             "--events-per-file", str(STREAM_EVENTS_PER_FILE)])
        try:
            if gen_proc.wait(timeout=n_files / STREAM_RATE + 60) != 0:
                raise RuntimeError("stream generator failed")
        finally:
            if gen_proc.poll() is None:
                gen_proc.kill()
                gen_proc.wait()
        truth = json.loads(summary.read_text())
        deadline = time.monotonic() + 60
        while time.monotonic() < deadline and q.exception() is None:
            done = sum(p["numInputRows"] for p in q.recentProgress)
            if done >= truth["rows"] and not q.status["isTriggerActive"]:
                break
            time.sleep(0.05)
        progress = list(q.recentProgress)
        err = q.exception()
        q.stop()
    if err is not None:
        raise RuntimeError(f"event_stream live query failed: {err}")

    ck = str(base / "live" / "checkpoint")
    batch_of, commits = _file_batches(ck), _commit_times(ck)
    files = truth["files"]
    # time whole micro-batches only, those holding no file due in the
    # warm-up, and not the one holding the last file, which the end of
    # the schedule leaves short: within a batch latency falls from the
    # oldest file to the newest, so a window cutting a batch would shift
    # the percentiles
    warm_end = start + STREAM_WARMUP_S
    first_due: dict[int, float] = {}
    for f in files:
        b = batch_of.get(f["name"])
        if b is None or b not in commits:  # the sink check below fails too
            out.errors.append(f"event_stream: {f['name']} never committed")
        else:
            first_due[b] = min(first_due.get(b, f["due"]), f["due"])
    last = batch_of.get(files[-1]["name"])
    whole = [f for f in files if first_due.get(batch_of.get(f["name"]), 0) >= warm_end
             and batch_of[f["name"]] != last]
    # a batch so slow that it spans the whole window leaves no whole batch
    timed = whole or [f for f in files if f["due"] >= warm_end and
                      batch_of.get(f["name"]) in first_due]
    out.op_s += [commits[batch_of[f["name"]]] - f["due"] for f in timed]
    backlog = []
    for b, c in commits.items():
        arrived = sum(1 for f in files if f["written"] <= c)
        consumed = sum(1 for f in files if batch_of.get(f["name"], 1 << 30) <= b)
        backlog.append(arrived - consumed)
    n_batches = sum(1 for p in progress if p.get("numInputRows", 0) > 0)
    out.attempted += n_batches
    dlq_rows = _check_stream(out, "live", sinks, truth, n_batches)
    layer = _progress_layer(progress)
    layer.update({
        "streaming.jobs.backlog_files": float(max(backlog)),
        "streaming.jobs.dlq_rows_per_row_in": dlq_rows / truth["rows"],
        "bench.generator_lag_ms": 1000.0 * max(f["written"] - f["due"] for f in files),
    })
    return layer


def event_stream(ctx: Ctx) -> Outcome:
    """A drain of a backlog with ``Trigger.AvailableNow`` right after
    session start (``rows_per_s``), as a scheduled catch-up job runs,
    then the open-loop phase (latency), which the drain has warmed.

    A traced run then drains the backlog again, warm, traced and
    untraced, for ``bench.tracing_overhead_frac``, and runs the registry
    query pass and the corpus pipeline (``_registry_pass``,
    ``_corpus_run``), the only place those layers are measured."""
    out = Outcome()
    t = ctx.tracer
    base = ctx.tmp / "stream"
    backlog = _write_backlog(base / "backlog_in", ctx.seed + 1, BACKLOG_FILES,
                             BACKLOG_EVENTS_PER_FILE)

    def drain(src: str, name: str, truth: dict) -> float:
        with t.span("op.stream_drain", phase=name) as sid:
            t0 = time.perf_counter()
            q, sinks = _start_stream(ctx, str(base / src), base / name, available_now=True)
            if sid is not None:
                t.bind_stream(q, sid)
                if name == "drain":  # the measured one
                    out.root_spans.append(sid)
            q.awaitTermination()
            dt = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"event_stream drain failed: {q.exception()}")
        n = sum(1 for p in q.recentProgress if p.get("numInputRows", 0) > 0)
        out.attempted += n
        _check_stream(out, name, sinks, truth, n)
        return dt

    stat0 = host.proc_stat()
    out.rows, out.rows_wall_s = backlog["rows"], drain("backlog_in", "drain", backlog)
    layer = _live_phase(ctx, base, out)
    out.host = host.host_conditions(stat0, host.proc_stat())
    if ctx.trace:
        traced = drain("backlog_in", "drain_traced", backlog)
        with t.paused():
            plain = drain("backlog_in", "drain_plain", backlog)
        out.layer.update(layer)
        out.layer["bench.tracing_overhead_frac"] = traced / plain - 1.0
        out.layer.update(_registry_pass(ctx, out))
        out.layer.update(_corpus_run(ctx, out))
    return out


# ---------------------------------------------------------------------------
# traced-only layers: registry query pass and corpus curation
# ---------------------------------------------------------------------------

# Star-schema and event queries of the registry, each with a DuckDB oracle.
SUITE_QUERIES = [
    "pricing_summary", "region_revenue", "customer_360", "user_sessions",
    "revenue_rollup", "events_grouping_sets", "supplier_late_blame", "user_funnel",
]
SUITE_SF = 0.01
CORPUS_DOCS = 2000


def _registry_pass(ctx: Ctx, out: Outcome) -> dict[str, float]:
    """The queries in a seed-shuffled order by one sequential client over
    seed-generated tables. First each query against its DuckDB oracle
    (``parity.compare_query``), untraced: the correctness check and the
    warm-up pass. Then the traced pass: ``suite.plan`` is the registry
    call (analysis and table footers), ``suite.exec`` the noop-sink
    write. Caches are released after every query."""
    from edu_data_pipeline_spark import parity
    from edu_data_pipeline_spark.suite import load_all, release_caches

    sf = str(ctx.tmp / "sf")
    gen.write_star_schema(ctx.seed, sf, SUITE_SF)
    registry = load_all()
    names = list(SUITE_QUERIES)
    random.Random(ctx.seed).shuffle(names)
    con = parity.duck_connection(sf)
    t = ctx.tracer
    try:
        with t.paused():
            for name in names:
                out.attempted += 1
                res = parity.compare_query(ctx.spark, con, registry[name], sf)
                ctx.spark.catalog.clearCache()
                if not res.ok:
                    out.fail(f"suite {name} differs from its oracle: {res.problems[:3]}")
    finally:
        con.close()
    query_s = []
    for name in names:
        with t.span("suite.query", query=name) as sid:
            with t.span("suite.plan"):
                df = registry[name].fn(ctx.spark, sf)
            with t.span("suite.exec"):
                df.write.format("noop").mode("overwrite").save()
        query_s.append(t.spans[sid]["end"] - t.spans[sid]["start"])
        release_caches()
        ctx.spark.catalog.clearCache()
    return {
        "suite.plan_s": t.total("suite.plan"),
        "suite.exec_s": t.total("suite.exec"),
        "suite.query_p50_s": statistics.median(query_s),
        "suite.query_p90_s": percentile(query_s, 0.9),
    }


def _corpus_run(ctx: Ctx, out: Outcome, n_docs: int = CORPUS_DOCS) -> dict[str, float]:
    """``run_corpus_pipeline`` (no eval screen) on seed-generated documents
    with injected exact and near duplicates, traced: spans around the
    connected-components call, each parquet write and each ``count()``.
    Checks: the bronze and quality-gate counts, every injected exact copy
    removed (and nothing else by exact dedup), near-dup dedup removes
    some but never merges two base documents, gold holds silver."""
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameWriter

    from edu_data_pipeline_spark import caches
    from edu_data_pipeline_spark.operators import corpus

    cols, truth = gen.corpus_docs(ctx.seed, n_docs)
    src = ctx.tmp / "corpus_in"
    src.mkdir()
    gen.write_parquet(str(src / "docs.parquet"), cols)
    dst = str(ctx.tmp / "corpus_out")
    t = ctx.tracer
    cc_name = "operators.corpus.connected_components"
    rounds = []
    orig_checkpoint = caches.local_checkpoint

    def checkpoint(*args, **kwargs):
        if t.innermost() == cc_name:  # the initial labels, then one per round
            rounds.append(1)
        return orig_checkpoint(*args, **kwargs)

    t.wrap(corpus, "connected_components", cc_name)
    t.patch(caches, "local_checkpoint", checkpoint)
    t.wrap(DataFrameWriter, "parquet",
           name_fn=lambda w, path, *a: f"operators.corpus.write.{os.path.basename(path)}")
    docs = ctx.spark.read.parquet(str(src))
    t.wrap(type(docs), "count", "operators.corpus.count")  # the classic DataFrame
    try:
        with t.span("operators.corpus.run_corpus_pipeline") as sid:
            counts = corpus.run_corpus_pipeline(ctx.spark, docs, dst)
    finally:
        t.unwrap_all()
    out.attempted += 1

    after = counts["after_exact_dedup"]
    silver_ids = set(pq.read_table(os.path.join(dst, "silver"), columns=["doc_id"])
                     .column("doc_id").to_pylist())
    problems = []
    if counts["bronze"] != truth.n_docs or counts["quality_pass"] != truth.n_docs:
        problems.append(f"bronze/quality_pass {counts['bronze']}/{counts['quality_pass']} "
                        f"!= {truth.n_docs}")
    if after != truth.n_docs - len(truth.exact_copy_ids):
        problems.append(f"after_exact_dedup {after} != "
                        f"{truth.n_docs - len(truth.exact_copy_ids)}")
    if not truth.n_base <= counts["silver"] < after:
        problems.append(f"silver {counts['silver']} outside [{truth.n_base}, {after})")
    if silver_ids & truth.exact_copy_ids or len(silver_ids) != counts["silver"]:
        problems.append("silver holds an injected exact copy or repeats a doc id")
    if counts["gold"] != counts["silver"]:
        problems.append(f"gold {counts['gold']} != silver {counts['silver']}")
    if problems:
        out.fail(f"corpus: {problems}")

    spans = [s for s in t.spans if s["parent"] == sid]
    silver_end = max(s["end"] for s in spans if s["name"] == "operators.corpus.write.silver")
    run_s = t.spans[sid]["end"] - t.spans[sid]["start"]
    return {
        "operators.corpus.silver_s": t.total("operators.corpus.write.silver"),
        "operators.corpus.connected_components_s": t.total(cc_name),
        "operators.corpus.cc_rounds": float(len(rounds) - 1),
        # counts after the silver write recompute their lazy upstream
        "operators.corpus.recount_s": sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "operators.corpus.count" and s["start"] >= silver_end),
        "operators.corpus.gold_s": t.total("operators.corpus.write.gold"),
        "operators.corpus.docs_per_s": truth.n_docs / run_s,
    }


WORKLOADS = {
    "etl_batch": etl_batch,
    "event_stream": event_stream,
}
