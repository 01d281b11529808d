"""In-memory span tracer for the benchmark's calls into the program.

A span records name, start, end, parent and run id. Spans are opened by
the benchmark around the public functions it calls, and, during a traced
run, around public functions the program calls internally (by swapping
the module attribute for a wrapper for the length of the run; see
``Tracer.wrap``). Nothing in the program is edited.

Reading a trace:

- Self time of a span is its duration minus the part covered by its
  children (``self_times``).
- Spark plans are lazy. A call that only builds a DataFrame (cleaning
  rules, ``dedup_last_wins``, view builders) shows near-zero self time;
  its compute runs inside the later action (a parquet write, a merge, a
  ``count()``) and is charged to the span of that action.
- Each span sets a Spark job group while it is innermost, so every job
  is charged to exactly one span. Engine counters come from the local
  Spark UI REST API once, after the measured section, and are summed
  per span (``spark_counters``); a span's inclusive counters add its
  descendants'. Micro-batch jobs of a streaming query carry the query's
  run id as their group and are charged to the span that ran the query.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from collections import defaultdict

SPARK_COUNTERS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "jvm_gc_s",
    "shuffle_write_bytes", "spill_bytes", "output_bytes", "output_records",
)


class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every call a no-op
    except the plain timing the caller does itself."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._stream_groups: dict[str, int] = {}  # streaming runId -> span id
        self._patches: list[tuple[object, str, object]] = []
        self._counters: dict[int, dict[str, float]] | None = None

    # ---- spans ----------------------------------------------------------

    def _group(self, span_id: int | None) -> str | None:
        return None if span_id is None else f"{self.run_id}:{span_id}"

    def _set_group(self, span_id: int | None) -> None:
        sc = self.spark.sparkContext
        if span_id is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(self._group(span_id), self.spans[span_id]["name"])

    def _open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id, "start": time.perf_counter(), "end": None, **attrs,
        })
        self._stack.append(sid)
        self._set_group(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        self._stack.remove(sid)
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Nested span on the calling thread; sets the Spark job group."""
        if not self.enabled:
            yield None
            return
        sid = self._open(name, **attrs)
        try:
            yield sid
        finally:
            self._close(sid)

    def push(self, name: str) -> int | None:
        """Open a span that stays innermost until ``pop`` (for spans that
        start and end in different calls)."""
        return self._open(name) if self.enabled else None

    def pop(self, sid: int) -> None:
        self._close(sid)

    def innermost(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    @contextlib.contextmanager
    def paused(self):
        """Run a block untraced (wrappers installed by ``wrap`` pass
        straight through while paused)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def bind_stream(self, query, sid: int) -> None:
        """Charge the micro-batch jobs of ``query`` to span ``sid``."""
        self._stream_groups[str(query.runId)] = sid

    # ---- wrapping program functions ------------------------------------

    def wrap(self, owner, attr: str, name: str | None = None, name_fn=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper until ``unwrap_all``.
        ``name_fn(*args)`` may pick the span name per call."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"

        def wrapper(*args, **kwargs):
            with self.span(name_fn(*args) if name_fn else label):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        self.patch(owner, attr, wrapper)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` until ``unwrap_all`` restores it."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # ---- derived numbers ---------------------------------------------------

    def children(self) -> dict[int | None, list[int]]:
        out: dict[int | None, list[int]] = defaultdict(list)
        for s in self.spans:
            out[s["parent"]].append(s["id"])
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        kids = self.children()
        out = {}
        for s in self.spans:
            ivs = sorted((self.spans[k]["start"], self.spans[k]["end"])
                         for k in kids.get(s["id"], []))
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in ivs:
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str, self_time: bool = False) -> float:
        st = self.self_times() if self_time else None
        return sum((st[s["id"]] if st else s["end"] - s["start"])
                   for s in self.spans if s["name"] == name)

    def descendants(self, sid: int) -> list[int]:
        kids, out, todo = self.children(), [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(kids.get(cur, []))
        return out

    def spark_counters(self, wait_s: float = 10.0) -> dict[int, dict[str, float]]:
        """Per-span SELF engine counters from the UI REST API (localhost),
        read once, after the last traced job."""
        if self._counters is None:
            self._counters = self._read_counters(wait_s)
        return self._counters

    def _read_counters(self, wait_s: float) -> dict[int, dict[str, float]]:
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

        def get(path):
            with urllib.request.urlopen(base + path, timeout=30) as resp:
                return json.load(resp)

        # the status store is fed asynchronously: wait until no job runs
        deadline = time.monotonic() + wait_s
        jobs = get("/jobs")
        while any(j["status"] == "RUNNING" for j in jobs) and time.monotonic() < deadline:
            time.sleep(0.2)
            jobs = get("/jobs")
        stages = defaultdict(list)
        for st in get("/stages"):
            stages[st["stageId"]].append(st)
        groups = {self._group(s["id"]): s["id"] for s in self.spans}
        groups.update(self._stream_groups)
        out: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(SPARK_COUNTERS, 0.0))
        counted: set[int] = set()  # a reused shuffle stage is listed by later jobs too
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            sid = groups.get(job.get("jobGroup"))
            if sid is None:
                continue
            c = out[sid]
            c["jobs"] += 1
            for stage_id in set(job.get("stageIds", [])) - counted:
                counted.add(stage_id)
                for st in stages.get(stage_id, []):
                    c["tasks"] += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
                    c["failed_tasks"] += st.get("numFailedTasks", 0)
                    c["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
                    c["jvm_gc_s"] += st.get("jvmGcTime", 0) / 1000.0
                    c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    c["spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                         + st.get("diskBytesSpilled", 0))
                    c["output_bytes"] += st.get("outputBytes", 0)
                    c["output_records"] += st.get("outputRecords", 0)
        return dict(out)

    def inclusive(self, counters: dict[int, dict[str, float]], sid: int) -> dict[str, float]:
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for d in self.descendants(sid):
            for k, v in counters.get(d, {}).items():
                tot[k] += v
        return tot

    def dump(self, path: str, counters: dict[int, dict[str, float]], extra: dict) -> None:
        st = self.self_times()
        rows = [dict(s, self_s=st[s["id"]], spark=counters.get(s["id"])) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, **extra, "spans": rows}, fh, indent=1)
