"""Traced runs: spans around calls into each layer, Spark jobs attributed
by time window, and the per-layer metrics derived from both.

Spans are taken from outside the library: ``Tracer.install`` replaces the
public functions of each layer with a wrapper that records (name, layer,
start, end, parent) and restores the originals in ``uninstall``. Spans are
kept in memory and turned into metrics when the run ends.

Jobs are attributed by submission time from the status store, never by
job group: jobs launched from ``sif_spark.table._parallel_jobs`` threads
do not carry the caller's job group, so a group-scoped count misses them.
"""

from __future__ import annotations

import functools
import json
import math
import statistics
import threading
import time

import gen

# Op types a workload reports; per-kind metrics are emitted for each, zero
# where the workload has no such op.
KINDS = ("merge", "catchup", "knn")
# The SifTable calls cdc_ann makes: its corpus merges and reads, and the
# index maintainer's and the mirror's upserts, merges and deletes.
TABLE_OPS = ("upsert", "merge", "delete_keys", "read")
LAYERS = ("session", "queries", "operators", "table", "logstore", "streaming", "driver", "bench")
CONSUMERS = ("ann", "mirror")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit."""
    u: dict[str, str] = {}
    for name in ("jobs", "tasks", "failed_tasks"):
        u[f"spark.{name}"] = "count"
    for name in ("busy_s", "gap_s", "executor_run_s", "executor_cpu_s"):
        u[f"spark.{name}"] = "s"
    u["spark.shuffle_bytes"] = "B"
    u["spark.input_bytes"] = "B"
    for k in KINDS:
        u[f"spark.jobs.{k}"] = "count/op"
        u[f"spark.busy_s.{k}"] = "s/op"
        u[f"spark.gap_s.{k}"] = "s/op"
        u[f"py4j.calls.{k}"] = "count/op"
    u["driver.py_cpu_s"] = "s"
    u["driver.jvm_cpu_s"] = "s"
    u["udf.worker_cpu_s"] = "s"
    u["py4j.calls"] = "count"
    u["session.start_s"] = "s"
    u["queries.build_s"] = "s/pass"
    u["queries.build_jobs"] = "count/pass"
    u["queries.exec_s"] = "s/pass"
    for name in gen.BASKET:
        u[f"entry.{name}.s"] = "s"
    u["ann.knn_s"] = "s"
    u["ann.knn_jobs"] = "count"
    u["ann.index_rows"] = "count"
    for op in TABLE_OPS:
        u[f"table.{op}.s"] = "s"
        u[f"table.{op}.jobs"] = "count"
        u[f"table.{op}.gap_s"] = "s"
    u["table.groups_rewritten_per_commit"] = "count"
    u["table.group_skip_ratio"] = "ratio"
    u["table.rows_rewritten_per_changed_row"] = "ratio"
    u["table.live_groups"] = "count"
    u["table.write_bytes_per_changed_row"] = "B/row"
    for m in ("read_text", "list_names", "put_if_absent"):
        u[f"logstore.{m}.calls"] = "count"
    u["logstore.s"] = "s"
    u["logstore.conflicts"] = "count"
    for c in CONSUMERS:
        u[f"stream.{c}.batches"] = "count"
        u[f"stream.{c}.trigger_s"] = "s"
        u[f"stream.{c}.add_batch_s"] = "s"
        u[f"stream.{c}.latest_offset_s"] = "s"
        u[f"stream.{c}.rows_per_batch"] = "rows"
        u[f"stream.{c}.start_s"] = "s"
    for layer in LAYERS:
        u[f"self_s.{layer}"] = "s"
    for name in ("setup_s", "pass_s", "op_geomean_s"):
        u[f"traced.{name}"] = "s"
    return u


class Tracer:
    def __init__(self) -> None:
        # span: [name, layer, start, end, parent index, result flag]
        self.spans: list[list] = []
        # one (start, seconds, enclosing span index) per py4j send
        self.sends: list[tuple[float, float, int]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @property
    def py4j_calls(self) -> int:
        return len(self.sends)

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> int:
        st = self._stack()
        span = [name, layer, time.time(), None, st[-1] if st else -1, None]
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, result=None) -> None:
        idx = self._stack().pop()
        self.spans[idx][3] = time.time()
        self.spans[idx][5] = result

    # -- wrapping --------------------------------------------------------

    def _wrap(self, owner, attr: str, name: str, layer: str, flag=None) -> None:
        raw = owner.__dict__[attr]
        is_static = isinstance(raw, staticmethod)
        fn = raw.__func__ if is_static else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            tracer.begin(name, layer)
            result = None
            try:
                out = fn(*args, **kwargs)
                result = flag(out) if flag is not None else None
                return out
            finally:
                tracer.end(result)

        setattr(owner, attr, staticmethod(traced) if is_static else traced)
        self._patched.append((owner, attr, raw))

    def _wrap_send(self, cls) -> None:
        raw = cls.__dict__["send_command"]
        tracer = self

        @functools.wraps(raw)
        def send_command(*args, **kwargs):
            st = tracer._stack()
            t0 = time.time()
            try:
                return raw(*args, **kwargs)
            finally:
                tracer.sends.append((t0, time.time() - t0, st[-1] if st else -1))

        cls.send_command = send_command
        self._patched.append((cls, "send_command", raw))

    def install(self) -> None:
        import py4j.java_gateway

        from sif_spark import logstore, session, table
        from sif_spark.operators import dedup, similarity, text
        from sif_spark.sources import table_stream
        from sif_spark.streaming import stream

        self._wrap(session, "get_session", "session.get_session", "session")
        for m in (
            "create", "upsert", "merge", "delete_keys", "delete", "compact",
            "append", "lookup", "read", "changes", "overwrite",
        ):
            self._wrap(table.SifTable, m, f"table.{m}", "table")
        for cls in vars(logstore).values():
            if isinstance(cls, type) and issubclass(cls, logstore.LogStore):
                for m in ("read_text", "list_names", "put_if_absent", "delete"):
                    if m in cls.__dict__ and not getattr(cls.__dict__[m], "__isabstractmethod__", False):
                        flag = (lambda ok: not ok) if m == "put_if_absent" else None
                        self._wrap(cls, m, f"logstore.{m}", "logstore", flag)
        for f in ("ivf_knn", "assign_cells", "maintain_ivf_index_table"):
            self._wrap(similarity, f, f"ann.{f}", "operators")
        for f in ("ngram_jaccard_pairs", "exact_dedup", "near_dup_clusters"):
            self._wrap(dedup, f, f"dedup.{f}", "operators")
        self._wrap(text, "shingle_hash_rows", "text.shingle_hash_rows", "operators")
        self._wrap(stream, "merge_changes_into_table", "stream.merge_changes_into_table", "streaming")
        self._wrap(table_stream, "register_table_source", "stream.register_table_source", "streaming")
        # the pinned-thread JavaClient inherits send_command from here
        self._wrap_send(py4j.java_gateway.GatewayClient)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- derived metrics -------------------------------------------------

    def spans_named(self, name: str, window: tuple[float, float]) -> list[list]:
        """Outermost finished spans called ``name`` that start in ``window``."""
        out = []
        for s in self.spans:
            if s[0] != name or s[3] is None or not (window[0] <= s[2] <= window[1]):
                continue
            p, nested = s[4], False
            while p >= 0:
                if self.spans[p][0] == name:
                    nested = True
                    break
                p = self.spans[p][4]
            if not nested:
                out.append(s)
        return out

    def self_time(self, window: tuple[float, float]) -> dict[str, float]:
        """Self time per layer inside ``window``: each span's clipped
        duration minus its children's and minus its py4j sends, which are
        the ``driver`` layer's self time."""
        lo, hi = window

        def clip(a, b):
            return max(0.0, min(b, hi) - max(a, lo))

        own = [clip(s[2], s[3] if s[3] is not None else hi) for s in self.spans]
        minus = [0.0] * len(self.spans)
        for i, s in enumerate(self.spans):
            if s[4] >= 0:
                minus[s[4]] += own[i]
        out = dict.fromkeys(LAYERS, 0.0)
        for t0, dt, parent in self.sends:
            d = clip(t0, t0 + dt)
            out["driver"] += d
            if parent >= 0:
                minus[parent] += d
        for i, s in enumerate(self.spans):
            out[s[1]] = out.get(s[1], 0.0) + max(0.0, own[i] - minus[i])
        return out


# -- Spark status store --------------------------------------------------------


def fetch_status(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages in the status store, as JSON from one py4j call
    each (Spark's own REST serialisation: Jackson with the Scala module)."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_mod.__getattr__("MODULE$"))
    store = spark._jsc.sc().statusStore()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stage_list = store.stageList(None, False, False, no_quantiles, None)
    stages: dict[int, dict] = {}
    for st in json.loads(mapper.writeValueAsString(stage_list)):
        acc = stages.setdefault(st["stageId"], dict.fromkeys(
            ("executorRunTime", "executorCpuTime", "shuffleWriteBytes", "inputBytes"), 0))
        for k in acc:
            acc[k] += st.get(k) or 0
    now_ms = time.time() * 1000.0
    for j in jobs:
        j["t0"] = (j.get("submissionTime") or now_ms) / 1000.0
        j["t1"] = (j.get("completionTime") or now_ms) / 1000.0
    return jobs, stages


def jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    """Jobs submitted in [lo, hi]. The status store keeps milliseconds
    (truncated), so the window opens at the millisecond ``lo`` falls in."""
    lo = math.floor(lo * 1000.0) / 1000.0
    return [j for j in jobs if lo <= j["t0"] <= hi]


def busy(jobs: list[dict], lo: float, hi: float) -> float:
    """Length of the union of the jobs' [submit, complete] intervals,
    clipped to [lo, hi]."""
    iv = sorted((max(lo, j["t0"]), min(hi, j["t1"])) for j in jobs)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spark_metrics(run, jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    lo, hi = run.phase
    js = jobs_in(jobs, lo, hi)
    stage_ids = {s for j in js for s in j.get("stageIds", [])}
    st = [stages[s] for s in stage_ids if s in stages]
    b = busy(js, lo, hi)
    out = {
        "spark.jobs": len(js),
        "spark.tasks": sum(
            j["numCompletedTasks"] + j["numFailedTasks"] + j["numKilledTasks"] for j in js
        ),
        "spark.failed_tasks": sum(j["numFailedTasks"] for j in js),
        "spark.busy_s": b,
        "spark.gap_s": (hi - lo) - b,
        "spark.executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "spark.shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "spark.input_bytes": sum(s["inputBytes"] for s in st),
    }
    for k in KINDS:
        ops = [s for s in run.samples if s.kind == k]
        n = len(ops) or 1
        njobs = bsy = gap = 0.0
        for s in ops:
            w = jobs_in(jobs, s.start, s.end)
            njobs += len(w)
            bb = busy(w, s.start, s.end)
            bsy += bb
            gap += s.seconds - bb
        out[f"spark.jobs.{k}"] = njobs / n
        out[f"spark.busy_s.{k}"] = bsy / n
        out[f"spark.gap_s.{k}"] = gap / n
        out[f"py4j.calls.{k}"] = sum(s.py4j for s in ops) / n
    return out


def layer_metrics(tracer: Tracer, run, jobs: list[dict]) -> dict[str, float]:
    """table.*, logstore.*, ann.* and self_s.* over the measured phase."""
    phase = run.phase
    out: dict[str, float] = {}
    for op in TABLE_OPS:
        spans = tracer.spans_named(f"table.{op}", phase)
        njobs = wall = gap = 0.0
        for s in spans:
            w = jobs_in(jobs, s[2], s[3])
            njobs += len(w)
            wall += s[3] - s[2]
            gap += (s[3] - s[2]) - busy(w, s[2], s[3])
        out[f"table.{op}.s"] = wall
        out[f"table.{op}.jobs"] = njobs
        out[f"table.{op}.gap_s"] = gap
    store_s = 0.0
    for m in ("read_text", "list_names", "put_if_absent", "delete"):
        spans = tracer.spans_named(f"logstore.{m}", phase)
        store_s += sum(s[3] - s[2] for s in spans)
        if m != "delete":
            out[f"logstore.{m}.calls"] = len(spans)
        if m == "put_if_absent":
            out["logstore.conflicts"] = sum(1 for s in spans if s[5])
    out["logstore.s"] = store_s
    knn = tracer.spans_named("ann.ivf_knn", phase)
    out["ann.knn_s"] = sum(s[3] - s[2] for s in knn)
    out["ann.knn_jobs"] = sum(len(jobs_in(jobs, s[2], s[3])) for s in knn)
    everything = (0.0, float("inf"))
    out["session.start_s"] = sum(s[3] - s[2] for s in tracer.spans_named("session.get_session", everything))
    for layer, sec in tracer.self_time(phase).items():
        out[f"self_s.{layer}"] = sec
    lo, hi = phase
    out["py4j.calls"] = sum(1 for t0, _, _ in tracer.sends if lo <= t0 <= hi)
    return out


def query_metrics(run, builds: list[tuple[str, float, float]], jobs: list[dict]) -> dict[str, float]:
    """queries.* and entry.* of analytic_mix: build time and the jobs a
    builder runs eagerly, per pass; execution time (the rest of each
    entry) per pass; each entry's median build + execute time."""
    lo, hi = run.phase
    builds = [b for b in builds if lo <= b[1] <= hi]
    entries = [s for s in run.samples if s.metric == "query" and s.ok]
    passes = max(len(run.passes), 1)
    out = {
        "queries.build_s": sum(t1 - t0 for _, t0, t1 in builds) / passes,
        "queries.build_jobs": sum(len(jobs_in(jobs, t0, t1)) for _, t0, t1 in builds) / passes,
        "queries.exec_s": (sum(s.seconds for s in entries) - sum(t1 - t0 for _, t0, t1 in builds)) / passes,
    }
    for name in gen.BASKET:
        xs = [s.seconds for s in entries if s.kind == name]
        out[f"entry.{name}.s"] = statistics.median(xs) if xs else 0.0
    return out


def manifest_metrics(table_path: str, first: int, last: int, changed_rows: int) -> dict[str, float]:
    """Group-level write metrics of versions (first, last] of a table,
    read from its committed manifests: groups rewritten per commit, the
    share of live groups a keyed commit left untouched, rows written per
    changed row, and the live group count at ``last``."""

    def groups(v: int) -> dict[str, int]:
        with open(f"{table_path}/_manifests/v{v:010d}.json") as fh:
            m = json.load(fh)
        return {g["id"]: g.get("rows", 0) for g in m["groups"]}

    prev = groups(first)
    rewritten = untouched = live = written_rows = commits = 0
    for v in range(first + 1, last + 1):
        cur = groups(v)
        commits += 1
        rewritten += len(set(prev) - set(cur))
        untouched += len(set(prev) & set(cur))
        live += len(prev)
        written_rows += sum(r for g, r in cur.items() if g not in prev)
        prev = cur
    return {
        "table.groups_rewritten_per_commit": rewritten / max(commits, 1),
        "table.group_skip_ratio": untouched / max(live, 1),
        "table.rows_rewritten_per_changed_row": written_rows / max(changed_rows, 1),
        "table.live_groups": len(prev),
    }


def stream_metrics(query, name: str, phase: tuple[float, float], start_s: float) -> dict[str, float]:
    """Micro-batch counts and durations of one consumer inside the
    measured phase, from the query's own progress reports."""
    from datetime import datetime

    lo, hi = phase
    batches = trig = add = latest = rows = 0.0
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else p
        ts = datetime.fromisoformat(d["timestamp"].replace("Z", "+00:00")).timestamp()
        if not (lo <= ts <= hi) or not d.get("numInputRows"):
            continue
        dur = d.get("durationMs", {})
        batches += 1
        trig += dur.get("triggerExecution", 0) / 1e3
        add += dur.get("addBatch", 0) / 1e3
        latest += dur.get("latestOffset", 0) / 1e3
        rows += d["numInputRows"]
    return {
        f"stream.{name}.batches": batches,
        f"stream.{name}.trigger_s": trig,
        f"stream.{name}.add_batch_s": add,
        f"stream.{name}.latest_offset_s": latest,
        f"stream.{name}.rows_per_batch": rows / batches if batches else 0.0,
        f"stream.{name}.start_s": start_s,
    }
