"""Layer-attributed tracing for the traced run.

The tracer wraps, from outside the program, the public entry point of each
layer. A wrapper opens a span, sets the Spark job description to the span's
id, calls the layer, and forces the lazily built frame it returns to
materialise inside the span (an eager local checkpoint, dropped when the
round ends), so the Spark work lands in the layer that planned it. Spans
are ``{id, name, start, end, parent, workload, round}``, kept in memory and
written out at the end. The stage probe then reads every completed stage
from Spark's status REST API and attributes it to a span by job
description.

Why a local checkpoint and not persist + count: with a dozen persisted
frames per round, every later query plan is matched against every cached
plan, which made the traced crawl 3.5x slower than the untraced one and
charged that cost to whichever layer ran next. A local checkpoint cuts
the plan instead.

Counting rows or files a layer did not itself need (rows in, maybe-seen,
blocked, bytes written) runs in a ``trace.count`` span, so that cost lands
on the harness, not on the layer.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request
from collections import defaultdict

# --------------------------------------------------------------------- spans


def merged_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Total length of the union of intervals, clipped to [lo, hi]."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - merged_length(kids[s["id"]], s["start"], s["end"])
        for s in spans
    }


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.spark = spark
        self.workload = workload
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.round: int | str | None = None
        self.counts: dict[str, float] = defaultdict(float)
        self.checkpoints: list = []

    def _describe(self) -> None:
        sc = self.spark.sparkContext
        sc.setJobDescription(f"span:{self.stack[-1]}" if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "start": time.perf_counter(), "end": None,
               "parent": self.stack[-1] if self.stack else None,
               "workload": self.workload, "round": self.round, **attrs}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        self._describe()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._describe()

    def add(self, key: str, value: float) -> None:
        self.counts[key] += value

    def materialize(self, df):
        """Compute ``df`` inside the current span and return it as a local
        checkpoint, held until release()."""
        out = df.localCheckpoint(eager=True)
        self.checkpoints.append(out)
        return out

    def count(self, df, where=None) -> int:
        with self.span("trace.count"):
            return (df if where is None else df.where(where)).count()

    def release(self) -> None:
        """Drop the round's checkpoints; Spark's context cleaner frees their
        blocks once nothing references them."""
        self.checkpoints.clear()

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=0)


# ------------------------------------------------------------ instrumentation


class Patches:
    """Set attributes for the traced pass and restore them afterwards."""

    def __init__(self) -> None:
        self._saved: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def restore(self) -> None:
        for owner, attr, value in reversed(self._saved):
            setattr(owner, attr, value)
        self._saved.clear()


def instrument_frontier(tr: Tracer) -> Patches:
    """Wrap the frontier layers' public entry points (module attributes are
    looked up at call time, so patching the module is enough)."""
    from pyspark.sql import functions as F

    from image_search_indexing_spark.frontier import extract, politeness, rounds, seen
    from image_search_indexing_spark.sources import catalog
    from harness import dir_bytes

    p = Patches()

    def wrap_frame(owner, attr, name, rows_in=None, after=None):
        fn = owner.__dict__[attr]

        def wrapped(*a, **kw):
            with tr.span(name):
                if rows_in is not None:
                    tr.add(f"{name}.rows_in", tr.count(a[rows_in]))
                out = fn(*a, **kw)
                df = out[0] if isinstance(out, tuple) else out
                if df is None:
                    return out
                df = tr.materialize(df)
                tr.add(f"{name}.rows_out", tr.count(df))
                if after:
                    after(df, a)
            return (df, *out[1:]) if isinstance(out, tuple) else df

        p.set(owner, attr, wrapped)

    wrap_frame(extract, "extract_refs_frontier", "extract")
    wrap_frame(politeness, "robots_filter", "robots",
               after=lambda df, a: tr.add("robots.blocked", tr.count(df, F.col("robots_blocked"))))
    wrap_frame(rounds, "_dedup_candidates", "dedup", rows_in=0)
    wrap_frame(seen, "filter_new_urls", "seen.filter", rows_in=1)
    seen_filter = seen.__dict__["filter_new_urls"]

    def filter_wrapped(*a, **kw):
        # the inputs of bloom_fp_ratio, from the calls where the Bloom ran
        keys = ("seen.probe.rows_out", "seen.probe.maybe", "seen.filter.rows_out")
        before = [tr.counts[k] for k in keys]
        out = seen_filter(*a, **kw)
        probed, maybe, kept = (tr.counts[k] - b for k, b in zip(keys, before))
        if probed:
            tr.add("seen.fp.probe_rows", probed)
            tr.add("seen.fp.maybe", maybe)
            tr.add("seen.fp.filter_out", kept)
        return out

    p.set(seen, "filter_new_urls", filter_wrapped)
    wrap_frame(seen, "bloom_probe", "seen.probe",
               after=lambda df, a: tr.add("seen.probe.maybe", tr.count(df, F.col("maybe_seen"))))
    wrap_frame(seen, "cuckoo_probe", "seen.cuckoo")
    wrap_frame(seen, "build_bloom_table", "bloom.build")
    wrap_frame(seen, "build_cuckoo_table", "cuckoo.build")
    wrap_frame(politeness, "schedule_round", "schedule", rows_in=0)

    merge = rounds.FrontierDriver.__dict__["_merge_blooms"].__func__

    def merge_blooms(old, delta):
        with tr.span("bloom.merge"):
            return tr.materialize(merge(old, delta))

    p.set(rounds.FrontierDriver, "_merge_blooms", staticmethod(merge_blooms))

    run_round = rounds.FrontierDriver.__dict__["run_round"]

    def round_wrapped(self, round_id, *a, **kw):
        tr.round = round_id
        try:
            with tr.span("round"):
                out = run_round(self, round_id, *a, **kw)
            tr.add("bloom.rebuilt_buckets", out.get("bloom_rebuilt_buckets", 0))
            return out
        finally:
            tr.release()
            tr.round = None

    p.set(rounds.FrontierDriver, "run_round", round_wrapped)

    invalidate = rounds.FrontierDriver.__dict__["invalidate"]

    def invalidate_wrapped(self, urls):
        tr.round = "invalidate"
        try:
            with tr.span("invalidate"):
                return invalidate(self, urls)
        finally:
            tr.release()
            tr.round = None

    p.set(rounds.FrontierDriver, "invalidate", invalidate_wrapped)

    write = catalog.Catalog.__dict__["write_table"]

    def write_wrapped(self, df, table, round_id, partition_by=None):
        with tr.span("catalog.write", table=table):
            path = write(self, df, table, round_id, partition_by)
        with tr.span("trace.count"):
            nbytes, nfiles = dir_bytes(path)
        tr.add("catalog.write_bytes", nbytes)
        tr.add("catalog.files", nfiles)
        return path

    p.set(catalog.Catalog, "write_table", write_wrapped)

    read = catalog.Catalog.__dict__["read_table"]

    def read_wrapped(self, spark, table, snapshot=None):
        with tr.span("catalog.read", table=table):
            df = read(self, spark, table, snapshot)
            return None if df is None else tr.materialize(df)

    p.set(catalog.Catalog, "read_table", read_wrapped)

    commit = catalog.Catalog.__dict__["commit"]

    def commit_wrapped(self, *a, **kw):
        with tr.span("catalog.commit"):
            return commit(self, *a, **kw)

    p.set(catalog.Catalog, "commit", commit_wrapped)
    return p


# ---------------------------------------------------------------- stage probe


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def fetch_stages(spark, settle_s: float = 15.0) -> list[dict]:
    """Completed stages, each tagged with its job's description.

    The UI's listener runs asynchronously; poll until the job list stops
    growing and no job is still running."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    last = -1
    while True:
        jobs = _get(f"{base}/jobs")
        running = any(j.get("status") == "RUNNING" for j in jobs)
        if (len(jobs) == last and not running) or time.time() > deadline:
            break
        last = len(jobs)
        time.sleep(0.5)
    desc_of_stage: dict[int, str] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds", []):
            desc_of_stage.setdefault(sid, j.get("description") or "")
    stages = _get(f"{base}/stages?status=complete&withSummaries=true&quantiles=0.5,1.0")
    out = []
    for s in stages:
        dist = (s.get("taskMetricsDistributions") or {}).get("executorRunTime") or [0, 0]
        out.append({
            "stage": s["stageId"],
            "desc": desc_of_stage.get(s["stageId"], ""),
            "run_ms": s.get("executorRunTime") or 0,
            "shuffle_bytes": (s.get("shuffleWriteBytes") or 0),
            "task_med_ms": float(dist[0]),
            "task_max_ms": float(dist[-1]),
        })
    return out


def task_skew(stages: list[dict]) -> float:
    """max / median task time of the heaviest stage (1.0 = even)."""
    if not stages:
        return 0.0
    s = max(stages, key=lambda s: s["run_ms"])
    return s["task_max_ms"] / max(1.0, s["task_med_ms"])


# ------------------------------------------------------------ layer metrics

# (name, unit, better) for every per-layer metric the traced run reports;
# a layer a workload does not run reports 0.
FRONTIER_METRICS = [
    ("extract.s", "s", "lower"), ("extract.refs_out", "count", "lower"),
    ("extract.task_skew", "x", "lower"),
    ("robots.s", "s", "lower"), ("robots.blocked", "count", "lower"),
    ("dedup.s", "s", "lower"), ("dedup.rows_in", "count", "lower"),
    ("dedup.rows_out", "count", "lower"), ("dedup.shuffle_mb", "MB", "lower"),
    ("dedup.task_skew", "x", "lower"), ("round.self_s", "s", "lower"),
    ("seen.filter_s", "s", "lower"), ("seen.probe_s", "s", "lower"),
    ("seen.bloom_maybe_ratio", "ratio", "lower"), ("seen.bloom_fp_ratio", "ratio", "lower"),
    ("seen.cuckoo_s", "s", "lower"), ("seen.shuffle_mb", "MB", "lower"),
    ("bloom.build_s", "s", "lower"), ("bloom.merge_s", "s", "lower"),
    ("bloom.rebuilt_buckets", "count", "lower"), ("cuckoo.build_s", "s", "lower"),
    ("invalidate.s", "s", "lower"),
    ("schedule.s", "s", "lower"), ("schedule.rows_in", "count", "lower"),
    ("schedule.rows_out", "count", "higher"), ("schedule.shuffle_mb", "MB", "lower"),
    ("schedule.task_skew", "x", "lower"),
    ("catalog.write_s", "s", "lower"), ("catalog.write_mb", "MB", "lower"),
    ("catalog.files", "count", "lower"), ("catalog.read_s", "s", "lower"),
    ("catalog.commit_s", "s", "lower"), ("catalog.state_mb", "MB", "lower"),
]


def op_metrics(queries: list[str]) -> list[tuple[str, str, str]]:
    out = []
    for q in queries:
        out += [(f"op.{q}.s", "s", "lower"), (f"op.{q}.shuffle_mb", "MB", "lower"),
                (f"op.{q}.task_skew", "x", "lower")]
    return out


def all_layer_metrics(queries: list[str]) -> list[tuple[str, str, str]]:
    return FRONTIER_METRICS + op_metrics(queries) + [("trace.overhead_s", "s", "lower")]


def bloom_fp_ratio(probe_rows: float, maybe_rows: float, filter_rows_out: float) -> float:
    """Share of Bloom maybe-seen rows that the exact join found new.

    The seen filter returns the rows the Bloom filter calls fresh (probed
    minus maybe-seen) plus the maybe-seen rows the exact join confirms new,
    so the false positives are ``filter_rows_out - (probe_rows - maybe_rows)``.
    A tombstoned URL the join resurrects counts as new here: it is new to
    the effective seen set, which is what the exact join decides."""
    if maybe_rows <= 0:
        return 0.0
    return (filter_rows_out - (probe_rows - maybe_rows)) / maybe_rows


def layer_metrics(spans: list[dict], stages: list[dict], counts: dict[str, float],
                  queries: list[str]) -> dict[str, float]:
    """Per-layer figures of one traced pass (see FRONTIER_METRICS)."""
    st = self_times(spans)
    name_of = {s["id"]: s["name"] for s in spans}
    self_s: dict[str, float] = defaultdict(float)
    for s in spans:
        self_s[s["name"]] += st[s["id"]]
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for s in stages:
        if s["desc"].startswith("span:"):
            by_layer[name_of.get(int(s["desc"][5:]), "")].append(s)
    shuffle_mb = lambda *names: sum(s["shuffle_bytes"] for n in names for s in by_layer[n]) / 1e6
    c = lambda k: float(counts.get(k, 0.0))
    m = {
        "extract.s": self_s["extract"], "extract.refs_out": c("extract.rows_out"),
        "extract.task_skew": task_skew(by_layer["extract"]),
        "robots.s": self_s["robots"], "robots.blocked": c("robots.blocked"),
        "dedup.s": self_s["dedup"], "dedup.rows_in": c("dedup.rows_in"),
        "dedup.rows_out": c("dedup.rows_out"), "dedup.shuffle_mb": shuffle_mb("dedup"),
        "dedup.task_skew": task_skew(by_layer["dedup"]), "round.self_s": self_s["round"],
        "seen.filter_s": self_s["seen.filter"], "seen.probe_s": self_s["seen.probe"],
        "seen.bloom_maybe_ratio": c("seen.probe.maybe") / c("seen.probe.rows_out")
        if c("seen.probe.rows_out") else 0.0,
        "seen.bloom_fp_ratio": bloom_fp_ratio(c("seen.fp.probe_rows"), c("seen.fp.maybe"),
                                              c("seen.fp.filter_out")),
        "seen.cuckoo_s": self_s["seen.cuckoo"],
        "seen.shuffle_mb": shuffle_mb("seen.filter", "seen.probe", "seen.cuckoo"),
        "bloom.build_s": self_s["bloom.build"], "bloom.merge_s": self_s["bloom.merge"],
        "bloom.rebuilt_buckets": c("bloom.rebuilt_buckets"),
        "cuckoo.build_s": self_s["cuckoo.build"], "invalidate.s": self_s["invalidate"],
        "schedule.s": self_s["schedule"], "schedule.rows_in": c("schedule.rows_in"),
        "schedule.rows_out": c("schedule.rows_out"), "schedule.shuffle_mb": shuffle_mb("schedule"),
        "schedule.task_skew": task_skew(by_layer["schedule"]),
        "catalog.write_s": self_s["catalog.write"], "catalog.write_mb": c("catalog.write_bytes") / 1e6,
        "catalog.files": c("catalog.files"), "catalog.read_s": self_s["catalog.read"],
        "catalog.commit_s": self_s["catalog.commit"], "catalog.state_mb": c("catalog.state_bytes") / 1e6,
    }
    for q in queries:
        m[f"op.{q}.s"] = self_s[f"op.{q}"]
        m[f"op.{q}.shuffle_mb"] = shuffle_mb(f"op.{q}")
        m[f"op.{q}.task_skew"] = task_skew(by_layer[f"op.{q}"])
    return m
