"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 25 --trace 0

Runs on ``local[nproc]`` in this process as a closed loop with one client:
each crawl round, invalidate or query starts only after the previous one
finished. Every output is checked (crawl: against the pure-Python frontier
oracle; operator-suite: against digests banked from the DuckDB oracle).
The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced pass with ``--trace 1``. The line before it records
the run's context (nproc, load, CPU steal, contention flag, pass detail).
See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import crawl
import harness as H
import suite
import tracing

sys.path.insert(0, H.ROOT)

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_s.geomean": "s", "items_per_s": "1/s",
             "peak_rss_mb": "MB"}
TRACE_DIR = os.path.join(H.ROOT, ".perfbench-traces")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Crawl:
    """See crawl.py. Items are URLs scheduled; operations are the rounds
    (timed) and the invalidate."""

    name = "crawl"
    sizing_s = 25.0

    def __init__(self, spark, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.want = None
        self.state_bytes = 0

    def setup(self) -> None:
        self.inp = crawl.Inputs(self.spark, self.seed, crawl.N_DOCS)

    def timed_pass(self, tag: str, tracer=None) -> dict:
        res = crawl.crawl_pass(self.spark, self.inp, crawl.workdir(tag))
        if tracer is None:
            self.state_bytes = H.dir_bytes(crawl.workdir(tag))[0]
        return res

    def check_pass(self, res: dict) -> dict:
        digests = crawl.engine_digests(res["driver"])
        if self.want is None:
            self.want = crawl.oracle_result(self.inp.for_oracle(), self.inp.prefixes)
        return {"wall_s": res["wall_s"], "ops": dict(enumerate(res["round_s"])),
                "items": res["scheduled"], "check": crawl.check(res, digests, self.want),
                "digests": digests, "counters": res["counters"]}

    def instrument(self, tracer):
        tracer.add("catalog.state_bytes", self.state_bytes)
        return tracing.instrument_frontier(tracer)


class OperatorSuite:
    """See suite.py. Items and operations are the queries."""

    name = "operator-suite"
    sizing_s = 25.0

    def __init__(self, spark, seed: int) -> None:
        import __spark_entry__ as E

        self.spark = spark
        self.queries = E.queries()
        self.want = suite.load_digests()

    def setup(self) -> None:
        """Warm-up: every query once on the sf0.001 copy, nproc at a time
        (first executions are dominated by driver-side planning and code
        generation, which overlap well across threads)."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=os.cpu_count() or 1) as pool:
            futures = [pool.submit(suite.run_query, self.spark, self.queries[q],
                                   suite.WARMUP_DATA) for q in suite.HEADLINE]
            for f in futures:
                f.result()

    def timed_pass(self, tag: str, tracer=None) -> dict:
        t0 = time.perf_counter()
        ops, results, errors = {}, {}, {}
        for q in suite.HEADLINE:
            try:
                if tracer is None:
                    ops[q], results[q] = suite.run_query(self.spark, self.queries[q], suite.DATA)
                else:
                    with tracer.span(f"op.{q}"):
                        ops[q], results[q] = suite.run_query(self.spark, self.queries[q],
                                                             suite.DATA)
            except Exception:
                errors[q] = traceback.format_exc(limit=3)
        return {"wall_s": time.perf_counter() - t0, "ops": ops, "results": results,
                "errors": errors}

    def check_pass(self, res: dict) -> dict:
        digests = {q: suite.frame_digest(pdf) for q, pdf in res.pop("results").items()}
        check = {q: None if digests.get(q) == self.want[q] else
                 res["errors"].get(q) or f"digest {digests[q]}" for q in suite.HEADLINE}
        return {"wall_s": res["wall_s"], "ops": res["ops"], "items": len(res["ops"]),
                "check": check, "digests": digests}

    def instrument(self, tracer):
        return tracing.Patches()  # the query spans are opened by timed_pass


WORKLOADS = {w.name: w for w in (Crawl, OperatorSuite)}


def e2e_metrics(setup_s: float, passes: list[dict], peak_rss_mb: float) -> dict[str, float]:
    """End-to-end figures of the untraced passes (medians over passes)."""
    per_kind = {k: statistics.median([p["ops"][k] for p in passes if k in p["ops"]])
                for k in passes[0]["ops"]}
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median([p["wall_s"] for p in passes]),
        "op_s.geomean": H.geomean(list(per_kind.values())),
        "items_per_s": sum(p["items"] for p in passes) / sum(p["wall_s"] for p in passes),
        "peak_rss_mb": peak_rss_mb,
    }


def traced_pass(wl, spark) -> tuple[dict, dict]:
    """One pass under the tracer; returns (pass result, per-layer metrics)."""
    tr = tracing.Tracer(spark, wl.name)
    patches = wl.instrument(tr)
    try:
        with tr.span("pass"):
            raw = wl.timed_pass("traced", tracer=tr)
    finally:
        patches.restore()
        tr.release()
    res = wl.check_pass(raw)
    stages = tracing.fetch_stages(spark)
    m = tracing.layer_metrics(tr.spans, stages, tr.counts, suite.HEADLINE)
    # every second of the pass, as the workload timed it, lands in some span
    wall = res["wall_s"]
    attributed = sum(tracing.self_times(tr.spans).values())
    res["attribution"] = {"self_sum_s": attributed}
    if abs(attributed - wall) > 0.01 * wall:
        res["check"]["trace.attribution"] = f"self times sum to {attributed:.3f} s of {wall:.3f} s"
    os.makedirs(TRACE_DIR, exist_ok=True)
    tr.dump(os.path.join(TRACE_DIR, f"{wl.name}-spans.json"))
    with open(os.path.join(TRACE_DIR, f"{wl.name}-stages.json"), "w") as f:
        json.dump(stages, f)
    return res, m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="sizes the timed work: passes = max(1, seconds // the workload's sizing_s)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("image_search_indexing_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(H.ROOT, need)):
            log(f"perfbench: {need} not found under {H.ROOT}; run from a full checkout")
            return 2

    H.prepare_environment()
    contention = H.Contention()
    cls = WORKLOADS[args.workload]
    passes: list[dict] = []
    traced = layer = None
    t0 = time.perf_counter()
    spark = H.start_spark(ui=bool(args.trace))
    try:
        wl = cls(spark, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        n_passes = max(1, int(args.seconds // cls.sizing_s))
        for i in range(n_passes):
            passes.append(wl.check_pass(wl.timed_pass(f"pass{i}")))
        if args.trace:
            # untraced, traced, untraced: the overhead compares the traced
            # pass with the untraced pass that ran after it, so both see
            # the same warm JVM and caches
            traced, layer = traced_pass(wl, spark)
            passes.append(wl.check_pass(wl.timed_pass(f"pass{n_passes}")))
        peak_rss_mb = H.tree_peak_rss_bytes(os.getpid()) / 1e6
    finally:
        H.stop_spark(spark)
        shutil.rmtree(H.WORK, ignore_errors=True)

    checked = passes + ([traced] if traced else [])
    attempted = sum(len(p["check"]) for p in checked)
    failures = {f"{i}:{k}": v for i, p in enumerate(checked) for k, v in p["check"].items() if v}
    if traced and traced["digests"] != passes[0]["digests"]:
        failures["trace:digests"] = "traced pass digests differ from the untraced pass"
        attempted += 1
    for k, v in failures.items():
        log(f"FAILED {k}: {v}")

    if args.trace:
        layer["trace.overhead_s"] = traced["wall_s"] - passes[-1]["wall_s"]
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u, _ in tracing.all_layer_metrics(suite.HEADLINE)}
    else:
        e2e = e2e_metrics(setup_s, passes, peak_rss_mb)
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E_UNITS.items()}

    n_ops = sum(len(p["ops"]) for p in passes)
    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{os.cpu_count()}]", **contention.record(),
        # too few timed operations for a tail percentile unless this is set
        "timed_ops": n_ops, "tail_percentile": H.reportable_percentile(n_ops),
        "setup_s": setup_s, "passes": [
            {k: p[k] for k in ("wall_s", "ops", "items", "counters") if k in p} for p in passes],
    }
    if traced:
        context["traced"] = {"wall_s": traced["wall_s"], **traced["attribution"]}
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
