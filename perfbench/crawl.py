"""The ``crawl`` workload: one seeded crawl through every frontier layer.

Shape (see README.md): a bulk phase with an unbounded per-host budget,
a seeded ``invalidate()`` of part of the seen set, then a fresh
``FrontierDriver`` on the same checkpoint that resumes the remaining rounds
under the generator's politeness table. The gate replays the same crawl in
``frontier.oracle.FrontierOracle`` and compares every round's counters and
an order-independent digest of every ``fetch_batch_<r>``.
"""

from __future__ import annotations

import os
import random
import time

from harness import WORK, row_digest

# Workload shape. ROUNDS slices the corpus (pmod(xxhash64(doc_id), ROUNDS));
# rounds [0, BULK_ROUNDS) schedule everything new, the rest run under the
# politeness table after the invalidate + resume.
N_DOCS = 10_000
N_HOSTS = 1000
ZIPF = 1.3
ROUNDS = 2
BULK_ROUNDS = 1
UNBOUNDED = 1 << 30
POLITE_BUDGET = 5
INVALIDATE_PREFIXES = 12  # of 256 two-hex-digit url_hash prefixes (~5% of seen)

BATCH_COLS = [
    "url_hash", "ref_url", "surt", "host", "kind", "priority", "page_ts",
    "doc_id", "offset", "queue_pos", "fetch_delay_ms",
]
COUNTER_KEYS = [
    "valid_ref", "valid_img", "valid_a", "valid_css", "data_url_refs",
    "robots_blocked", "round_candidates", "queue_after_dedup", "dup_dropped",
    "scheduled", "pending_after", "seen_total", "url_too_long", "a_not_image",
    "pages", "pages_with_media", "pages_span_capped", "spans_not_parsed",
]


def frontier_cfg(budget: int):
    from image_search_indexing_spark.frontier.rounds import FrontierConfig

    return FrontierConfig(
        n_rounds=ROUNDS, n_buckets=16, n_salts=4, default_budget=budget,
        expected_per_bucket=2048, pending_compact_every=2,
    )


def invalidate_prefixes(seed: int) -> list[str]:
    pool = [f"{i:02x}" for i in range(256)]
    return sorted(random.Random(seed).sample(pool, INVALIDATE_PREFIXES))


class Inputs:
    """Seeded corpus and side tables, cached in executor memory."""

    def __init__(self, spark, seed: int, n_docs: int) -> None:
        from image_search_indexing_spark.frontier import datagen as dg

        self.cfg = dg.GenConfig(n_docs=n_docs, n_hosts=N_HOSTS, zipf_alpha=ZIPF,
                                dup_rate=0.25, seed=seed)
        parts = os.cpu_count() or 1
        docs, meta = dg.generate(spark, self.cfg, partitions=parts)
        self.docs, self.meta = docs.persist(), meta.persist()
        self.seeds = dg.seeds(spark, self.cfg).persist()
        self.politeness = dg.politeness(spark, self.cfg).persist()
        self.robots = dg.robots(spark, self.cfg).persist()
        for df in (self.docs, self.meta, self.seeds, self.politeness, self.robots):
            df.count()
        self.prefixes = invalidate_prefixes(seed)

    def for_oracle(self) -> dict:
        meta = {r["doc_id"]: r for r in self.meta.collect()}
        docs = [
            {
                "doc_id": r["doc_id"],
                "spans": [s.asDict() for s in r["spans"]],
                "base_url": meta[r["doc_id"]]["base_url"],
                "fetch_ts": meta[r["doc_id"]]["fetch_ts"],
            }
            for r in self.docs.collect()
        ]
        rows = lambda df: [r.asDict() for r in df.collect()]
        return {"docs": docs, "seeds": rows(self.seeds),
                "politeness": rows(self.politeness), "robots": rows(self.robots)}


def crawl_pass(spark, inp: Inputs, workdir: str) -> dict:
    """One complete crawl; every operation timed from its call to its
    committed snapshot."""
    from pyspark.sql import functions as F

    from image_search_indexing_spark.frontier.rounds import FrontierDriver

    t0 = time.perf_counter()
    rounds, counters = [], []
    drv = FrontierDriver(spark, workdir, frontier_cfg(UNBOUNDED))
    for r in range(BULK_ROUNDS):
        t = time.perf_counter()
        counters.append(drv.run_round(r, inp.docs, inp.meta, inp.seeds, None, inp.robots))
        rounds.append(time.perf_counter() - t)
    t = time.perf_counter()
    sample = drv.seen_table().where(F.substring("url_hash", 1, 2).isin(inp.prefixes))
    inv = drv.invalidate(sample.select("url_hash"))
    invalidate_s = time.perf_counter() - t
    # a restart: a fresh driver resumes from the committed checkpoint
    drv = FrontierDriver(spark, workdir, frontier_cfg(POLITE_BUDGET))
    for r in range(BULK_ROUNDS, ROUNDS):
        t = time.perf_counter()
        counters.append(
            drv.run_round(r, inp.docs, inp.meta, inp.seeds, inp.politeness, inp.robots)
        )
        rounds.append(time.perf_counter() - t)
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "round_s": rounds, "invalidate_s": invalidate_s,
            "counters": counters, "invalidated": inv["invalidated_in_seen"],
            "scheduled": sum(c["scheduled"] for c in counters), "driver": drv}


def engine_digests(drv) -> list[dict]:
    out = []
    for r in range(ROUNDS):
        rows = drv.fetch_batch(r).select(*BATCH_COLS).collect()
        out.append(row_digest(tuple(row) for row in rows))
    return out


def oracle_result(py: dict, prefixes: list[str]) -> dict:
    """The same crawl, replayed in the pure-Python oracle."""
    from image_search_indexing_spark.frontier.oracle import FrontierOracle, OracleConfig, OracleState
    from image_search_indexing_spark.functions.hashing import xxhash64

    bulk = FrontierOracle(OracleConfig(n_rounds=ROUNDS, default_budget=UNBOUNDED),
                          seeds=py["seeds"], politeness=None, robots=py["robots"])
    polite = FrontierOracle(OracleConfig(n_rounds=ROUNDS, default_budget=POLITE_BUDGET),
                            seeds=py["seeds"], politeness=py["politeness"], robots=py["robots"])
    by_round: dict[int, list[dict]] = {}
    for d in py["docs"]:
        by_round.setdefault(xxhash64(d["doc_id"]) % ROUNDS, []).append(d)
    state = OracleState()
    invalidated = 0
    for r in range(ROUNDS):
        if r == BULK_ROUNDS:
            invalidated = bulk.invalidate(state, [h for h in state.seen if h[:2] in prefixes])
        (bulk if r < BULK_ROUNDS else polite).run_round(r, by_round.get(r, []), state)
    digests = [
        row_digest(tuple(row[c] for c in BATCH_COLS) for row in state.fetch_batches[r])
        for r in range(ROUNDS)
    ]
    return {"counters": state.counters, "digests": digests, "invalidated": invalidated}


def check(res: dict, got_digests: list[dict], want: dict) -> dict[str, str | None]:
    """Per operation of one engine pass: None if it matched the oracle,
    else what differed. Operations are the rounds and the invalidate."""
    ops: dict[str, str | None] = {}
    ops["invalidate"] = (
        None if res["invalidated"] == want["invalidated"]
        else f"invalidated {res['invalidated']} vs oracle {want['invalidated']}"
    )
    for r in range(ROUNDS):
        got, exp = res["counters"][r], want["counters"][r]
        diff = [k for k in COUNTER_KEYS if got.get(k, 0) != exp.get(k, 0)]
        msg = []
        if diff:
            msg.append(f"counters {diff}")
        if got_digests[r] != want["digests"][r]:
            msg.append(f"fetch_batch digest {got_digests[r]} vs {want['digests'][r]}")
        ops[f"round {r}"] = "; ".join(msg) or None
    return ops


def workdir(tag: str) -> str:
    return os.path.join(WORK, "crawl", tag)
