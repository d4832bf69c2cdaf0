"""The ``operator-suite`` workload: the 19 headline queries, one client.

Inputs are the fixed sf0.01 tables under ``data/`` (a copy of the
project's read-only fixture set), run in ``HEADLINE`` order; the seed is
recorded but cannot vary them. Each query is collected to the driver through Arrow
(``toPandas``), which computes every column, and its canonical digest must
equal the one banked from ``__spark_entry__.oracle_sql()`` on DuckDB
(``bank_digests.py``). The warm-up pass runs the same queries on the
sf0.001 copy.
"""

from __future__ import annotations

import json
import math
import os
import time

from harness import row_digest

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
WARMUP_DATA = os.path.join(HERE, "data", "sf0.001")
DIGESTS = os.path.join(HERE, "digests.json")

# bench.HEADLINE, copied so the benchmark does not import the frozen bench
HEADLINE = [
    "frontier_schedule", "indexer_compact", "q1_pricing_summary",
    "q3_shipping_priority", "topk_parts_per_supplier", "champion_oldest_order",
    "asof_backward_events_orders", "minhash_lsh_buckets", "simhash_buckets_md5",
    "ann_topk_lsh", "emb_near_dup_pairs", "cosine_topk", "lang_quality",
    "session_stats", "hourly_rollup", "gopher_repetition", "decontam_overlap",
    "media_video", "media_phash_pairs",
]


def canon_cell(v):
    """A type-tagged, exactly comparable form of one result cell.

    Mirrors the project's oracle comparison: nulls (None/NaN-less NaT) are
    equal, an integer never equals a float, floats compare bit for bit,
    timestamps by instant."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (float, np.floating)):
        return ("f", "nan" if math.isnan(v) else float(v).hex())
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return ("t", pd.Timestamp(v).isoformat())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    return ("o", repr(v))


def frame_digest(pdf) -> dict:
    """Order-independent digest of a pandas result (columns by name)."""
    cols = sorted(pdf.columns)
    rows = (tuple(canon_cell(v) for v in r) for r in pdf[cols].itertuples(index=False))
    return {"cols": cols, **row_digest(rows)}


def load_digests() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def run_query(spark, fn, data_dir: str):
    """(seconds, result) of one query, timed from call to collected result."""
    t = time.perf_counter()
    pdf = fn(spark, data_dir).toPandas()
    return time.perf_counter() - t, pdf
