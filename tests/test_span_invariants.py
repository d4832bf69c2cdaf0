"""Per-row span-sequence invariant (BASELINE.json input_hint):

after any engine pass over the documents table, the span sequence of every
row — (kind, text, media_ref, order) — must be exactly what the source
holds. Verified by exploding through the engine's scan path and
reassembling, against a pandas read of the same parquet.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from image_search_indexing_spark.frontier.extract import explode_spans


def test_span_sequence_equality(spark, corpus, tmpdir_path):
    docs, meta = corpus["docs"], corpus["meta"]
    path = f"{tmpdir_path}/documents.parquet"
    docs.write.mode("overwrite").parquet(path)

    # engine path: explode (the scan every operator uses) and reassemble
    exploded = explode_spans(spark.read.parquet(path), meta)
    rebuilt = (
        exploded.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("offset", "kind", "text", "media_ref"))
            ).alias("sp")
        )
        .collect()
    )
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["sp"]]
        for r in rebuilt
    }

    # ground truth: pandas/pyarrow read of the same files
    pdf = pd.read_parquet(path)
    for _, row in pdf.iterrows():
        want = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in sorted(row["spans"], key=lambda s: s["offset"])
        ]
        assert got[row["doc_id"]] == want, row["doc_id"]


@pytest.mark.parametrize("entry", ["full", "features_frontier", "extract_refs_frontier"])
def test_extraction_is_single_scan_no_python_udf(spark, corpus, entry):
    """The extraction plan must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython nodes (input_hint: no per-row Python; kernels builtin).
    The frontier path keeps its documented shape: the J4 window is its
    only window, and that window's exchange its only shuffle."""
    from image_search_indexing_spark.frontier import extract as X

    docs, meta = corpus["docs"], corpus["meta"]
    refs = {
        "full": lambda: X.extract_refs(docs, meta),
        "features_frontier": lambda: X.extract_refs(docs, meta, features="frontier"),
        "extract_refs_frontier": lambda: X.extract_refs_frontier(docs, meta)[0],
    }[entry]()
    plan = refs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    if entry != "full":
        lines = plan.splitlines()
        shuffles = [ln for ln in lines if "Exchange " in ln and "BroadcastExchange" not in ln]
        assert len(shuffles) == 1 and "hashpartitioning(doc_id#" in shuffles[0], shuffles
        assert sum("Window [" in ln for ln in lines) == 1
