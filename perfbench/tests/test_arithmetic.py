"""The benchmark's own arithmetic; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import random

import pandas as pd
import pytest

import harness
import suite
import tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def span(i, parent, start, end, name="x"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "workload": "w", "round": None}


def test_self_time_subtracts_nested_children():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 4.0),
        span(2, 1, 2.0, 3.0),  # grandchild: counted against its parent only
        span(3, 0, 6.0, 9.0),
    ]
    st = tracing.self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 1.0, 3: 3.0})
    # every second of the root lands in exactly one span
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_counted_once():
    spans = [span(0, None, 0.0, 10.0), span(1, 0, 1.0, 5.0), span(2, 0, 3.0, 7.0),
             span(3, 0, 9.0, 12.0)]  # the last child overruns its parent
    assert tracing.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_merged_length_unions_and_clips():
    assert tracing.merged_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert tracing.merged_length([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert tracing.merged_length([], 0, 10) == 0.0


def test_row_digest_is_order_independent_and_content_sensitive():
    rows = [(i, f"u{i}", i * 0.5) for i in range(200)]
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)
    assert harness.row_digest(rows) == harness.row_digest(shuffled)
    assert harness.row_digest(rows) != harness.row_digest(rows[:-1])
    assert harness.row_digest(rows) != harness.row_digest(rows + [rows[0]])
    changed = rows[:]
    changed[3] = (3, "u3", 1.5000000000000002)
    assert harness.row_digest(rows) != harness.row_digest(changed)


def test_frame_digest_canonical_like_the_oracle_gate():
    a = pd.DataFrame({"b": [2, 1], "a": ["y", "x"]})
    b = pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})  # other column and row order
    assert suite.frame_digest(a) == suite.frame_digest(b)
    # an integer never equals the same value as a float (tools/compare_oracle.py)
    c = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert suite.frame_digest(c) != suite.frame_digest(b)
    # int32 and int64 of the same value are equal, as in the oracle compare
    d = pd.DataFrame({"a": ["x", "y"], "b": pd.array([1, 2], dtype="int32")})
    assert suite.frame_digest(d) == suite.frame_digest(b)
    # timestamps compare by instant whatever their resolution
    t1 = pd.DataFrame({"t": pd.to_datetime(["2020-01-01 00:00:01"]).astype("datetime64[us]")})
    t2 = pd.DataFrame({"t": pd.to_datetime(["2020-01-01 00:00:01"]).astype("datetime64[ns]")})
    assert suite.frame_digest(t1) == suite.frame_digest(t2)


def test_bloom_fp_ratio_formula():
    # 100 probed, 10 maybe-seen, seen filter kept 93: 90 fresh + 3 of the
    # 10 maybe rows were new to the exact join
    assert tracing.bloom_fp_ratio(100, 10, 93) == pytest.approx(0.3)
    assert tracing.bloom_fp_ratio(100, 10, 90) == 0.0  # every maybe was seen
    assert tracing.bloom_fp_ratio(50, 0, 50) == 0.0  # nothing to be wrong about


def test_percentile_rule_needs_ten_samples_beyond():
    assert harness.reportable_percentile(9) is None
    assert harness.reportable_percentile(99) is None
    assert harness.reportable_percentile(100) == 90.0
    assert harness.reportable_percentile(200) == 95.0
    assert harness.reportable_percentile(1000) == 99.0
    assert harness.reportable_percentile(10_000) == 99.9


def test_geomean():
    assert harness.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    with pytest.raises(ValueError):
        harness.geomean([1.0, 0.0])


def test_stages_attributed_to_spans_by_job_description():
    spans = [span(0, None, 0.0, 10.0, "pass"), span(1, 0, 0.0, 4.0, "round"),
             span(2, 1, 0.0, 3.0, "dedup"), span(3, 0, 4.0, 10.0, "dedup")]
    stages = [
        {"desc": "span:2", "run_ms": 900, "shuffle_bytes": 2_000_000,
         "task_med_ms": 100.0, "task_max_ms": 400.0},
        {"desc": "span:3", "run_ms": 100, "shuffle_bytes": 1_000_000,
         "task_med_ms": 10.0, "task_max_ms": 10.0},
        {"desc": "span:1", "run_ms": 50, "shuffle_bytes": 5_000_000,
         "task_med_ms": 1.0, "task_max_ms": 1.0},
        {"desc": "", "run_ms": 9999, "shuffle_bytes": 9_000_000,  # untraced pass
         "task_med_ms": 1.0, "task_max_ms": 99.0},
    ]
    m = tracing.layer_metrics(spans, stages, {"dedup.rows_in": 7}, [])
    assert m["dedup.s"] == pytest.approx(9.0)
    assert m["round.self_s"] == pytest.approx(1.0)
    assert m["dedup.shuffle_mb"] == pytest.approx(3.0)
    assert m["dedup.task_skew"] == pytest.approx(4.0)  # heaviest stage: 400 / 100
    assert m["dedup.rows_in"] == 7
    assert m["extract.s"] == 0.0  # a layer that never ran


def test_benchmark_json_names_what_the_command_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] and \
        {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        tracing.all_layer_metrics(suite.HEADLINE)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
