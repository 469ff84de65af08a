"""Unit tests for the benchmark's own code (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import host, inputs, spans, stats  # noqa: E402


def _frames_equal(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_same_seed_same_inputs():
    assert _frames_equal(inputs.largekb_tables(5, 40, 60), inputs.largekb_tables(5, 40, 60))
    assert _frames_equal(inputs.golden_tables(5, 50), inputs.golden_tables(5, 50))
    assert inputs.serve_documents(5, 3, 2) == inputs.serve_documents(5, 3, 2)


def test_other_seed_other_inputs():
    a = inputs.largekb_tables(5, 40, 60)["turns"]
    b = inputs.largekb_tables(6, 40, 60)["turns"]
    assert not a.equals(b)


def test_largekb_spans_slice_the_text():
    t = inputs.largekb_tables(3, 50, 200)
    for text, (_, m) in zip(t["turns"]["text"], t["mentions"].iterrows()):
        assert text[m["start"]:m["end"]] == m["text"]
    aliases = set(t["aliases"]["alias"].str.lower())
    assert set(t["labels"]["block_key"]) <= aliases


def test_largekb_mix_matches_targets():
    t = inputs.largekb_tables(11, 300, 3000)
    lab = t["labels"]
    typo_share = (lab["mention"].str.lower() != lab["block_key"]).mean()
    assert 0.2 < typo_share < 0.4
    canonical = set(a.lower() for a in inputs.largekb_tables(11, 300, 1)["entities"]["name"])
    assert 0.6 < lab["block_key"].isin(canonical).mean() < 0.8


def test_cache_is_keyed_by_seed_and_size(tmp_path):
    a = inputs.ensure(str(tmp_path), "serve", 1, {"requests": 2, "docs_per_request": 2})
    b = inputs.ensure(str(tmp_path), "serve", 2, {"requests": 2, "docs_per_request": 2})
    c = inputs.ensure(str(tmp_path), "serve", 1, {"requests": 3, "docs_per_request": 2})
    assert len({a, b, c}) == 3
    assert inputs.ensure(str(tmp_path), "serve", 1, {"requests": 2, "docs_per_request": 2}) == a
    assert not [p for p in os.listdir(tmp_path) if ".tmp" in p]


def test_typo_keeps_first_char_and_edits():
    rng = inputs._rng("t", 1)
    for _ in range(200):
        out = inputs.typo("Quantum Neural Vector", rng)
        assert out[0] == "Q" and out != "" and abs(len(out) - 21) <= 2


@pytest.mark.parametrize(
    "n, expect",
    [
        (1, (5.0, 100.0, 1)),  # too few samples: the maximum, as p100
        (10, (14.0, 100.0, 10)),
        (11, (5.0, 100.0 / 11, 11)),  # rank 1 has 10 samples above it
        (100, (94.0, 90.0, 100)),  # p90 of 5..104
    ],
)
def test_tail_percentile(n, expect):
    vals = [float(5 + i) for i in range(n)]
    vals.reverse()  # order must not matter
    assert stats.tail(vals) == pytest.approx(expect)


def test_tail_leaves_ten_beyond():
    vals = list(range(1000))
    v, pct, n = stats.tail(vals)
    assert sum(x > v for x in vals) == 10 and pct == pytest.approx(99.0)


def test_spread():
    assert stats.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx((8.25 - 2.75) / 5.5)


def test_cgroup_v1_then_v2():
    assert host.parse_cpu_usage("2500000000\n", None) == 2.5
    v2 = "usage_usec 1500000\nuser_usec 1000000\nsystem_usec 500000\n"
    assert host.parse_cpu_usage(None, v2) == 1.5
    assert host.parse_cpu_usage("garbage", v2) == 1.5  # malformed v1 falls back
    assert host.parse_cpu_usage(None, "user_usec 3\n") is None
    assert host.parse_cpu_usage(None, None) is None


def _span(i, parent, s, e):
    return spans.Span(f"pb{i}", f"n{i}", parent, s, e)


def test_self_time_subtracts_union_of_children():
    root = _span(0, None, 0.0, 10.0)
    kids = [
        _span(1, "pb0", 1.0, 4.0),
        _span(2, "pb0", 3.0, 5.0),  # overlaps the first child
        _span(3, "pb0", 9.0, 12.0),  # runs past the parent: clipped
        _span(4, "pb1", 1.5, 2.0),  # grandchild: inside a child already
    ]
    all_spans = [root] + kids
    assert spans.self_time(root, all_spans) == pytest.approx(10.0 - 4.0 - 1.0)
    assert spans.self_time(kids[0], all_spans) == pytest.approx(3.0 - 0.5)
    assert spans.self_time(kids[1], all_spans) == pytest.approx(2.0)


def test_inclusive_counts_sum_the_subtree():
    tr = spans.Tracer(None, "w", 1)
    tr.spans = [_span(0, None, 0, 9), _span(1, "pb0", 1, 2), _span(2, "pb1", 1, 2), _span(3, None, 9, 10)]
    for i, s in enumerate(tr.spans):
        s.counts["spark_jobs"] = i + 1
    assert tr.inclusive(tr.spans[0], "spark_jobs") == 1 + 2 + 3
    assert tr.inclusive(tr.spans[3], "spark_jobs") == 4


def test_parse_event_log_attributes_by_stage_group():
    ev = [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
         "Properties": {"spark.jobGroup.id": "pb3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Stage Attempt ID": 0},
         "Properties": {}},
    ]
    for sid in (1, 1, 2):
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                   "Task Metrics": {"Executor CPU Time": 500_000_000,
                                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}})
    got = spans.parse_event_log([json.dumps(e) for e in ev])
    assert got == {"pb3": {"tasks": 2, "task_cpu_s": 1.0, "shuffle_write_bytes": 2048}}


def test_benchmark_json_names_match_the_code():
    from perfbench import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == workloads.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_serve_requests_share_one_shape():
    reqs = inputs.serve_documents(7, 10, 4)
    assert len(reqs) == 10
    for req in reqs:
        assert tuple(d["spans"][0]["_form"] for d in req) == inputs.SERVE_FORMS
        for doc in req:
            (span,) = doc["spans"]
            assert doc["context"][span["start"]:span["end"]] == span["text"]


def test_mention_form():
    aliases = {"ML", "Research"}
    assert inputs.mention_form("ML", "ml", aliases) == "short"
    assert inputs.mention_form("Research", "research", aliases) == "exact"
    assert inputs.mention_form("RESEARCH", "research", aliases) == "case"
    assert inputs.mention_form("Reseach", "research", aliases) == "typo"
