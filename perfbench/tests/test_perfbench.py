"""Self-tests of the benchmark: generator, expected outputs, statistics,
span arithmetic and the manifest. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

import numpy as np
import pytest

import expected
import gen
import run
import sparkstats
import workloads
from spans import Span, Tracer, covered, self_times, timing_summary

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def edges_100k():
    return gen.edge_array(100_000, 7)


def test_generator_is_deterministic():
    a = gen.edge_array(20_000, 3)
    assert np.array_equal(a, gen.edge_array(20_000, 3))
    assert not np.array_equal(a, gen.edge_array(20_000, 4))


def test_generator_reproduces_twitter_shape(edges_100k):
    e = edges_100k
    s = gen.shape(e)
    assert s["lines"] == 100_000
    assert s["self_loops"] == 2
    assert 1 <= e.min() and e.max() <= gen.ID_SPACE
    assert s["max_id"] > 0.9 * gen.ID_SPACE  # sparse, not 1..n
    forward = (e[:, 0] < e[:, 1]).mean()
    assert 0.4 < forward < 0.6  # arbitrary orientation
    # The row of 100k.txt in FIXTURES.md section 1: 5,280 nodes, max
    # line degree 527, 25,403 repeated pairs in 99,998 non-loop lines
    # and 587,199 simple triangles.
    assert s["nodes"] == pytest.approx(5_280, rel=0.03)
    assert s["max_degree"] == pytest.approx(527, rel=0.1)
    assert s["duplicate_share"] == pytest.approx(25_403 / 99_998, abs=0.01)
    triangles = expected.triangle_checksums(e)["simple"][0]
    assert triangles == pytest.approx(587_199, rel=0.05)


def test_text_format(tmp_path, edges_100k):
    path = tmp_path / "edges.txt"
    gen.write_text(edges_100k[:3], str(path))
    lines = path.read_text().splitlines()
    assert lines == [f"{s} {d}" for s, d in edges_100k[:3].tolist()]


def test_micro_fixture():
    e = np.array([[1, 1], [1, 2], [2, 3], [1, 3]])
    assert expected.triangle_rows(e, "simple") == {(1, 2, 3)}
    assert expected.triangle_rows(e, "faithful") == {
        (1, 1, 1), (1, 1, 2), (1, 1, 3), (1, 2, 3)}


def _python_triangles(e: np.ndarray) -> set[tuple[int, int, int]]:
    nbrs = defaultdict(set)
    for s, d in e.tolist():
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    return {(a, b, c) for a in nbrs for b in nbrs[a] if b > a
            for c in nbrs[a] & nbrs[b] if c > b}


def test_faithful_count_formula():
    e = gen.edge_array(5_000, 11)
    simple = _python_triangles(e)
    loops = {s for s, d in e.tolist() if s == d}
    nbrs = defaultdict(set)
    for s, d in e.tolist():
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    want = len(simple) + sum(len(nbrs[ell]) + 1 for ell in loops)
    sums = expected.triangle_checksums(e)
    assert loops and sums["simple"][0] == len(simple)
    assert sums["faithful"][0] == want
    assert expected.triangle_rows(e, "simple") == simple


def test_checksum_matches_rows():
    e = gen.edge_array(3_000, 5)
    rows = expected.triangle_rows(e, "faithful")
    p = expected.PRIME
    want = (len(rows), sum(a for a, _, _ in rows), sum(b for _, b, _ in rows),
            sum(c for _, _, c in rows), sum(a * b % p for a, b, _ in rows),
            sum(b * c % p for _, b, c in rows),
            sum(a * c % p for a, _, c in rows))
    assert expected.triangle_checksums(e)["faithful"] == want


def _reset_high_water_mark():
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def test_prepare_leaves_the_callers_peak_memory_alone(tmp_path):
    """Inputs and expected values are made in a child process, so the
    Python part of peak_rss_mb does not grow with their size."""
    _reset_high_water_mark()
    before = run._vm_hwm_mb("self")
    main, warm = workloads.prepare("twitter_triangles", 5, str(tmp_path))
    assert main.records == 100_000 and os.path.exists(main.path)
    assert main.shape["simple_triangles"] == main.expected["simple"][0] > 0
    assert run._vm_hwm_mb("self") - before < 40


def test_timing_summary_reports_median_max_and_count():
    s = timing_summary([float(v) for v in range(1, 51)])
    assert s == {"p50": 25.5, "max": 50.0, "n": 50}


def test_covered_clips_and_merges():
    assert covered([(1, 4), (3, 6)], 0, 10) == 5
    assert covered([(-5, 2), (8, 20)], 0, 10) == 4
    assert covered([(2, 3), (2, 3)], 0, 10) == 1
    assert covered([], 0, 10) == 0


def test_self_times_subtract_children():
    spans = [Span(0, "pass", "bench", None, 0.0, 10.0),
             Span(1, "build", "plans", 0, 1.0, 4.0),
             Span(2, "drain", "streaming", 0, 3.0, 9.0),
             Span(3, "batch", "streaming", 2, 4.0, 6.0),
             Span(4, "batch", "streaming", 2, 5.0, 8.0)]
    got = self_times(spans)
    assert got["bench"] == pytest.approx(10 - 8)  # children cover 1..9
    assert got["plans"] == pytest.approx(3)
    # drain 6 s minus its batches' union (4..8) = 2, plus batches 2 + 3
    assert got["streaming"] == pytest.approx(2 + 2 + 3)


def test_tracer_nests_and_subtree():
    t = Tracer(True)
    with t.span("a", "bench") as a:
        with t.span("b", "plans"):
            pass
    with t.span("c", "bench"):
        pass
    t.add("d", "streaming", 0.0, 1.0, parent=a)
    assert [s.parent for s in t.spans] == [None, 0, None, 0]
    assert [s.name for s in t.subtree(a)] == ["a", "b", "d"]
    off = Tracer(False)
    with off.span("x", "bench") as sp:
        assert sp is None
    assert off.spans == []


def test_plan_node_patterns():
    plan = """AdaptiveSparkPlan isFinalPlan=false
+- HashAggregate(keys=[a#1], functions=[count(1)])
   +- Exchange hashpartitioning(a#1, 4), ENSURE_REQUIREMENTS, [plan_id=7]
      +- BroadcastHashJoin [a#1], [b#2], Inner, BuildRight
         :- Project [a#1]
         +- BroadcastExchange HashedRelationBroadcastMode(List(b#2)), [id=3]
            +- ReusedExchange [b#2], Exchange hashpartitioning(b#2, 4)
"""
    assert len(sparkstats._EXCHANGE.findall(plan)) == 2


def test_manifest_matches_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    assert manifest["paths"] == ["perfbench"]
    assert ({m["name"]: m["unit"] for m in manifest["end_to_end"]}
            == run.END_TO_END)
    assert ({m["name"]: m["unit"] for m in manifest["per_layer"]}
            == run.PER_LAYER)
    assert ({w["name"] for w in manifest["workloads"]}
            == set(run.workloads.WORKLOADS))
