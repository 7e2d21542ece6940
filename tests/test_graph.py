"""Graph operator tests: micro-fixtures (both semantic modes), the
reference's bundled datasets against the survey's golden counts, and
property-based invariants."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mapreduce_experiment_spark.operators import graph as G
from mapreduce_experiment_spark.sources.edges import read_edge_list
from tests.conftest import REFERENCE_RESOURCES

EDGE_SCHEMA = "src long, dst long"


def _edges(spark, pairs):
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs], EDGE_SCHEMA)


def _tri_set(df):
    return {(r.a, r.b, r.c) for r in df.collect()}


# --- micro-fixtures (FIXTURES.md §1) ---------------------------------------

def test_simple_mode_micro(spark):
    # K4 minus nothing: 4 triangles; plus an isolated edge.
    e = _edges(spark, [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (9, 10)])
    assert _tri_set(G.triangles(e)) == {
        (1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)
    }


def test_self_loop_divergence_micro(spark):
    """The FIXTURES.md micro-fixture: faithful mode reproduces the
    reference's degenerate self-loop triangles; simple mode drops them."""
    e = _edges(spark, [(1, 1), (1, 2), (2, 3), (1, 3)])
    assert _tri_set(G.triangles(e, mode="simple")) == {(1, 2, 3)}
    assert _tri_set(G.triangles(e, mode="faithful")) == {
        (1, 1, 1), (1, 1, 2), (1, 1, 3), (1, 2, 3)
    }


def test_duplicate_edges_do_not_inflate(spark):
    e = _edges(spark, [(1, 2), (2, 1), (1, 2), (2, 3), (1, 3), (1, 3)])
    for mode in ("simple", "faithful"):
        assert _tri_set(G.triangles(e, mode=mode)) == {(1, 2, 3)}, mode


def test_symmetrize_doubles_rows(spark):
    e = _edges(spark, [(1, 2), (3, 4)])
    sym = G.symmetrize(e)
    assert sym.count() == 4
    assert {(r.src, r.dst) for r in sym.collect()} == {
        (1, 2), (2, 1), (3, 4), (4, 3)
    }


def test_adjacency_sorted(spark):
    e = _edges(spark, [(2, 1), (1, 3), (1, 10)])
    adj = {r.node: list(r.neighbors) for r in G.adjacency(e).collect()}
    assert adj[1] == [2, 3, 10]
    assert adj[10] == [1]


def test_candidate_pair_counts(spark):
    # Node 1 has degree 3 -> C(3,2)=3 open triads.
    e = _edges(spark, [(1, 2), (1, 3), (1, 4)])
    counts = {r.node: r.n_candidate_pairs
              for r in G.candidate_pair_counts(e).collect()}
    assert counts == {1: 3, 2: 0, 3: 0, 4: 0}


def test_candidate_pair_count_is_int64_exact(spark):
    """r14 graph review: C(d, 2) was computed as float `/ 2` + cast,
    which loses low bits once d(d-1) exceeds 2^53 and is not a
    multiple of the double's ulp — a degree a hub CAN reach at
    100 TB. Pin the integer-DIV form bit-exact at a lossy-range
    degree (d ≡ 2 mod 4, so d(d-1) ≡ 2 mod 4 while the double
    granularity at this magnitude is 4); the old float form is off
    by 1 here."""
    d = 140_000_002
    exact = d * (d - 1) // 2
    got = spark.createDataFrame([(d,)], "degree long").select(
        F.expr("degree * (degree - 1) div 2").alias("n")).collect()[0].n
    assert got == exact
    lossy = spark.createDataFrame([(d,)], "degree long").select(
        (F.col("degree") * (F.col("degree") - 1) / 2).cast("long")
        .alias("n")).collect()[0].n
    assert lossy != exact  # documents why the float form was a defect


def test_pagerank_empty_graph_returns_empty(spark):
    """r14 graph review: PAGERANK_SCALE // n crashed driver-side with
    ZeroDivisionError on an edgeless graph; every other operator
    returns an empty result on empty input."""
    e = spark.createDataFrame([], EDGE_SCHEMA)
    out = G.pagerank(e, n_iter=2)
    assert out.count() == 0
    assert out.columns == ["node", "rank_micro"]


# --- reference bundled datasets vs survey goldens (BASELINE.md) -------------

GOLDENS = {  # dataset -> (faithful distinct, simple-graph distinct)
    "50.txt": (0, 0),
    "10k.txt": (91_769, 91_769),
    "15k.txt": (113_084, 113_084),
    "20k.txt": (104_284, 104_284),
    "30k.txt": (159_148, None),  # has 1 self-loop; simple-graph golden differs
    "40k.txt": (305_449, 305_449),
    "50k.txt": (252_572, 252_572),
    "100k.txt": (587_314, 587_199),
}


@pytest.mark.slow
@pytest.mark.parametrize("fname,expected", sorted(GOLDENS.items()))
def test_reference_dataset_goldens(spark, fname, expected):
    path = os.path.join(REFERENCE_RESOURCES, fname)
    if not os.path.exists(path):
        pytest.skip(f"{path} not present")
    edges = read_edge_list(spark, path)
    faithful, simple = expected
    assert G.triangle_count(edges, mode="faithful").collect()[0].n_triangles == faithful
    if simple is not None:
        assert G.triangle_count(edges, mode="simple").collect()[0].n_triangles == simple


# --- property-based invariants (SURVEY §5.2 item 4) --------------------------

edge_lists = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)),
    min_size=1, max_size=25,
)


def test_triangle_queries_leave_no_cache_entries(spark, monkeypatch):
    """Each triangle call materializes exactly two tables — the
    canonical edge set and the out-adjacency — as GC-scoped eager
    localCheckpoints (ContextCleaner-freed with the result), never as
    SQL CacheManager entries: persisted DataFrames with no unpersist
    would accumulate without bound in a long-lived session issuing
    many triangle queries. After any triangle-family action
    completes, the CacheManager must be EMPTY."""
    spark.catalog.clearCache()
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (2, 4), (4, 4)]
    e = _edges(spark, pairs)
    canon = _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)])

    checkpoints = []
    real = type(e).localCheckpoint

    def counting(self, eager=True, *args, **kwargs):
        checkpoints.append(eager)
        return real(self, eager, *args, **kwargs)

    monkeypatch.setattr(type(e), "localCheckpoint", counting)

    def run(build):
        checkpoints.clear()
        rows = build().collect()
        assert checkpoints == [True, True]
        return rows

    assert run(lambda: G.triangle_count(e))[0].n_triangles == 2
    assert {tuple(r) for r in run(lambda: G.triangles(e))} == \
        {(1, 2, 3), (2, 3, 4)}
    # 2 support triangles + (4,4,4) + (2,4,4), (3,4,4)
    assert len(run(lambda: G.triangles(e, mode="faithful"))) == 5
    assert run(lambda: G.triangle_count(e, mode="faithful"))[0] \
        .n_triangles == 5
    assert run(lambda: G.triangle_count(canon, assume_canonical=True))[0] \
        .n_triangles == 2
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "triangle query left SQL cache entries registered — the "
        "per-invocation cache leak is back"
    )


def test_streaming_triangles_span_batches(spark, tmp_path):
    """A triangle whose edges arrive in different micro-batches is
    emitted exactly once, in the batch completing it; duplicate edges
    across batches don't re-emit."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    batches = [
        [(1, 2), (2, 3)],
        [(1, 3), (1, 2)],          # completes (1,2,3); (1,2) is a dup
        [(3, 4), (2, 4)],          # completes (2,3,4)
    ]
    edges_dir = str(tmp_path / "edges_in")
    for i, pairs in enumerate(batches):
        _edges(spark, pairs).coalesce(1).write.mode("append").parquet(edges_dir)
    tris = streaming_triangles(spark, edges_dir, str(tmp_path / "work"))
    assert _tri_set(tris) == {(1, 2, 3), (2, 3, 4)}
    assert tris.count() == 2  # exactly once — no duplicate emissions


def test_streaming_triangles_hub_fallback_path(spark, tmp_path, monkeypatch):
    """r18: the per-batch closure intersects neighbor arrays only for
    sub-cap nodes; edges touching a node above MAX_INTERSECT_DEGREE
    take the row-expansion fallback. Force the cap to 1 so EVERY edge
    rides the fallback (star node 1 has degree 3) and to 2 for a mixed
    split — the triangle set must be identical either way."""
    from mapreduce_experiment_spark.streaming import triangles as ST

    batches = [
        [(1, 2), (2, 3)],
        [(1, 3), (1, 4), (2, 4)],  # completes (1,2,3); (1,2,4) via (2,4)
    ]
    want = {(1, 2, 3), (1, 2, 4)}
    for cap in (1, 2, 1 << 16):
        monkeypatch.setattr(ST, "MAX_INTERSECT_DEGREE", cap)
        edges_dir = str(tmp_path / f"edges_cap{cap}")
        for pairs in batches:
            _edges(spark, pairs).coalesce(1).write.mode("append") \
                .parquet(edges_dir)
        tris = ST.streaming_triangles(spark, edges_dir,
                                      str(tmp_path / f"work_cap{cap}"))
        assert _tri_set(tris) == want, cap


def test_streaming_triangles_hub_cap_crossed_mid_stream(spark, tmp_path,
                                                        monkeypatch):
    """r19 delta-state layout: adjacency lives as per-batch DELTA
    partitions, and a node that grows past MAX_INTERSECT_DEGREE only
    in a LATER batch has stale delta rows already written from when
    it was sub-cap — the merge must exclude them (the node's edges
    take the row-expansion fallback from then on) and the triangle
    set must be unaffected. Node 1 has degree 2 after batch 0 and
    degree 4 after batch 1; cap 3 puts the crossing mid-stream."""
    from mapreduce_experiment_spark.streaming import triangles as ST

    batches = [
        [(1, 2), (1, 3), (2, 3)],          # tri (1,2,3); d(1)=2
        [(1, 4), (1, 5), (4, 5), (2, 4)],  # d(1)=4 > cap; completes
        #                                    (1,4,5) and (1,2,4)
        [(2, 5), (1, 2)],                  # (1,2) dup; (2,5) completes
        #                                    (1,2,5) and (2,4,5)
    ]
    want = {(1, 2, 3), (1, 4, 5), (1, 2, 4), (1, 2, 5), (2, 4, 5)}
    for cap in (3, 1 << 16):
        monkeypatch.setattr(ST, "MAX_INTERSECT_DEGREE", cap)
        edges_dir = str(tmp_path / f"edges_x{cap}")
        for pairs in batches:
            _edges(spark, pairs).coalesce(1).write.mode("append") \
                .parquet(edges_dir)
        tris = ST.streaming_triangles(spark, edges_dir,
                                      str(tmp_path / f"work_x{cap}"))
        assert _tri_set(tris) == want, cap


def test_streaming_triangles_large_batch_antijoin_fallback(spark, tmp_path,
                                                           monkeypatch):
    """r19: batches above MAX_BROADCAST_BATCH_EDGES take the shuffled
    anti-join instead of the broadcast membership probe — force the
    limit to 1 so every batch rides the fallback; results identical."""
    from mapreduce_experiment_spark.streaming import triangles as ST

    monkeypatch.setattr(ST, "MAX_BROADCAST_BATCH_EDGES", 1)
    batches = [
        [(1, 2), (2, 3)],
        [(1, 3), (1, 4), (2, 4), (1, 2)],  # (1,2) dup must not re-enter
    ]
    edges_dir = str(tmp_path / "edges_lb")
    for pairs in batches:
        _edges(spark, pairs).coalesce(1).write.mode("append") \
            .parquet(edges_dir)
    tris = ST.streaming_triangles(spark, edges_dir,
                                  str(tmp_path / "work_lb"))
    assert _tri_set(tris) == {(1, 2, 3), (1, 2, 4)}
    assert tris.count() == 2


def test_streaming_triangles_batch_replay_is_idempotent(spark, tmp_path):
    """r13 review: foreachBatch is at-least-once, and the old blind
    appends double-emitted a replayed batch's triangles (a run dying
    between the two sink appends left a half-committed batch that the
    anti-join could not suppress). Commits are now one overwritten
    Hive partition per batch_key, and the batch's own partition is
    EXCLUDED from the state read — so replaying _process_batch, even
    over a half-committed first attempt, converges to the same set."""
    from mapreduce_experiment_spark.streaming.triangles import (
        _process_batch, _read_batches,
    )
    work = tmp_path / "work_replay"
    state_dir, out_dir = str(work / "edge_state"), str(work / "triangles_out")

    _process_batch(_edges(spark, [(1, 2), (2, 3)]), "r0b0",
                   state_dir, out_dir)
    b1 = _edges(spark, [(1, 3), (3, 4), (2, 4)])  # completes both tris

    # half-committed first attempt: triangles partition written (with
    # content that must be REPLACED, not appended to), state partition
    # never committed — the failure window the review named
    import os
    spark.createDataFrame([(9, 9, 9)], "ta long, tb long, tc long") \
        .write.mode("overwrite") \
        .parquet(os.path.join(out_dir, "batch_key=r0b1"))

    for _ in range(2):  # replay twice — idempotent both times
        _process_batch(b1, "r0b1", state_dir, out_dir)
        got = {(r.ta, r.tb, r.tc) for r in _read_batches(
            spark, out_dir, "ta long, tb long, tc long").collect()}
        assert got == {(1, 2, 3), (2, 3, 4)}
        state = {(r.u, r.v) for r in _read_batches(
            spark, state_dir, "u long, v long").collect()}
        assert state == {(1, 2), (2, 3), (1, 3), (3, 4), (2, 4)}


def test_streaming_triangles_empty_source(spark, tmp_path):
    """r13 review: a source directory yielding zero micro-batches left
    triangles_out uncreated and the final read crashed PATH_NOT_FOUND;
    it must return an empty result instead."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    edges_dir = tmp_path / "edges_empty"
    edges_dir.mkdir()
    tris = streaming_triangles(spark, str(edges_dir),
                               str(tmp_path / "work_empty"))
    assert tris.count() == 0
    assert tris.columns == ["a", "b", "c"]


def test_streaming_triangles_rerun_same_workdir(spark, tmp_path):
    """A second full call over the same work_dir (fresh checkpoint,
    new run key) reprocesses the source but the anti-join suppresses
    every already-seen edge — the triangle set must not grow, and the
    new run's partitions must not shadow the old run's (the run
    ordinal in batch_key keeps exclusion scoped to the in-flight
    batch only)."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    edges_dir = str(tmp_path / "edges_rerun")
    _edges(spark, [(1, 2), (2, 3), (1, 3)]).coalesce(1) \
        .write.mode("append").parquet(edges_dir)
    work = str(tmp_path / "work_rerun")
    first = streaming_triangles(spark, edges_dir, work)
    assert _tri_set(first) == {(1, 2, 3)} and first.count() == 1
    second = streaming_triangles(spark, edges_dir, work)
    assert _tri_set(second) == {(1, 2, 3)} and second.count() == 1


def test_read_batches_swallows_only_missing_path(spark, tmp_path):
    """ADVICE r13: _read_batches caught EVERY AnalysisException and
    returned empty, so a genuine analysis failure on the state root
    (corrupt layout, schema conflict) was silently treated as 'no
    prior state' — the anti-join would then re-admit already-seen
    edges and duplicate triangles. Only PATH_NOT_FOUND may mean
    empty; everything else re-raises."""
    from pyspark.errors import AnalysisException

    from mapreduce_experiment_spark.streaming.triangles import (
        _is_missing_path, _read_batches,
    )
    # the one condition that legitimately means "no batch committed"
    # (message passed explicitly: PATH_NOT_FOUND is a JVM-side class
    # absent from the Python error-conditions.json, so the template
    # lookup the message-less constructor does would fail)
    assert _is_missing_path(AnalysisException(
        message="[PATH_NOT_FOUND] Path does not exist: file:/nope",
        errorClass="PATH_NOT_FOUND", messageParameters={}))
    # any OTHER analysis failure must propagate
    assert not _is_missing_path(AnalysisException(
        message="[COLUMN_ALREADY_EXISTS] batch_key",
        errorClass="COLUMN_ALREADY_EXISTS",
        messageParameters={"columnName": "batch_key"}))
    # end-to-end: a genuinely missing root still reads as empty
    empty = _read_batches(spark, str(tmp_path / "never_written"),
                          "u long, v long")
    assert empty.count() == 0 and empty.columns == ["u", "v"]


def test_streaming_triangles_cross_run_half_commit_dedups(spark, tmp_path):
    """ADVICE r13: a crash BETWEEN the triangles write and the state
    write, followed by a fresh-checkpoint rerun under a DIFFERENT run
    ordinal, leaves the orphaned triangles partition in place while
    the rerun re-derives the same triangles under its own batch_key —
    per-partition overwrite can't collapse those. The accumulated
    read is now .distinct(), so the duplicate rows union to one."""
    import os

    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    work = tmp_path / "work_half_commit"
    # the half-committed state: triangles partition from a crashed run
    # whose state write never happened (so nothing suppresses the
    # rerun's re-derivation)
    spark.createDataFrame([(1, 2, 3)], "ta long, tb long, tc long") \
        .write.mode("overwrite") \
        .parquet(os.path.join(str(work / "triangles_out"),
                              "batch_key=r9999b0"))
    edges_dir = str(tmp_path / "edges_half_commit")
    _edges(spark, [(1, 2), (2, 3), (1, 3)]).coalesce(1) \
        .write.mode("append").parquet(edges_dir)
    tris = streaming_triangles(spark, edges_dir, str(work))
    assert _tri_set(tris) == {(1, 2, 3)}
    assert tris.count() == 1  # duplicate across run keys collapsed


def test_streaming_triangles_orphaned_state_under_empty_partition_dedups(
        spark, tmp_path):
    """A crashed run can leave an EMPTY triangles partition next to
    deg/adj deltas it did write (its state write never happened). A
    rerun under a new run ordinal then sees the orphaned adjacency for
    an edge it has not admitted yet: it completes (1,2,3) once from
    that adjacency and again when the edge itself arrives — two rows
    under ONE run key. The final distinct must still apply, because
    the orphan's run ordinal is present as a partition directory even
    though no triangle ROW carries it."""
    from mapreduce_experiment_spark.streaming.triangles import (
        streaming_triangles,
    )
    work = str(tmp_path / "work_orphan")
    orphan = "batch_key=r9999b0"
    spark.createDataFrame([], "ta long, tb long, tc long") \
        .write.mode("overwrite") \
        .parquet(os.path.join(work, "triangles_out", orphan))
    spark.createDataFrame([(1, 1), (3, 1)], "a long, d long") \
        .write.mode("overwrite") \
        .parquet(os.path.join(work, "deg_state", orphan))
    spark.createDataFrame([(1, [3]), (3, [1])], "a long, nbrs array<long>") \
        .write.mode("overwrite") \
        .parquet(os.path.join(work, "adj_state", orphan))
    edges_dir = str(tmp_path / "edges_orphan")
    for pairs in ([(1, 2), (2, 3)], [(1, 3)]):
        _edges(spark, pairs).coalesce(1).write.mode("append") \
            .parquet(edges_dir)
    tris = streaming_triangles(spark, edges_dir, work)
    assert sorted((r.a, r.b, r.c) for r in tris.collect()) == [(1, 2, 3)]


def test_twitter_shaped_graph_matches_duckdb_checksums(spark, tmp_path):
    """The paper's workload, checked on every run: a generated
    Twitter-shaped text edge list (dense circles, heavy-tailed degrees,
    duplicate lines, a self-loop) read through read_edge_list, closed
    by both triangle calls in both modes, and compared against DuckDB's
    checksums of the same triangle sets. The self-loop makes the
    faithful self-loop classes run and differ from simple mode."""
    from perfbench import expected, gen

    edges = gen.edge_array(4_000, seed=3)
    assert gen.shape(edges)["self_loops"] >= 1
    want = expected.triangle_checksums(edges)
    assert want["faithful"][0] > want["simple"][0] > 0
    path = str(tmp_path / "twitter.txt")
    gen.write_text(edges, path)
    e = read_edge_list(spark, path)
    for mode in ("simple", "faithful"):
        got = G.triangles(e, mode=mode) \
            .agg(*expected.spark_checksum(F)).collect()[0]
        assert tuple(int(v) for v in got) == want[mode], mode
        n = G.triangle_count(e, mode=mode).collect()[0].n_triangles
        assert n == want[mode][0], mode


def _faithful_multadj_replay(edges):
    """The pre-r18 faithful formulation — the literal multiset-
    adjacency replay of the reference's degenerate semantics — kept as
    the test reference proving the shipped class-decomposition
    (operators/graph.py triangles mode='faithful') emits exactly the
    same distinct triple set on dirty input."""
    m = G.edge_multiplicity(edges)
    madj = m.select(
        F.col("u").alias("w"), F.col("v").alias("x"),
        F.when(F.col("u") == F.col("v"), F.col("mult") * 2)
         .otherwise(F.col("mult")).alias("m"),
    )
    madj = madj.union(
        madj.where(F.col("w") != F.col("x"))
            .select(F.col("x").alias("w"), F.col("w").alias("x"), "m")
    )
    pair = m.select(F.col("u").alias("x"), F.col("v").alias("y"))
    ax = madj.select(F.col("w"), F.col("x"), F.col("m").alias("m_x"))
    ay = madj.select(F.col("w"), F.col("x").alias("y"),
                     F.col("m").alias("m_y"))
    tri = (
        pair.join(ax, "x").join(ay, ["w", "y"])
        .where(
            ((F.col("x") != F.col("y"))
             & (F.col("m_x") >= 1) & (F.col("m_y") >= 1))
            | ((F.col("x") == F.col("y")) & (F.col("m_x") >= 2))
        )
    )
    abc = F.array_sort(F.array("x", "y", "w"))
    return tri.select(
        abc.getItem(0).alias("a"),
        abc.getItem(1).alias("b"),
        abc.getItem(2).alias("c"),
    ).distinct()


@settings(max_examples=15, deadline=None)
@given(pairs=edge_lists)
def test_faithful_decomposition_matches_multadj_replay(spark, pairs):
    """r18: faithful mode is decomposed into simple-support triangles
    + self-loop classes; on random dirty graphs (duplicates AND
    self-loops — the (i, i) tuples the strategy generates) it must
    emit exactly the replay's distinct set, with no duplicate rows
    (the decomposition claims disjointness, so it ships without a
    final distinct)."""
    e = _edges(spark, pairs)
    got = G.triangles(e, mode="faithful").collect()
    got_set = {(r.a, r.b, r.c) for r in got}
    assert len(got) == len(got_set), "duplicate rows — classes overlap"
    assert got_set == _tri_set(_faithful_multadj_replay(_edges(spark, pairs)))


@settings(max_examples=10, deadline=None)
@given(pairs=edge_lists)
def test_triangles_invariant_under_orientation_and_duplication(spark, pairs):
    base = _edges(spark, pairs)
    flipped = _edges(spark, [(b, a) for a, b in pairs])
    doubled = _edges(spark, pairs + pairs)
    want = _tri_set(G.triangles(base))
    assert _tri_set(G.triangles(flipped)) == want
    assert _tri_set(G.triangles(doubled)) == want


def test_derive_edges_already_canonical(spark, sf_smoke):
    """Graph queries pass assume_canonical=True over derive_edges,
    which silently trusts that the input is the canonical simple edge
    set. Pin that invariant locally: a full canonical_edges pass over
    derive_edges must be a no-op (same rows), so a derive_edges
    regression (duplicates, self-loops, reversed orientation) fails
    here instead of corrupting triangles/CC/PageRank."""
    from mapreduce_experiment_spark.operators.graph import canonical_edges
    from mapreduce_experiment_spark.sources.tables import derive_edges

    e = derive_edges(spark, sf_smoke).persist()
    normalized = canonical_edges(e, assume_canonical=False).select(
        F.col("u").alias("src"), F.col("v").alias("dst"))
    n_raw, n_norm = e.count(), normalized.count()
    assert n_raw == n_norm
    assert e.exceptAll(normalized).count() == 0
    assert normalized.exceptAll(e).count() == 0
    e.unpersist()
