"""The benchmark's workloads: inputs, expected outputs and one pass each.

Every workload makes its input and a warm-up input of half its size
from the seed. A pass calls the program's public functions on one of
them and checks each output against DuckDB (``expected``). A cold JVM
runs its first passes much more slowly than later ones; one pass over
the warm-up input takes most of that cost, and a smaller one leaves the
first measured pass still on the steep part of that curve.

The inputs and their expected values are made in a child process
(:func:`prepare`), so that the memory this takes never shows in the
benchmark process's own high-water mark.
"""

from __future__ import annotations

import os
import pickle
import shutil
import subprocess
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import expected
import gen
from mapreduce_experiment_spark.operators.graph import triangle_count, triangles
from mapreduce_experiment_spark.sources.edges import read_edge_list
from mapreduce_experiment_spark.streaming.triangles import streaming_triangles

STATE_DIRS = ("edge_state", "deg_state", "adj_state")


def _count_checksum():
    return [F.sum("n_triangles").alias("n")]


@dataclass
class Inputs:
    """One generated input: where the program reads it from, how many
    records it has, its measured shape and the checksums its outputs
    must match."""

    path: str
    records: int
    shape: dict
    expected: dict


def _edge_inputs(edges: np.ndarray, path: str) -> Inputs:
    sums = expected.triangle_checksums(edges)
    shape = {**gen.shape(edges), "simple_triangles": sums["simple"][0],
             "faithful_triangles": sums["faithful"][0],
             "triangles_per_line": round(sums["simple"][0] / len(edges), 3)}
    return Inputs(path, len(edges), shape, sums)


class TwitterTriangles:
    """The paper's workload: a Twitter-shaped text edge list, read and
    closed into triangles three ways."""

    name = "twitter_triangles"
    records = 100_000
    warmup_divisor = 2
    passes = 2
    streams = False

    def make_input(self, n: int, seed: int, path: str) -> Inputs:
        edges = gen.edge_array(n, seed)
        gen.write_text(edges, path)
        return _edge_inputs(edges, path)

    def run_pass(self, bench, inp: Inputs) -> None:
        with bench.span("sources.edges.read", "sources"):
            ed = read_edge_list(bench.spark, inp.path)
        simple, faithful = inp.expected["simple"], inp.expected["faithful"]
        bench.op("triangle_count_simple", "plans",
                 lambda: triangle_count(ed, "simple"),
                 _count_checksum(), simple[:1])
        checksum = expected.spark_checksum(F)
        bench.op("triangles_simple", "plans",
                 lambda: triangles(ed, "simple"), checksum, simple)
        bench.op("triangles_faithful", "plans",
                 lambda: triangles(ed, "faithful"), checksum, faithful)


class StreamingTriangles:
    """The same closure run incrementally: parquet edge files drained
    one micro-batch each by the streaming triangle pipeline."""

    name = "streaming_triangles"
    records = 50_000
    files = 2
    warmup_divisor = 2
    passes = 3
    streams = True

    def make_input(self, n: int, seed: int, path: str) -> Inputs:
        edges = gen.edge_array(n, seed)
        os.makedirs(path)
        # At least two files, so that every drain, the warm-up too,
        # also runs the path of a batch that meets earlier state.
        parts = max(2, self.files * n // self.records)
        for i, chunk in enumerate(np.array_split(edges, parts)):
            pq.write_table(pa.table({"src": chunk[:, 0], "dst": chunk[:, 1]}),
                           os.path.join(path, f"part-{i:02d}.parquet"))
        return _edge_inputs(edges, path)

    def run_pass(self, bench, inp: Inputs) -> None:
        state = bench.fresh_dir("stream")
        try:
            # The drain runs inside the call; the returned DataFrame reads
            # the accumulated triangle partitions back.
            bench.op("streaming_triangles", "streaming",
                     lambda: streaming_triangles(bench.spark, inp.path, state),
                     expected.spark_checksum(F), inp.expected["simple"],
                     after_build=lambda: bench.record_state(
                         [os.path.join(state, d) for d in STATE_DIRS]))
        finally:
            shutil.rmtree(state, ignore_errors=True)


WORKLOADS = {w.name: w for w in (TwitterTriangles, StreamingTriangles)}


def _make_inputs(name: str, seed: int, work: str) -> tuple[Inputs, Inputs]:
    workload = WORKLOADS[name]()
    n = workload.records
    main = workload.make_input(n, seed, os.path.join(work, "input"))
    warm = workload.make_input(max(1, n // workload.warmup_divisor),
                               seed + 1_000_003,
                               os.path.join(work, "warmup-input"))
    return main, warm


def _child(name: str, seed: str, work: str, out: str) -> None:
    with open(out, "wb") as f:
        pickle.dump(_make_inputs(name, int(seed), work), f)


def prepare(name: str, seed: int, work: str) -> tuple[Inputs, Inputs]:
    """Generate and write the seed's input and its warm-up input, and
    compute their expected outputs, in a child process.

    The child is a plain interpreter that the call waits for; a
    multiprocessing pool would leave its resource tracker running after
    the benchmark exits.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(work, "inputs.pickle")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [here, os.path.dirname(here), os.environ.get("PYTHONPATH", "")]))
    subprocess.run([sys.executable, "-c",
                    "import sys, workloads; workloads._child(*sys.argv[1:])",
                    name, str(seed), work, out], env=env, check=True)
    with open(out, "rb") as f:
        return pickle.load(f)
