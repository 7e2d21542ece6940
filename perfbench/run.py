"""Benchmark of the program's workloads, end to end and per layer.

The workloads (``workloads.py``) are the paper's triangle closure over
a Twitter-shaped edge list and the same closure run as a stream.

Run from the root of a checkout:

    python3 perfbench/run.py --workload twitter_triangles --seed 1 \
        --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it holds the details: environment, load average,
input shape, every sample and the failure share.

One run does this, in one process and one JVM:

1. Generate the seed's input, a warm-up input and their expected
   outputs, in a child process. This is not timed: it belongs to the
   benchmark, and so does the memory it takes.
2. Set up: start a session in a fresh JVM and run one pass over the
   warm-up input. ``setup_s`` times both. It is one sample per run: a
   cold set-up costs as much as two or three measured passes, and the
   run's budget has no room for a second one.
3. Run passes until ``--seconds`` have passed and at least the
   workload's ``passes`` are done, and report medians of the first
   ``passes`` of them. The JVM keeps getting faster for several
   passes, so a fixed set of passes keeps every run, and a faster
   program, at the same point of that curve; passes after them are
   still checked but not measured. With ``--trace 1`` the passes go
   traced, untraced, traced, and so on: the traced ones record spans
   and per-job metrics, and the untraced one between them gives the
   tracing overhead.

Everything the run writes goes under ``.perfbench/`` in the checkout.
Its working directory there is removed at the end; the span files of
traced runs stay.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import Observation  # noqa: E402

import spans  # noqa: E402
import sparkstats  # noqa: E402
import workloads  # noqa: E402
from mapreduce_experiment_spark.session import get_session  # noqa: E402

OUT_DIR = os.path.join(ROOT, ".perfbench")
CORES = 4
DRIVER_MEMORY = "4g"
# A heap committed in full and a fixed young generation make the JVM's
# resident high-water mark repeat from run to run: left to itself, G1
# grows the heap by a different amount in each run. What still varies
# is the old generation, the data the program keeps.
HEAP_OPTIONS = f"-Xms{DRIVER_MEMORY} -Xmn1g"
MB = 1024 * 1024

END_TO_END = {"setup_s": "s", "wall_s": "s", "records_per_s": "1/s",
              "cpu_s": "s", "peak_rss_mb": "MB"}
OP_NAMES = ("triangle_count_simple", "triangles_simple", "triangles_faithful",
            "streaming_triangles")
LAYERS = ("session", "sources", "plans", "operators", "streaming")
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.edges.read_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_cpu_s": "s",
    "plans.build_shuffle_mb": "MB",
    "plans.build_jobs_frac": "ratio",
    "plans.catalyst_ms": "ms",
    "plans.exchanges": "count",
    **{f"plans.{op}.wall_s": "s" for op in OP_NAMES},
    "operators.exec_s": "s",
    "operators.exec_cpu_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.busy_frac": "ratio",
    "operators.gc_ms": "ms",
    "operators.shuffle_write_mb": "MB",
    "operators.shuffle_read_mb": "MB",
    "operators.spill_mb": "MB",
    "operators.peak_exec_mem_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_ms.p50": "ms",
    "streaming.batch_ms.max": "ms",
    "streaming.batch_ms.n": "count",
    "streaming.addbatch_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.state_mb": "MB",
    "streaming.jobs": "count",
    "streaming.cpu_s": "s",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _dir_mb(paths: list[str]) -> float:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def _adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own
    parent exits first, so that :func:`_reap_children` finds it."""
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            kids.append(int(entry))
    return kids


def _reap_children(grace_s: float = 20.0) -> None:
    """Stop every process still running under this one, and wait until
    each has ended: SIGTERM first, SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while kids := _children():
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


class Bench:
    """One run: the session, the checked operations and, in traced
    passes, the spans and per-pass records."""

    def __init__(self, workload, work: str):
        self.workload = workload
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer = spans.Tracer(False)
        self.listener = None
        self._dirs = 0
        self._record: dict = {}

    def start(self) -> None:
        self.spark = get_session(
            app_name="perfbench", cpus=CORES,
            extra_conf={"spark.driver.memory": DRIVER_MEMORY,
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={self.work}/tmp "
                            f"{HEAP_OPTIONS} -XX:-UsePerfData",
                        # Keep every job and stage of a run readable.
                        "spark.ui.retainedJobs": "100000",
                        "spark.ui.retainedStages": "100000"})
        self.jvm = SparkContext._gateway.proc
        self.reader = sparkstats.StatusReader(self.spark)

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        spark, self.spark = self.spark, None
        gateway = SparkContext._gateway
        try:
            spark.stop()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            gateway.shutdown()
            self.jvm.stdin.close()  # the gateway server exits on EOF
            self.jvm.wait(timeout=60)

    def listen(self) -> None:
        self.listener = sparkstats.ProgressListener()
        self.spark.streams.addListener(self.listener)

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{prefix}-{self._dirs}")

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def record_state(self, dirs: list[str]) -> None:
        if self.tracer.enabled:
            self._record["state_mb"] = (self._record.get("state_mb", 0.0)
                                        + _dir_mb(dirs))

    def _group(self, label: str | None) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                     label)

    def op(self, name, layer, build, checksum, want, after_build=None):
        """Build one output, write it to the noop sink and check it.

        An operation fails if it raises or its checksum differs from
        ``want``; either way the pass goes on with the next one.
        """
        self.attempted += 1
        obs = Observation(f"{name}-{self.attempted}")
        got = None
        try:
            with self.span(f"build:{name}", layer):
                self._group(f"build:{name}")
                df = build()
            if after_build is not None:
                after_build()
            with self.span(f"action:{name}", "operators"):
                self._group(f"action:{name}")
                (df.observe(obs, *checksum).write.format("noop")
                 .mode("overwrite").save())
            got = tuple(int(v or 0) for v in obs.get.values())
        except Exception:
            traceback.print_exc()
        finally:
            self._group(None)
        if got != tuple(want):
            self.failed += 1
            self.failures.append(f"{name}: got {got}, want {tuple(want)}")
        elif self.tracer.enabled:
            self._record.setdefault("dfs", []).append(df)

    def run_pass(self, inp, traced: bool = False) -> dict:
        """One pass over ``inp``: its wall time, jobs and, if traced,
        its root span and records."""
        self.tracer.enabled = traced
        self._record = {}
        before = self.reader.last_job_id()
        epoch = time.time() - time.perf_counter()
        t0 = time.perf_counter()
        with self.span("pass", "bench") as root:
            self.workload.run_pass(self, inp)
        wall = time.perf_counter() - t0
        self.tracer.enabled = False
        rec = {"wall_s": wall, "traced": traced,
               "jobs": self.reader.jobs_after(before), **self._record}
        if traced:
            rec["root"] = root
            rec["batches"] = (self.listener.take(since=epoch + t0)
                              if self.workload.streams else [])
            drain = next(s for s in reversed(self.tracer.spans)
                         if s.layer == "streaming" or s is root)
            for b in rec["batches"]:
                start = b["start"] - epoch
                self.tracer.add(
                    f"batch:{b['batch_id']}", "streaming", start,
                    start + b["duration_ms"]["triggerExecution"] / 1e3,
                    parent=drain)
        return rec


def end_to_end(bench: Bench, inp, setup, passes, rss_mb) -> dict:
    wall = _median([p["wall_s"] for p in passes])
    return {
        "setup_s": setup["start_s"] + setup["warmup_s"],
        "wall_s": wall,
        "records_per_s": inp.records / wall,
        "cpu_s": _median([bench.reader.totals(p["jobs"]).cpu_ms / 1e3
                          for p in passes]),
        "peak_rss_mb": rss_mb,
    }


def _pass_layers(bench: Bench, p: dict) -> dict:
    """Per-layer numbers of one traced pass."""
    tree = bench.tracer.subtree(p["root"])
    secs = {"plans": 0.0, "operators": 0.0, "streaming": 0.0}
    op_wall = dict.fromkeys(OP_NAMES, 0.0)
    read_s = 0.0
    for s in tree:
        kind, _, op = s.name.partition(":")
        if s.name == "sources.edges.read":
            read_s += s.end - s.start
        elif kind in ("build", "action"):
            secs[s.layer] += s.end - s.start
            op_wall[op] += s.end - s.start

    def labelled(prefix):
        return [j for j in p["jobs"] if (j.group or "").startswith(prefix)]
    build, action = labelled("build:"), labelled("action:")
    # The rest ran on a streaming query's thread, under its own group.
    drain = [j for j in p["jobs"] if j not in build and j not in action]
    bt, at, dt = (bench.reader.totals(js) for js in (build, action, drain))
    plans = [sparkstats.plan_stats(df) for df in p.get("dfs", [])]
    durations = [b["duration_ms"] for b in p["batches"]]
    exec_s = secs["operators"]
    row = {
        "sources.edges.read_s": read_s,
        "plans.build_s": secs["plans"],
        "plans.build_jobs": bt.jobs,
        "plans.build_cpu_s": bt.cpu_ms / 1e3,
        "plans.build_shuffle_mb": bt.shuffle_write_bytes / MB,
        "plans.build_jobs_frac": bt.jobs / max(1, len(p["jobs"])),
        "plans.catalyst_ms": sum(x["catalyst_ms"] for x in plans),
        "plans.exchanges": sum(x["exchanges"] for x in plans),
        **{f"plans.{op}.wall_s": t for op, t in op_wall.items()},
        "operators.exec_s": exec_s,
        "operators.exec_cpu_s": at.cpu_ms / 1e3,
        "operators.jobs": at.jobs,
        "operators.stages": at.stages,
        "operators.tasks": at.tasks,
        "operators.busy_frac": at.run_ms / 1e3 / max(1e-9, exec_s * CORES),
        "operators.gc_ms": at.gc_ms,
        "operators.shuffle_write_mb": at.shuffle_write_bytes / MB,
        "operators.shuffle_read_mb": at.shuffle_read_bytes / MB,
        "operators.spill_mb": at.spill_bytes / MB,
        "operators.peak_exec_mem_mb": at.peak_exec_mem_bytes / MB,
        "streaming.batches": len(durations),
        "streaming.addbatch_ms": sum(d["addBatch"] for d in durations),
        "streaming.overhead_ms": sum(d["triggerExecution"] - d["addBatch"]
                                     for d in durations),
        "streaming.state_mb": p.get("state_mb", 0.0),
        "streaming.jobs": dt.jobs,
        "streaming.cpu_s": dt.cpu_ms / 1e3,
    }
    self_s = spans.self_times(tree)
    row.update({f"self_s.{layer}": self_s.get(layer, 0.0)
                for layer in LAYERS if layer != "session"})
    return row


def per_layer(bench: Bench, setup, passes) -> dict:
    """Medians over the traced passes of each layer's numbers."""
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    rows = [_pass_layers(bench, p) for p in traced]
    out = {k: _median([r[k] for r in rows]) for k in rows[0]}
    batch_ms = [b["duration_ms"]["triggerExecution"]
                for p in traced for b in p["batches"]]
    summary = spans.timing_summary(batch_ms) if batch_ms else {}
    out["streaming.batch_ms.p50"] = summary.get("p50", 0.0)
    out["streaming.batch_ms.max"] = summary.get("max", 0.0)
    out["streaming.batch_ms.n"] = summary.get("n", 0)
    # Set-up runs untraced; its two spans are timed around the calls.
    out["session.start_s"] = setup["start_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    out["self_s.session"] = out["session.start_s"] + out["session.warmup_s"]
    out["trace.wall_s"] = _median([p["wall_s"] for p in traced])
    out["trace.overhead_s"] = out["trace.wall_s"] - _median(
        [p["wall_s"] for p in untraced])
    return out


def run(args) -> tuple[dict, dict]:
    """One benchmark run; returns the detail and result objects."""
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse/ and other relative paths land here
    workload = workloads.WORKLOADS[args.workload]()
    bench = Bench(workload, work)
    try:
        inp, warm = workloads.prepare(args.workload, args.seed, work)
        load_before = os.getloadavg()
        t0 = time.perf_counter()
        bench.start()
        t1 = time.perf_counter()
        bench.run_pass(warm)
        t2 = time.perf_counter()
        setup = {"start_s": t1 - t0, "warmup_s": t2 - t1}
        if args.trace:
            bench.tracer.add("session.start", "session", t0, t1)
            bench.tracer.add("session.warmup", "session", t1, t2)
            bench.listen()
        passes = []
        deadline = time.perf_counter() + args.seconds
        least = 3 if args.trace else workload.passes
        while time.perf_counter() < deadline or len(passes) < least:
            traced = bool(args.trace) and len(passes) % 2 == 0
            passes.append(bench.run_pass(inp, traced))
        measured = passes[:least]
        rss_mb = _vm_hwm_mb(bench.jvm.pid) + _vm_hwm_mb("self")
        spans_path = None
        if args.trace:
            metrics = per_layer(bench, setup, measured)
            units = PER_LAYER
            spans_path = os.path.join(
                OUT_DIR, f"spans-{args.workload}-{args.seed}.json")
            bench.tracer.dump(spans_path)
        else:
            metrics = end_to_end(bench, inp, setup, measured, rss_mb)
            units = END_TO_END
        detail = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "env": {"master": f"local[{CORES}]",
                    "driver_memory": DRIVER_MEMORY,
                    "heap_options": HEAP_OPTIONS,
                    "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
                    "nproc": os.cpu_count(),
                    "loadavg_before": load_before,
                    "loadavg_after": os.getloadavg()},
            "input": inp.shape,
            "warmup_input": warm.shape,
            "setup": setup,
            "pass_wall_s": [p["wall_s"] for p in passes],
            "pass_traced": [p["traced"] for p in passes],
            "pass_cpu_s": [bench.reader.totals(p["jobs"]).cpu_ms / 1e3
                           for p in passes],
            "failed_frac": bench.failed / max(1, bench.attempted),
            "failures": bench.failures,
            "spans": spans_path,
        }
    finally:
        try:
            bench.stop()
        finally:
            _reap_children()
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    return detail, result


def main(argv=None) -> int:
    args = _parse(argv)
    _adopt_orphans()
    detail, result = run(args)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
