"""Benchmark of the frontmatter engine: MCP vault sessions and a pipeline slice.

Run from the repository root:

    python3 perfbench/run.py --workload vault_read --seed 1 --seconds 3 --trace 0

Workloads (``workloads.py``; why each was chosen is in BENCHMARK.json):

- ``vault_read``: semantic search on, one glob, so the engine's
  one-entry snapshot cache always hits;
- ``vault_write``: default server with semantic search off; writes and
  a glob switch make reads miss the snapshot;
- ``pipeline``: registry queries on seeded tables, bypassing the MCP
  server, the engine and the vault.

Environment, fixed here and printed on each run's ``env:`` line: Spark
``local[<cores available>]``, a 2g driver heap, one closed-loop client
in this process, inputs generated from ``--seed`` under
``.perfbench_work/`` (removed when the run ends). Warm-up belongs to
set-up: a long-lived server pays the JVM, JIT and Python-worker
start-up once. One set-up runs from Spark session start through
engine, server and a warm-up call until the first timed operation can
start; generating the inputs is not part of it. ``vault_write`` and
``pipeline`` set up three times in a run: first in a new JVM, then
twice more as a restarted server would (``workloads.SETUPS`` says how).
``vault_read`` sets up once. The loop runs whole cycles of a fixed mix until
``--seconds`` have passed.

End-to-end metrics (``--trace 0``):

- ``op_mean_ctrl``: mean operation time (frame in to response line out;
  a pipeline query's build plus collect) divided by the median time of
  a control run after each operation: a fixed JVM-only RDD job on every
  core plus a fixed pure-Python loop, which none of the program's
  session settings reach. On a shared 4-vCPU VM, hypervisor steal of 0-50%
  lasting minutes was measured to move raw times by 2x; the ratio
  cancels most of that. The raw mean (``op_mean_ms``), the per-class
  times and the CPU seconds of the process tree (this process, the JVM,
  the Python workers; from /proc) per operation are printed as ``info``
  lines.
- ``live_mb``: what the Spark driver keeps after the loop: JVM heap and
  non-heap in use after a full collection plus this process's resident
  set. The process tree's peak resident memory (``peak_rss_mb``, an
  ``info`` line) moves by a fifth between runs with the JVM's heap
  sizing; this does not.
- ``setup_s``: the median of the run's set-ups. The first one alone,
  with the JVM launch, is the ``setup_cold_s`` info line.

``--trace 1`` runs the same untraced loop, then installs span wrappers
around the program's layer boundaries (``spans.py``), runs the loop
again and reports per-layer metrics (``per_layer``) with the tracing
overhead: the traced loop's ``op_mean_ctrl`` against the untraced one.

The result is the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Every response is checked
against answers computed independently (``vault.py``, DuckDB oracles);
a call that fails (the stdio loop raising on a frame) counts in
``failed`` and the loop carries on.

``--scale tiny`` (a 50-note vault, every pipeline table at sf0.001) is for
the self-test only.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DRIVER_HEAP = "2g"
CONTROL_ROWS = 400_000
CONTROL_LOOP = 200_000

def declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, for ``end_to_end`` or ``per_layer``, as
    BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


class Env:
    """What a workload needs from the harness: its seed, scratch
    directory, the Spark session, and the phase runner."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = ROOT / ".perfbench_work" / f"{workload}-{os.getpid()}"
        self.tracer = None
        self.stats = None
        self.spark = None

    def start_spark(self):
        from frontmatter_mcp_spark.session import get_spark
        from sparkstats import SparkStats

        cores = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name="perfbench",
            cpus=cores,
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # keep every job's counters for the job-id windows
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.stats = SparkStats(self.spark)
        # the control: a JVM-only RDD job on every core and a fixed Python
        # loop, so no SQL, AQE or Arrow setting the program makes reaches it
        self._control_rdd = self.spark.sparkContext._jsc.sc().range(0, CONTROL_ROWS, 1, cores)
        return self.spark

    def set_up(self, build, n: int, new_session: bool):
        """Set up ``n`` times and return the last set-up's state with
        every set-up's seconds. The first set-up starts the JVM and the
        Spark session, then runs ``build`` (engine, server, warm-up).
        Each later one, as a restarted server would, runs ``build``
        again: in a new session in the same JVM if ``new_session``, else
        in the running session."""
        times, state = [], None
        for i in range(n):
            if i and new_session:
                self.spark.stop()
            t0 = time.perf_counter()
            if i == 0 or new_session:
                self.start_spark()
            state = build()
            times.append(time.perf_counter() - t0)
        return state, times

    def control(self) -> float:
        """Seconds of the control: a small Spark job (scheduler, JVM
        tasks) plus a pure-Python loop (this process)."""
        t0 = time.perf_counter()
        self._control_rdd.count()
        x = 0
        for i in range(CONTROL_LOOP):
            x = (x * 31 + i) % 1_000_003
        return time.perf_counter() - t0

    def run_phases(self, out, loop) -> None:
        """Untraced loop; with tracing, a second, traced loop after it."""
        from spans import Tracer

        self.control()  # the control job's own first run, untimed
        out.phases.append(loop())
        if not self.trace:
            return
        self.tracer = Tracer(job_ids=self.stats.next_job_id)
        self.tracer.install(self.spark)
        try:
            out.phases.append(loop())
        finally:
            self.tracer.uninstall()


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def end_to_end(out, env) -> dict[str, float]:
    from procs import live_mb

    ph = out.phases[0]
    return {
        # mean operation time in units of the control job timed after
        # each operation; failed calls count here and in "failed"
        "op_mean_ctrl": statistics.mean(o.latency_s for o in ph.ops) / statistics.median(ph.control_s),
        "live_mb": live_mb(env.spark),
        "setup_s": out.setup_s,
    }


def class_figures(out) -> dict[str, tuple[float, str]]:
    """Per-class latency figures of the untraced loop (informational).
    A call that failed counts with the time it took until it failed."""
    from procs import peak_rss_mb

    ph = out.phases[0]
    by: dict[str, list[float]] = {}
    for o in ph.ops:
        by.setdefault(o.cls, []).append(o.latency_s * 1e3)
    figs = dict(out.info)
    for cls, lat in sorted(by.items()):
        figs[f"{cls}_p50_ms"] = (statistics.median(lat), "ms")
        figs[f"{cls}_n"] = (float(len(lat)), "count")
    if "read" in by and len(by["read"]) >= 2:
        figs["read_p90_ms"] = (statistics.quantiles(by["read"], n=10, method="inclusive")[-1], "ms")
    figs["op_mean_ms"] = (statistics.mean(o.latency_s for o in ph.ops) * 1e3, "ms")
    figs["ops_per_s"] = (len(ph.ops) / sum(o.latency_s for o in ph.ops), "1/s")
    figs["cpu_s"] = (ph.cpu_s, "s")
    figs["cpu_per_op_s"] = (ph.cpu_s / len(ph.ops), "s")
    figs["peak_rss_mb"] = (peak_rss_mb(), "MB")
    figs["loop_wall_s"] = (ph.wall_s, "s")
    figs["host_steal_pct"] = (ph.steal_share * 100, "%")
    figs["control_p50_ms"] = (statistics.median(ph.control_s) * 1e3, "ms")
    figs["attempted"] = (float(len(ph.ops)), "count")
    figs["failed_share"] = (sum(not o.ok for o in ph.ops) / len(ph.ops), "ratio")
    if all(o.detail.get("build_s") is not None for o in ph.ops):
        passes = len(ph.ops) / max(1, len({o.cls for o in ph.ops}))
        figs["pipeline_wall_s"] = (sum(o.latency_s for o in ph.ops) / passes, "s")
    return figs


def per_layer(out, env) -> dict[str, float]:
    from sparkstats import COUNTERS
    from workloads import PIPELINE_QUERIES, VAULT_CLASSES

    base, traced = out.phases[0], out.phases[-1]
    tracer = env.tracer
    names = declared("per_layer")
    m = dict.fromkeys(names, 0.0)
    ops = traced.ops
    n = len(ops)
    env.stats.drain()

    layers = tracer.layer_times()
    key = {
        "server": "server.self_ms", "engine": "engine.self_ms", "files.listing": "files.listing_ms",
        "markdown.parse": "markdown.parse_ms", "markdown.pivot": "markdown.pivot_ms",
        "dialect.translate": "dialect.translate_ms", "sql.plan": "sql.plan_ms",
        "sql.execute": "sql.execute_ms", "semantic.attach": "semantic.attach_ms",
        "semantic.store_read": "semantic.store_read_ms", "mutation.update_file": "mutation.update_file_ms",
    }
    for o in ops:
        for layer, ms in layers.get(o.op_id, {}).items():
            if layer in key:
                m[key[layer]] += ms / n
    m["server.response_bytes"] = statistics.mean(o.nbytes for o in ops)

    spans = [s for s in tracer.spans if s.op >= 0]
    queries = [i for i, s in enumerate(tracer.spans) if s.name == "engine.query"]
    if queries:
        parsed = {s.parent for s in tracer.spans if s.name == "markdown.parsed_df"}
        m["engine.snapshot_hit_ratio"] = sum(i not in parsed for i in queries) / len(queries)
    listed = [s.info["n"] for s in spans if s.name == "files.collect_files"]
    m["files.listed"] = statistics.mean(listed) if listed else 0.0
    parse_jobs = [s for s in spans if s.name == "markdown.parse_summary"]
    if parse_jobs:
        m["markdown.parse_tasks"] = statistics.mean(
            env.stats.window(s.info["jobs_lo"], s.info["jobs_hi"])["tasks"] for s in parse_jobs
        )

    batches = [o for o in ops if o.cls in ("batch_dir", "batch_vault")]
    if batches:
        m["mutation.batch_files_per_s"] = sum(o.detail.get("updated", 0) for o in batches) / sum(
            o.latency_s for o in batches
        )
        m["mutation.executor_path_share"] = sum(o.jobs[1] > o.jobs[0] for o in batches) / len(batches)

    for cls in VAULT_CLASSES:
        mine = [o for o in ops if o.cls == cls]
        for o in mine:
            w = env.stats.window(*o.jobs)
            for c in COUNTERS:
                m[f"spark.{cls}.{c}"] += w[c] / len(mine)
    for q in PIPELINE_QUERIES:
        mine = [o for o in ops if o.cls == q]
        if not mine:
            continue
        m[f"pipeline.{q}.build_s"] = statistics.median(o.detail["build_s"] for o in mine)
        m[f"pipeline.{q}.collect_s"] = statistics.median(o.detail["collect_s"] for o in mine)
        for c in ("jobs", "stages", "stage_wall_s", "task_cpu_s"):
            m[f"pipeline.{q}.{c}"] = statistics.median(env.stats.window(*o.jobs)[c] for o in mine)

    m.update(out.layer_extra)

    def cost(ph) -> float:
        return statistics.mean(o.latency_s for o in ph.ops) / statistics.median(ph.control_s)

    m["trace.overhead_pct"] = (cost(traced) / cost(base) - 1) * 100
    m["trace.spans_per_op"] = len(spans) / n
    mismatch = set(m) ^ set(names)
    if mismatch:
        raise RuntimeError(f"per-layer metrics differ from the declared list: {sorted(mismatch)}")
    return m


# ---------------------------------------------------------------------------
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("default", "tiny"), default="default")
    args = ap.parse_args(argv)

    if not (ROOT / "frontmatter_mcp_spark" / "__init__.py").is_file():
        print(f"perfbench: no program source under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "tests")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.scale == "tiny":
        workloads.VAULT_DIRS, workloads.VAULT_FILES_PER_DIR = 2, 25
        workloads.MUTATION_THRESHOLD = 40
        workloads.PIPELINE_QUERIES = dict.fromkeys(workloads.PIPELINE_QUERIES, 0.001)

    env = Env(args.workload, args.seed, args.seconds, bool(args.trace))
    shutil.rmtree(env.work, ignore_errors=True)
    (env.work / "tmp").mkdir(parents=True)
    # keep Spark's, the JVMs' and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = str(env.work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env.work / 'tmp'}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = str(env.work / "tmp")
    try:
        out = workloads.WORKLOADS[args.workload](env)
        metrics = per_layer(out, env) if env.trace else end_to_end(out, env)
        units = declared("per_layer" if env.trace else "end_to_end")
        figures = class_figures(out)
    finally:
        if env.spark is not None:
            from procs import stop_spark

            stop_spark(env.spark)
        shutil.rmtree(env.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            env.work.parent.rmdir()  # only when no other run is using it

    cores = len(os.sched_getaffinity(0))
    print(
        f"env: local[{cores}] driver_heap={DRIVER_HEAP} clients=1 closed-loop seed={args.seed} "
        f"vault={workloads.VAULT_DIRS}x{workloads.VAULT_FILES_PER_DIR} "
        f"setups={workloads.SETUPS[args.workload][0]} queries={','.join(f'{q}@sf{sf}' for q, sf in workloads.PIPELINE_QUERIES.items())}"
    )
    for name, (value, unit) in figures.items():
        print(f"info {args.workload} {name} {value:.6g} {unit}")
    for problem in out.problems[:20]:
        print(f"problem {problem}")
    attempted = sum(len(ph.ops) for ph in out.phases)
    failed = sum(not o.ok for ph in out.phases for o in ph.ops)
    print(json.dumps({
        "correct": not out.problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
