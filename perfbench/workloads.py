"""The three workloads: two MCP vault sessions and a pipeline slice.

Each is driven by one closed-loop client in this process: the next
operation is sent only after the previous one returned. A vault
operation is one JSON-RPC ``tools/call`` frame handed to
``MCPServer.serve``, exactly as a stdio client would send it, timed
from frame in to response line out. A pipeline operation is one
registry query, built and collected. Operations run in whole cycles
(a fixed mix) until the measuring time is spent, so every run measures
the same mix.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import random
import statistics
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

from vault import WORDS, Vault, serialize

VAULT_DIRS = 2
VAULT_FILES_PER_DIR = 100
# whole-vault batches (200 files) take the executor path, one-directory
# batches (100 files) the driver loop
MUTATION_THRESHOLD = 150
MAIN_GLOB = "**/*.md"
# query -> scale factor of the tables it reads. At sf0.05 most of
# q148's and q01's time is task time (traced runs report task_run_s
# against build_s and collect_s); at sf0.001 most of q185's and q80's
# is not, and at larger scales they would not fit the time budget.
PIPELINE_QUERIES = {
    "q185_join_estimate_audit": 0.001,  # driver-bound: 50 jobs, eager holds in overlapped threads
    "q80_sequence_packing": 0.001,  # driver-bound: two-phase total order
    "q148_knn_classifier_eval": 0.05,  # executor-bound: kNN over 1,000 embeddings
    "q01_pricing_summary": 0.05,  # executor-bound: scan and aggregate of 300,000 lineitems
}
VAULT_CLASSES = ("read", "semantic", "read_after_write", "batch_vault")
# control-job runs after each operation: more samples of host speed
# at the moments the operations ran
CONTROL_REPEAT = 3
# workload -> (set-ups per run, whether a restart starts a new Spark
# session). ``setup_s`` is the median of a run's set-ups. A restart in
# a new session costs vault_write 6-7 s against 2-3 s in the running
# one; a vault_read restart has to refresh the index (5-9 s) and warm
# the embed() path again (3-4 s). Either would take the benchmark's
# runs over their time budget, so vault_write restarts its engine and
# server in the running session and vault_read sets up once.
SETUPS = {"vault_read": (1, False), "vault_write": (3, False), "pipeline": (3, True)}


@dataclass
class OpRecord:
    cls: str
    latency_s: float
    ok: bool
    op_id: int
    nbytes: int = 0
    jobs: tuple[int, int] = (0, 0)
    detail: dict[str, Any] = field(default_factory=dict)


@dataclass
class Phase:
    ops: list[OpRecord]
    cpu_s: float  # process-tree CPU while operations ran
    wall_s: float
    steal_share: float  # of all host CPU time, while the loop ran
    control_s: list[float]  # the control job's time after each operation


@dataclass
class Outcome:
    setup_s: float
    phases: list[Phase] = field(default_factory=list)
    problems: list[str] = field(default_factory=list)
    info: dict[str, tuple[float, str]] = field(default_factory=dict)
    layer_extra: dict[str, float] = field(default_factory=dict)


# ---------------------------------------------------------------------------
# answer checks
# ---------------------------------------------------------------------------
def _norm(v: Any) -> Any:
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float)):
        return round(float(v), 9)
    return v


def check_rows(
    label: str, got: dict, expected: tuple[list[str], list[dict]], ordered: bool, ignore: tuple[str, ...] = ()
) -> list[str]:
    """Compare a query response with DuckDB's answer over the record.
    ``ordered`` False (SELECT *) compares the column set only, apart
    from the ``ignore`` columns (the embedding)."""
    names, want = expected
    rows = got.get("results")
    if rows is None:
        return [f"{label}: no results in response"]
    cols = [c for c in got.get("columns", []) if c not in ignore]
    if (cols if ordered else set(cols)) != (names if ordered else set(names)):
        return [f"{label}: columns {cols} != {names}"]
    if got.get("row_count") != len(want) or len(rows) != len(want):
        return [f"{label}: {len(rows)} rows, expected {len(want)}"]
    for i, (g, e) in enumerate(zip(rows, want)):
        g = {k: _norm(v) for k, v in g.items() if k not in ignore}
        if g != {k: _norm(v) for k, v in e.items()}:
            return [f"{label}: row {i} {g} != {e}"]
    return []


def check_warnings(label: str, got: dict, malformed: list[str]) -> list[str]:
    warned = sorted(w.split(":", 1)[0].split(" ")[-1] for w in got.get("warnings", []))
    if warned != sorted(malformed):
        return [f"{label}: warnings name {warned}, expected {sorted(malformed)}"]
    return []


def _token_pattern(tok: str, dim: int) -> np.ndarray:
    parts = []
    for c in range((dim + 15) // 16):
        d = hashlib.md5(f"{tok}|{c}".encode()).digest()
        parts.append(np.frombuffer(d, dtype=np.uint8)[: min(16, dim - c * 16)])
    return np.concatenate(parts).astype(np.float64) / 255.0 - 0.5


def hash_embed(text: str, dim: int = 64) -> np.ndarray:
    """The documented default embedder: per token, byte ``i % 16`` of
    ``md5(token|i // 16)`` scaled to [-0.5, 0.5], summed, L2-normalised;
    stored as float32."""
    acc = np.zeros(dim)
    for tok in text.lower().split():
        acc = acc + _token_pattern(tok, dim)
    n = float(np.sqrt((acc * acc).sum()))
    return (acc / n if n > 0 else acc).astype(np.float32)


def cosine_scores(vault: Vault, text: str) -> dict[str, float]:
    """Cosine of every indexed note's body against ``text``: the notes
    that parse, each embedded as stored (float32), scored in float64."""
    q = hash_embed(text).astype(np.float64)
    out = {}
    for p in vault.parseable():
        v = hash_embed(vault.body[p]).astype(np.float64)
        out[p] = float(v @ q / (np.sqrt(v @ v) * np.sqrt(q @ q)))
    return out


def check_topk(label: str, got: dict, scores: dict[str, float], k: int = 10) -> list[str]:
    """Top-k by score (ties by path): each returned score must be the
    note's own and the score sequence must match the expected one."""
    rows = got.get("results") or []
    want = sorted(scores.values(), reverse=True)[:k]
    if len(rows) != len(want) or any(abs(r["score"] - w) > 1e-6 for r, w in zip(rows, want)):
        return [f"{label}: scores {[r['score'] for r in rows]} != {want}"]
    for r in rows:
        if abs(scores.get(r["path"], 9.0) - r["score"]) > 1e-6:
            return [f"{label}: {r['path']} scored {r['score']}"]
    return []


def expected_schema(vault: Vault, prefix: str, semantic: bool) -> dict:
    metas = [vault.meta[p] if isinstance(vault.meta[p], dict) else {} for p in vault.parseable(prefix)]
    schema: dict[str, Any] = {"path": {"type": "string", "nullable": False}}
    keys = sorted({k for m in metas for k in m})
    for k in keys:
        vals = [m[k] for m in metas if k in m]
        schema[k] = {
            "type": "array" if any(isinstance(v, list) for v in vals) else "string",
            "nullable": len(vals) < len(metas),
            "examples": sorted({serialize(v) for v in vals})[:5],
        }
    if semantic:
        schema["embedding"] = {"type": "FLOAT[64]", "nullable": False}
    return schema


# ---------------------------------------------------------------------------
# query templates (DuckDB dialect, as an MCP user writes them)
# ---------------------------------------------------------------------------
STATUSES = ["draft", "review", "published", "archived"]


def sql_filter(rng: random.Random, status: str | None = None, min_priority: int | None = None) -> str:
    status = status or rng.choice(STATUSES)
    min_priority = min_priority or rng.randint(1, 4)
    return (
        "SELECT path, title, status, priority FROM files "
        f"WHERE status = '{status}' AND CAST(priority AS INTEGER) >= {min_priority} "
        "ORDER BY CAST(priority AS INTEGER) DESC, path LIMIT 20"
    )


SQL_UNNEST = (
    "SELECT tag, COUNT(*) AS n FROM files, UNNEST(from_json(tags, '[\"VARCHAR\"]')) AS t(tag) "
    "GROUP BY tag ORDER BY n DESC, tag"
)
SQL_AGG = (
    "SELECT author, COUNT(*) AS n, MIN(date) AS first_date, MAX(date) AS last_date "
    "FROM files WHERE author IS NOT NULL GROUP BY author ORDER BY author"
)


def sql_wide(rng: random.Random) -> str:
    return f"SELECT * FROM files WHERE path LIKE 'd{rng.randrange(VAULT_DIRS):02d}/%' ORDER BY path"


def sql_semantic(text: str) -> str:
    return (
        f"SELECT path, array_cosine_similarity(embedding, embed('{text}')) AS score "
        "FROM files WHERE embedding IS NOT NULL ORDER BY score DESC, path LIMIT 10"
    )


# ---------------------------------------------------------------------------
# the MCP client
# ---------------------------------------------------------------------------
class Client:
    """A stdio MCP client that hands each frame to ``serve``."""

    def __init__(self, server) -> None:
        self.server = server
        self._id = 0

    def frame(self, method: str, params: dict) -> tuple[float, dict | None, int, str | None]:
        self._id += 1
        line = json.dumps({"jsonrpc": "2.0", "id": self._id, "method": method, "params": params}) + "\n"
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            self.server.serve(io.StringIO(line), out)
        except Exception as e:  # noqa: BLE001 — the stdio loop died on this frame
            return time.perf_counter() - t0, None, 0, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        text = out.getvalue()
        resp = json.loads(text)
        if "error" in resp:
            return dt, None, len(text), f"rpc error {resp['error']}"
        result = resp["result"]
        if result.get("isError"):
            return dt, None, len(text), result["content"][0]["text"]
        return dt, result.get("structuredContent", result), len(text), None

    def call(self, tool: str, args: dict):
        return self.frame("tools/call", {"name": tool, "arguments": args})


# ---------------------------------------------------------------------------
# shared loop machinery
# ---------------------------------------------------------------------------
@dataclass
class Step:
    cls: str
    tool: str
    args: dict
    # response (None when the call failed) -> problems; runs after timing
    check: Callable[[dict | None, str | None], list[str]]


class Runner:
    def __init__(self, env) -> None:
        self.env = env
        self.op_id = 0

    def timed_loop(self, cycle: Callable[[int], list], run_one, seconds: float) -> Phase:
        """Run whole cycles until ``seconds`` have passed (at least one).
        After each operation, untimed, the host-speed control job runs."""
        from procs import cpu_seconds, host_ticks

        ops: list[OpRecord] = []
        control: list[float] = []
        cpu = 0.0
        t0, (all0, steal0) = time.perf_counter(), host_ticks()
        n = 0
        while n == 0 or time.perf_counter() - t0 < seconds:
            for step in cycle(n):
                c0 = cpu_seconds()
                ops.append(run_one(step))
                cpu += cpu_seconds() - c0
                if self.env.tracer is not None:
                    self.env.tracer.op = -1
                control += [self.env.control() for _ in range(CONTROL_REPEAT)]
            n += 1
        all1, steal1 = host_ticks()
        return Phase(ops, cpu, time.perf_counter() - t0, (steal1 - steal0) / max(1, all1 - all0), control)

    def op(self, fn):
        """Run ``fn`` as one operation; when tracing, inside an ``op``
        span and with the Spark job-id window it covered."""
        tracer = self.env.tracer
        self.op_id += 1
        if tracer is None:
            return self.op_id, (0, 0), fn()
        tracer.op = self.op_id
        lo = self.env.stats.next_job_id()
        with tracer.span("op"):
            res = fn()
        return self.op_id, (lo, self.env.stats.next_job_id()), res


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _vault_step_runner(runner: Runner, client: Client, problems: list[str]):
    def run_one(step: Step) -> OpRecord:
        op_id, jobs, (dt, result, nbytes, err) = runner.op(lambda: client.call(step.tool, step.args))
        problems.extend(step.check(result, err))
        detail = {}
        if result is not None and "updated_count" in result:
            detail["updated"] = result["updated_count"]
        return OpRecord(step.cls, dt, err is None, op_id, nbytes, jobs, detail)

    return run_one


# ---------------------------------------------------------------------------
# vault_read
# ---------------------------------------------------------------------------
def vault_read(env) -> Outcome:
    from frontmatter_mcp_spark.engine import FrontmatterEngine
    from frontmatter_mcp_spark.server import MCPServer

    vault = Vault(env.work / "vault", env.seed, VAULT_DIRS, VAULT_FILES_PER_DIR)
    malformed = vault.malformed()
    rng = random.Random(env.seed * 7919 + 1)
    expect_cache: dict[str, tuple[list[str], list[dict]]] = {}
    score_cache: dict[str, dict[str, float]] = {}
    problems: list[str] = []

    def query_step(cls: str, sql: str) -> Step:
        def check(res, err):
            if err:
                return [f"{cls}: {err}"]
            if sql not in expect_cache:
                expect_cache[sql] = vault.expect("", sql)
            ordered = not sql.startswith("SELECT *")
            return check_rows(sql[:60], res, expect_cache[sql], ordered, ("embedding",)) + check_warnings(
                cls, res, malformed
            )

        return Step(cls, "query", {"glob": MAIN_GLOB, "sql": sql}, check)

    def semantic_step() -> Step:
        text = " ".join(rng.sample(WORDS, 3))

        def check(res, err):
            if err:
                return [f"semantic: {err}"]
            if text not in score_cache:
                score_cache[text] = cosine_scores(vault, text)
            return check_topk("semantic", res, score_cache[text])

        return Step("semantic", "query", {"glob": MAIN_GLOB, "sql": sql_semantic(text)}, check)

    def inspect_step() -> Step:
        def check(res, err):
            if err:
                return [f"inspect: {err}"]
            want = {"file_count": len(vault.parseable()), "schema": expected_schema(vault, "", True)}
            got = {k: res.get(k) for k in want}
            return ([] if got == want else ["inspect: response differs from the record"]) + check_warnings(
                "inspect", res, malformed
            )

        return Step("inspect", "query_inspect", {"glob": MAIN_GLOB}, check)

    def cycle(n: int) -> list[Step]:
        # one call of each shape; one in six is an embed() top-k
        return [
            query_step("read", sql_filter(rng)),
            semantic_step(),
            query_step("read", SQL_UNNEST),
            query_step("read", sql_wide(rng)),
            query_step("read", SQL_AGG),
            inspect_step(),
        ]

    runner = Runner(env)
    index_ready_s = []

    def build():
        engine = FrontmatterEngine(
            env.spark, vault.root, semantic=True, cache_dir=env.work / "index",
            distributed_mutation_threshold=MUTATION_THRESHOLD,
        )
        client = Client(MCPServer(engine))
        client.frame("initialize", {"protocolVersion": "2024-11-05"})
        t_idx = time.perf_counter()
        client.call("index_refresh", {})
        _, status, _, err = client.call("index_wait", {})
        index_ready_s.append(time.perf_counter() - t_idx)
        if err or status.get("state") != "ready" or status.get("indexed_count") != len(vault.parseable()):
            problems.append(f"index not ready: {status} {err}")
        run_one = _vault_step_runner(runner, client, problems)
        # warm-up: the index build has started the Python workers; one
        # embed() query pays the remaining JIT before timing
        run_one(semantic_step())
        return run_one

    run_one, setups = env.set_up(build, *SETUPS[env.workload])
    out = Outcome(setup_s=statistics.median(setups))
    out.info["setup_cold_s"] = (setups[0], "s")
    out.info["index_ready_s"] = (index_ready_s[0], "s")
    out.layer_extra["semantic.index_files_per_s"] = len(vault.parseable()) / index_ready_s[0]
    env.run_phases(out, lambda: runner.timed_loop(cycle, run_one, env.seconds))
    out.problems = problems
    return out


# ---------------------------------------------------------------------------
# vault_write
# ---------------------------------------------------------------------------
def vault_write(env) -> Outcome:
    from frontmatter_mcp_spark.engine import FrontmatterEngine
    from frontmatter_mcp_spark.server import MCPServer

    vault = Vault(env.work / "vault", env.seed, VAULT_DIRS, VAULT_FILES_PER_DIR)
    rng = random.Random(env.seed * 7919 + 2)
    problems: list[str] = []

    def query_step(cls: str, sql: str, prefix: str = "") -> Step:
        glob = f"{prefix}*.md" if prefix else MAIN_GLOB

        def check(res, err):
            if err:
                return [f"{cls}: {err}"]
            want = vault.expect(prefix, sql)
            return check_rows(f"{cls} {sql[:50]}", res, want, not sql.startswith("SELECT *")) + check_warnings(
                cls, res, vault.malformed(prefix)
            )

        return Step(cls, "query", {"glob": glob, "sql": sql}, check)

    def update_step() -> Step:
        path = rng.choice(vault.parseable())
        # priority 5: about 10 notes per status share it, so the
        # read-your-write query after it returns this note within its
        # LIMIT and a stale snapshot shows
        props = {"status": rng.choice(STATUSES), "priority": 5}

        def check(res, err):
            # the file is rewritten before the response is encoded, so the
            # record follows the write whether or not the frame survived
            vault.apply_update(path, props)
            if err:
                # the known crash: serve() encodes a YAML date without default=
                known = err.startswith("TypeError") and "not JSON serializable" in err
                return [] if known else [f"update: {err}"]
            fm = {k: serialize(v) for k, v in res.get("frontmatter", {}).items()}
            want = {k: serialize(v) for k, v in vault.meta[path].items()}
            return [] if res.get("path") == path and fm == want else [f"update {path}: {res}"]

        return Step("update", "update", {"path": path, "set": props}, check)

    def batch_dir_step(n: int) -> Step:
        prefix = f"d{rng.randrange(VAULT_DIRS):02d}/"
        add = n % 2 == 0
        tool = "batch_array_add" if add else "batch_array_remove"
        apply = vault.apply_array_add if add else vault.apply_array_remove

        def check(res, err):
            changed = sorted(p for p in vault.paths(prefix) if apply(p, "tags", "wip"))
            if err:
                return [f"{tool}: {err}"]
            bad = [] if sorted(res.get("updated_files", [])) == changed else [f"{tool}: updated files differ"]
            return bad + check_warnings(tool, res, vault.malformed(prefix))

        return Step("batch_dir", tool, {"glob": f"{prefix}*.md", "property": "tags", "value": "wip"}, check)

    def batch_vault_step(n: int) -> Step:
        props = {"reviewed": n}

        def check(res, err):
            done = sorted(p for p in vault.paths() if vault.apply_update(p, props))
            if err:
                return [f"batch_update: {err}"]
            bad = [] if sorted(res.get("updated_files", [])) == done else ["batch_update: updated files differ"]
            return bad + check_warnings("batch_update", res, vault.malformed())

        return Step("batch_vault", "batch_update", {"glob": MAIN_GLOB, "set": props}, check)

    def cycle(n: int) -> list[Step]:
        # every write is followed by a read that misses the snapshot (the
        # first reads the note just updated), and a glob switch misses on
        # the way there and back; the one-directory batch adds a tag on
        # even cycles, removes it on odd
        update = update_step()
        return [
            update,
            query_step("read_after_write", sql_filter(rng, *update.args["set"].values())),
            query_step("read", SQL_AGG),
            batch_dir_step(n),
            query_step("read_after_write", sql_filter(rng), f"d{rng.randrange(VAULT_DIRS):02d}/"),
            batch_vault_step(n),
            query_step("read_after_write", SQL_UNNEST),
            query_step("read", sql_wide(rng)),
        ]

    runner = Runner(env)

    def build():
        engine = FrontmatterEngine(env.spark, vault.root, distributed_mutation_threshold=MUTATION_THRESHOLD)
        client = Client(MCPServer(engine))
        client.frame("initialize", {"protocolVersion": "2024-11-05"})
        run_one = _vault_step_runner(runner, client, problems)
        # warm-up: the first parse pays the JIT and Python-worker start-up
        run_one(query_step("read_after_write", sql_filter(rng)))
        return run_one

    run_one, setups = env.set_up(build, *SETUPS[env.workload])
    out = Outcome(setup_s=statistics.median(setups))
    out.info["setup_cold_s"] = (setups[0], "s")
    env.run_phases(out, lambda: runner.timed_loop(cycle, run_one, env.seconds))
    out.problems = problems
    return out


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------
def pipeline(env) -> Outcome:
    import pipedata

    tables = {sf: env.work / f"tables-sf{sf}" for sf in sorted(set(PIPELINE_QUERIES.values()))}
    for sf, path in tables.items():
        pipedata.generate(path, env.seed, sf)
    data = {q: str(tables[sf]) for q, sf in PIPELINE_QUERIES.items()}
    problems: list[str] = []
    results: dict[str, list] = {}

    from frontmatter_mcp_spark.workload import QUERIES

    runner = Runner(env)
    held_peak = [0]

    def run_one(name: str) -> OpRecord:
        q = QUERIES[name]
        tracer = env.tracer
        times = {}

        def build_and_collect():
            tb = time.perf_counter()
            with _span(tracer, "pipeline.build"):
                df = q.spark(env.spark, data[name])
            tc = time.perf_counter()
            with _span(tracer, "pipeline.collect"):
                rows = df.collect()
            te = time.perf_counter()
            times["build_s"], times["collect_s"] = tc - tb, te - tc
            return df.columns, rows

        op_id, jobs, (cols, rows) = runner.op(build_and_collect)
        if tracer is not None:
            held_peak[0] = max(held_peak[0], env.stats.held_bytes())
        results.setdefault(name, []).append((cols, [tuple(r) for r in rows]))
        return OpRecord(name, times["build_s"] + times["collect_s"], True, op_id, 0, jobs, times)

    def cycle(n: int) -> list[str]:
        return list(PIPELINE_QUERIES)

    def build() -> None:
        # warm-up: the repository bench's policy, a codegen warm-up query
        # and a full-parallelism Arrow stage
        spark = env.spark
        QUERIES["q01_pricing_summary"].spark(spark, data["q01_pricing_summary"]).collect()
        par = spark.sparkContext.defaultParallelism
        spark.range(par * 4).repartition(par).mapInPandas(lambda it: it, "id long").count()

    _, setups = env.set_up(build, *SETUPS[env.workload])
    out = Outcome(setup_s=statistics.median(setups))
    out.info["setup_cold_s"] = (setups[0], "s")
    env.run_phases(out, lambda: runner.timed_loop(cycle, run_one, env.seconds))
    out.layer_extra["pipeline.held_bytes_peak"] = float(held_peak[0])

    # oracle check, outside the timed window
    import oracle_check

    for name, runs in results.items():
        con = oracle_check.duck_connection(data[name])
        try:
            tbl = con.sql(QUERIES[name].oracle).fetch_arrow_table()
        finally:
            con.close()
        cols = list(tbl.schema.names)
        want = oracle_check.canonicalize(cols, [tuple(d[c] for c in cols) for d in tbl.to_pylist()])
        for s_cols, s_rows in runs:
            if oracle_check.canonicalize(s_cols, s_rows) != want:
                problems.append(f"{name}: result differs from its DuckDB oracle")
                break
    out.problems = problems
    return out


WORKLOADS = {"vault_read": vault_read, "vault_write": vault_write, "pipeline": pipeline}
