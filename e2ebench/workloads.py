"""The workloads and the metrics they report.

Every workload runs in a fresh process on the read-only sf0.1 corpus
and drives the engine only through its public entry points:
`mcp.run_tool`, `plans.registry.REGISTRY[...].builder` and
`pipeline.EmailETLPipeline`. All load comes from one client thread.
Outputs are kept in memory while the clock runs and checked against
`expected.Expected` afterwards. See NOTES.md for why each workload
exists and what each metric means.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from email_etl_spark.io import DEFAULT_SF_DIR as CORPUS  # the committed sf0.1 corpus
from e2ebench.tracing import Tracer

if TYPE_CHECKING:
    from e2ebench.expected import Expected

# e2ebench.expected (DuckDB and the oracle harness) is imported inside
# start_session's preparation window, so setup_s does not count it

WARMUP_QUERY = "doc_count"
# one query per memo family whose sf0.1 oracle finishes in seconds:
# exact kNN, semantic dedup over a k-means assignment, Lloyd k-means
CURATE_SUITE = ("knn_join", "semdedup_prune", "kmeans_codebook")
SERVE_TOOLS = (
    "search_emails", "ask_email_question", "get_email_by_id",
    "summarize_thread", "categorize_emails", "extract_action_items",
    "get_system_status", "sync_emails", "analyze_email_patterns",
)
INGEST_STEPS = ("import", "reimport", "sync", "readback")
INGEST_VALID, INGEST_MALFORMED = 150, 8
# whole warm rounds/passes a run makes at least, however short --seconds is.
# At the registered --seconds 10 these counts, not the clock, end both loops,
# so every run does the same warm work whatever the machine's speed
MIN_WARM_ROUNDS = 5  # serve: one call per tool each
MIN_WARM_PASSES = 4  # curate: one call per suite query each
SEARCH_WORDS = (
    "quarterly budget review meeting spark cluster join fast invoice "
    "customer report deadline release travel schedule contract hiring "
    "roadmap design partner feedback"
).split()

E2E_UNITS = {
    "setup_s": "s",
    "first_s": "s",
    "warm_s": "s",
    "p50_ms": "ms",
    "ops_per_s": "1/s",
}
_SPARK = (
    "jobs", "stages", "tasks", "failed_tasks", "exec_run_s", "exec_cpu_s",
    "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)
_SELF_LAYERS = ("mcp", "plans", "spark", "pipeline", "sinks")
LAYER_UNITS = {
    "session.start_s": "s",
    "mcp.validate_ms": "ms",
    "mcp.dispatch_ms": "ms",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    **{f"plans.build_ms.{q}": "ms" for q in CURATE_SUITE},
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.exec_run_s": "s",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.slot_idle_ratio": "ratio",
    **{f"spark.stages.{q}": "count" for q in CURATE_SUITE},
    "io.input_rows": "rows",
    "io.rows_per_result": "ratio",
    **{f"cache.memo_s.{q}": "s" for q in CURATE_SUITE},
    "cache.cached_rdds": "count",
    "cache.cached_mb": "MB",
    "llm.udf_rows": "rows",
    "llm.udf_ms": "ms",
    "llm.embed_rows_per_msg": "ratio",
    **{f"pipeline.{s}_s": "s" for s in INGEST_STEPS},
    "pipeline.jobs_per_batch": "count",
    "sinks.markdown_s": "s",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "sinks.store_bytes_per_msg": "B",
    **{f"self_ms.{layer}": "ms" for layer in _SELF_LAYERS},
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
    "trace.bookkeeping_s": "s",
}


@dataclass
class Run:
    """What one workload run measured and checked."""

    spark: object
    tracer: Tracer
    expected: Expected
    corpus: str = CORPUS
    first: dict[str, float] = field(default_factory=dict)
    warm: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    loop_s: float = 0.0  # wall time of the warm loop
    attempted: int = 0
    failures: list[str] = field(default_factory=list)
    sinks: dict[str, float] = field(default_factory=dict)  # the ingest warehouse on disk
    stored: int = 0  # messages the ingest sequence stored

    def call(self, kind: str, warm: bool, phase: str, build, before=None):
        """One timed op: `build()` returns a DataFrame (span `phase`),
        which is then collected. Returns (columns, rows), or None if the
        op raised. `before` runs inside the op but off the clock."""
        tr = self.tracer
        try:
            with tr.op(kind, warm):
                if before is not None:
                    before()
                t0 = time.perf_counter()
                with tr.phase(phase):
                    df = build()
                with tr.phase("spark.collect"):
                    rows = [tuple(r) for r in df.collect()]
                dt = time.perf_counter() - t0
                tr.set_rows(len(rows))
        except Exception:
            self.attempted += 1
            self.fail(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        self.record(kind, warm, dt)
        return df.columns, rows

    def record(self, kind: str, warm: bool, seconds: float) -> None:
        self.attempted += 1
        if warm:
            self.warm[kind].append(seconds)
        else:
            self.first[kind] = seconds

    def fail(self, message: str) -> None:
        self.failures.append(message)
        print(f"e2ebench: FAILED {message}", file=sys.stderr)

    def end_to_end(self, setup_s: float) -> dict[str, float]:
        warm = [x for xs in self.warm.values() for x in xs]
        return {
            "setup_s": setup_s,
            "first_s": sum(self.first.values()),
            "warm_s": sum(statistics.median(xs) for xs in self.warm.values()),
            "p50_ms": statistics.median(warm) * 1e3,
            "ops_per_s": len(warm) / self.loop_s,
        }


# -- serve ----------------------------------------------------------------------
def _window(rng: random.Random) -> dict:
    from datetime import date, timedelta

    from email_etl_spark.plans.search import EPOCH_DATE

    start = date.fromisoformat(EPOCH_DATE) + timedelta(days=rng.randrange(0, 150))
    end = start + timedelta(days=rng.randrange(20, 120))
    return {"date_from": f"{start}T00:00:00", "date_to": f"{end}T23:59:59"}


def _phrase(rng: random.Random) -> str:
    return " ".join(rng.sample(SEARCH_WORDS, rng.randint(2, 5)))


def serve_request(tool: str, rng: random.Random, doc_ids: list, thread_ids: list, n: int) -> dict:
    """Seeded parameters for one MCP call in round `n`."""
    if tool == "search_emails":
        p = {"query": _phrase(rng), "limit": rng.randint(1, 20), "include_content": rng.random() < 0.3}
        return {**p, **(_window(rng) if rng.random() < 0.5 else {})}
    if tool == "ask_email_question":
        p = {"question": _phrase(rng) + "?", "context_limit": rng.randint(1, 8)}
        return {**p, **(_window(rng) if rng.random() < 0.5 else {})}
    if tool == "get_email_by_id":
        return {"email_id": rng.choice(doc_ids), "include_attachments": False}
    if tool == "summarize_thread":
        return {"thread_id": str(rng.choice(thread_ids))}
    if tool == "categorize_emails":  # the two modes alternate, so every run has both
        if n % 2 == 0:
            return {"limit": rng.randint(1, 50)}
        return {"email_ids": rng.sample(doc_ids, rng.randint(1, 10))}
    if tool == "extract_action_items":
        return {"days": rng.randint(1, 90), "limit": rng.randint(1, 100)}
    return {}


def serve_stream(seed: int, expected: Expected, rounds: int) -> list[list[tuple[str, dict]]]:
    """Rounds of calls, every tool once per round, in seeded order; no
    traffic data weighs one tool over another. analyze_email_patterns
    takes the next group_by value each round, from a seeded start.
    Round 0 is the cold pass, in a fixed order, with every group_by
    value, so every distinct plan has had its first call before the warm
    rounds. The seed alone fixes the stream."""
    from e2ebench.expected import PATTERN_QUERIES

    rng = random.Random(f"serve:{seed}")
    dcols, docs = expected.sql("SELECT doc_id FROM documents ORDER BY doc_id")
    tcols, threads = expected.query("thread_summary")
    doc_ids = [r[0] for r in docs]
    thread_ids = sorted(r[tcols.index("user_id")] for r in threads)
    groups = sorted(PATTERN_QUERIES)
    start = rng.randrange(len(groups))
    out = []
    for n in range(rounds):
        calls = [
            (t, serve_request(t, rng, doc_ids, thread_ids, n))
            for t in SERVE_TOOLS if t != "analyze_email_patterns"
        ]
        if n == 0:  # one order, so each tool's first call pays the same warm-up
            calls += [("analyze_email_patterns", {"group_by": g}) for g in groups]
        else:
            calls.append(("analyze_email_patterns", {"group_by": groups[(start + n) % len(groups)]}))
            rng.shuffle(calls)
        out.append(calls)
    return out


def serve(run: Run, seed: int, seconds: float) -> None:
    """Closed loop, one client: each MCP call waits for the previous
    reply. Round 0 warms every tool (first calls, memos cold); then whole
    rounds run until `seconds` have passed."""
    from email_etl_spark import mcp
    from e2ebench.expected import diff

    stream = serve_stream(seed, run.expected, rounds=16)
    run.expected.prepare_texts(
        p.get("query") or p["question"] for rnd in stream for t, p in rnd
        if t in ("search_emails", "ask_email_question")
    )
    tr = run.tracer
    results = []

    def call(tool: str, params: dict, warm: bool) -> None:
        def validate():  # run_tool validates too; timed apart only when traced
            if tr.enabled:
                with tr.phase("mcp.validate"):
                    mcp.validate_params(tool, params)

        # each group_by is its own plan with its own first call; warm calls
        # of the tool are one kind, whichever group_by the round takes
        kind = f"{tool}.{params['group_by']}" if "group_by" in params and not warm else tool
        out = run.call(
            kind, warm, "mcp.run_tool",
            lambda: mcp.run_tool(run.spark, run.corpus, tool, params), before=validate,
        )
        if out is not None:
            results.append((tool, params, *out))

    for tool, params in stream[0]:
        call(tool, params, warm=False)
    t_loop = time.perf_counter()
    for n, rnd in enumerate(stream[1:]):
        if n >= MIN_WARM_ROUNDS and time.perf_counter() - t_loop >= seconds:
            break
        for tool, params in rnd:
            call(tool, params, warm=True)
    run.loop_s = time.perf_counter() - t_loop

    for tool, params, cols, rows in results:
        try:
            e_cols, e_rows = run.expected.tool(tool, params)
        except ValueError as e:
            run.fail(f"{tool} {params}: {e}")
            continue
        problem = diff(f"{tool} {params}", cols, rows, e_cols, e_rows)
        if problem:
            run.fail(problem)


# -- curate ---------------------------------------------------------------------
def curate(run: Run, seed: int, seconds: float, warehouse_root: str) -> None:
    """Batch jobs: every suite query once with its per-corpus memos cold,
    then whole warm passes over the suite until `seconds` have passed,
    then one cold ingest sequence into a fresh warehouse. The suite is
    fixed; the seed drives the ingest payloads."""
    from email_etl_spark.plans.registry import REGISTRY
    from e2ebench.expected import diff

    for q in CURATE_SUITE:
        run.expected.query(q)
    results = []

    def call(q: str, warm: bool) -> None:
        out = run.call(q, warm, "plans.build", lambda: REGISTRY[q].builder(run.spark, run.corpus))
        if out is not None:
            results.append((f"{q} ({'warm' if warm else 'first'})", q, *out))

    for q in CURATE_SUITE:
        call(q, warm=False)
    t_loop = time.perf_counter()
    n = 0
    while n < MIN_WARM_PASSES or time.perf_counter() - t_loop < seconds:
        for q in CURATE_SUITE:
            call(q, warm=True)
        n += 1
    run.loop_s = time.perf_counter() - t_loop
    # last, so its garbage and Python workers do not sit under the warm passes
    ingest_sequence(run, seed, warehouse_root)

    for label, q, cols, rows in results:
        e_cols, e_rows = run.expected.query(q)
        problem = diff(label, cols, rows, e_cols, e_rows)
        if problem:
            run.fail(problem)


# -- ingest ---------------------------------------------------------------------
def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def ingest_sequence(run: Run, seed: int, warehouse_root: str) -> None:
    """The write path, once and cold: a fresh warehouse gets an import
    with malformed payloads, a half-overlapping re-import, an incremental
    sync with older and newer messages, and a read-back. The payloads
    come from the seed alone; the warehouse is removed afterwards."""
    from pyspark.sql import functions as F

    from email_etl_spark import pipeline as pipeline_mod
    from e2ebench.payloads import make_sequence

    seq = make_sequence(random.Random(f"ingest:{seed}"), f"s{seed}", INGEST_VALID, INGEST_MALFORMED)
    frames = {
        k: run.spark.createDataFrame([(p,) for p in b.payloads], ["payload"])
        for k, b in seq.batches.items()
    }
    expect = {k: b.expected for k, b in seq.batches.items()}
    expect["readback"] = {
        "total_emails": seq.total, "emails_with_embeddings": seq.total,
        "latest": seq.total, "suspicious": seq.suspicious,
    }
    wh = os.path.join(warehouse_root, f"wh-{os.getpid()}")
    shutil.rmtree(wh, ignore_errors=True)
    pipe = pipeline_mod.EmailETLPipeline(run.spark, wh)

    def readback() -> dict:
        st = pipe.status()
        agg = pipe.latest_emails().agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("is_suspicious"), 1)).alias("s"),
        ).first()
        return {**st, "latest": agg["n"], "suspicious": agg["s"]}

    calls = {
        "import": lambda: pipe.run_import(frames["import"]),
        "reimport": lambda: pipe.run_import(frames["reimport"]),
        "sync": lambda: pipe.run_incremental_sync(frames["sync"]),
        "readback": readback,
    }
    tr = run.tracer
    write_markdown = pipeline_mod.write_markdown_tree
    if tr.enabled:
        def traced_markdown(*args, **kwargs):
            with tr.span("sinks.markdown"):
                return write_markdown(*args, **kwargs)
        pipeline_mod.write_markdown_tree = traced_markdown
    try:
        for step in INGEST_STEPS:
            try:
                with tr.op(f"ingest.{step}", False):
                    t0 = time.perf_counter()
                    with tr.phase(f"pipeline.{step}"):
                        got = calls[step]()
                    dt = time.perf_counter() - t0
                    tr.set_rows(got.get("processed", got.get("latest", 0)))
            except Exception:
                run.attempted += 1
                run.fail(f"ingest {step}: {traceback.format_exc(limit=3)}")
                return
            run.record(f"ingest.{step}", False, dt)
            if got != expect[step]:
                run.fail(f"ingest {step}: got {got}, expected {expect[step]}")
        files, size = _tree_size(wh)
        run.stored = seq.total
        run.sinks = {
            "sinks.files_written": files,
            "sinks.bytes_written": size,
            "sinks.store_bytes_per_msg": size / seq.total,
        }
    finally:
        pipeline_mod.write_markdown_tree = write_markdown
        shutil.rmtree(wh, ignore_errors=True)


# -- per-layer metrics ------------------------------------------------------------
def layer_metrics(run: Run, e2e: dict[str, float], session_start_s: float) -> dict[str, float]:
    """Per-layer metrics of a traced run. Per-op values are means over
    the warm ops; per-query values are the query's cold first call."""
    tr = run.tracer
    out = {k: 0.0 for k in LAYER_UNITS}
    stages, sql = tr.read_back()
    rdds, cached_mb = tr.cached_blocks()
    spans = tr.span_time()
    self_t = tr.self_time()
    warm_ops = [op for op, meta in tr.ops.items() if meta["warm"]]
    # self time covers every op, cold ones too, so the write path shows
    all_ops = set(tr.ops)
    n = max(len(warm_ops), 1)

    def total(ops, key, phases=None):
        return sum(
            c.get(key, 0.0) for g, c in stages.items()
            if g.split(":", 1)[0] in ops and (phases is None or g.split(":", 1)[1] in phases)
        )

    def sql_total(ops, key):
        return sum(c.get(key, 0.0) for g, c in sql.items() if g.split(":", 1)[0] in ops)

    def span_mean(name):
        return sum(spans.get((op, name), 0.0) for op in warm_ops) / n

    W = set(warm_ops)
    for k in _SPARK:
        out[f"spark.{k}"] = total(W, k) / n
    wall = sum(spans.get((op, "op"), 0.0) for op in warm_ops)
    if wall:
        slots = run.spark.sparkContext.defaultParallelism
        out["spark.slot_idle_ratio"] = 1 - total(W, "exec_run_s") / (wall * slots)
    build_phases = {"plans.build", "mcp.run_tool"}
    out["plans.build_ms"] = (span_mean("plans.build") + span_mean("mcp.run_tool")) * 1e3
    out["plans.build_jobs"] = total(W, "jobs", build_phases) / n
    out["mcp.validate_ms"] = span_mean("mcp.validate") * 1e3
    out["mcp.dispatch_ms"] = span_mean("mcp.run_tool") * 1e3
    for op, meta in tr.ops.items():
        q = meta["kind"]
        if not meta["warm"] and q in CURATE_SUITE and run.warm.get(q):
            out[f"plans.build_ms.{q}"] = spans.get((op, "plans.build"), 0.0) * 1e3
            out[f"spark.stages.{q}"] = total({op}, "stages")
            out[f"cache.memo_s.{q}"] = run.first[q] - statistics.median(run.warm[q])
    rows_out = sum(tr.ops[op]["rows"] for op in warm_ops)
    out["io.input_rows"] = sql_total(W, "input_rows") / n
    if rows_out:
        out["io.rows_per_result"] = sql_total(W, "input_rows") / rows_out
    out["cache.cached_rdds"] = rdds
    out["cache.cached_mb"] = cached_mb
    out["llm.udf_rows"] = sql_total(W, "udf_rows") / n
    out["llm.udf_ms"] = sql_total(W, "udf_s") / n * 1e3
    if run.stored:  # the cold ingest sequence of a curate run
        ingest_ops = {op for op, meta in tr.ops.items() if meta["kind"].startswith("ingest.")}
        out["llm.embed_rows_per_msg"] = sql_total(ingest_ops, "udf_rows") / run.stored
        out["pipeline.jobs_per_batch"] = total(ingest_ops, "jobs")
        out["sinks.markdown_s"] = sum(spans.get((op, "sinks.markdown"), 0.0) for op in ingest_ops)
        for step in INGEST_STEPS:
            out[f"pipeline.{step}_s"] = run.first.get(f"ingest.{step}", 0.0)
    out.update(run.sinks)
    for layer in _SELF_LAYERS:
        out[f"self_ms.{layer}"] = sum(
            t for (op, name), t in self_t.items() if op in all_ops and name.split(".")[0] == layer
        ) / max(len(all_ops), 1) * 1e3
    out["session.start_s"] = session_start_s
    for k, v in e2e.items():
        out[f"traced.{k}"] = v
    out["trace.bookkeeping_s"] = tr.bookkeeping_s
    return out


# -- one run --------------------------------------------------------------------
def start_session(process_t0: float, state: str):
    """Engine import, expected answers (timed apart), session and one
    warm-up query. Returns (spark, expected, setup_s, session_start_s)."""
    from email_etl_spark.plans.registry import REGISTRY
    from email_etl_spark.session import get_spark

    t_prep = time.perf_counter()
    from e2ebench.expected import Expected

    if not os.path.isdir(CORPUS):
        raise FileNotFoundError(f"corpus {CORPUS} is missing")
    expected = Expected(CORPUS, os.path.join(state, "oracle"))
    prep_s = time.perf_counter() - t_prep
    t_session = time.perf_counter()
    spark = get_spark("e2ebench")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t_session
    REGISTRY[WARMUP_QUERY].builder(spark, CORPUS).collect()
    setup_s = time.perf_counter() - process_t0 - prep_s
    return spark, expected, setup_s, session_start_s


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_workload(name: str, seed: int, seconds: float, trace: bool, state: str, process_t0: float) -> dict:
    spark, expected, setup_s, session_start_s = start_session(process_t0, state)
    try:
        run = Run(spark, Tracer(spark, trace), expected)
        if name == "serve":
            serve(run, seed, seconds)
        else:
            curate(run, seed, seconds, os.path.join(state, "warehouse"))
        e2e = run.end_to_end(setup_s) if run.warm else {}
        for kind in sorted(set(run.first) | set(run.warm)):
            warm = run.warm.get(kind) or [float("nan")]
            print(
                f"e2ebench: {kind}: first {run.first.get(kind, float('nan')):.3f} s,"
                f" warm median {statistics.median(warm):.3f} s over {len(run.warm.get(kind, []))}",
                file=sys.stderr,
            )
        if trace:
            metrics = layer_metrics(run, e2e, session_start_s)
            units = LAYER_UNITS
            run.tracer.write(os.path.join(state, "traces", f"{name}-{seed}.json"))
        else:
            metrics, units = e2e, E2E_UNITS
    finally:
        stop_session(spark)
    failed = len(run.failures)
    return {
        "correct": failed == 0 and bool(run.warm),
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items() if k in metrics},
    }
