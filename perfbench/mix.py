"""``operator_mix``: the compute-heavy batch path.

A fixed list of declared queries (``plans.QUERIES``), shuffled by the
seed, over seeded fixture tables. One cold pass in the fresh session,
then warm passes. Multi-stage shuffles, codegen, iterative graph loops
and session-lifetime memos do the work here; neither JSON parsing nor
concurrency plays any part.

Each query is consumed the way a client consumes it: the result is
fetched to the driver (``toPandas``, Arrow batches), so every output
column executes. Outside the timed window each fetch is reduced to its
row count and a digest of its canonical rows (``tests/oracle_util``
canonical form); every pass must yield the same digest, and the cold
pass's rows are what the DuckDB twins are compared against.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import random
import time
from pathlib import Path
from statistics import median

import gen
from measure import Engine, Outcome, Stopwatch, Tracer, engine_writes, force_plan, written_since

# One query per mechanism: a pivot shuffle with joins (the reference
# counts pipeline), BM25 scoring, and the memoized co-purchase graph
# (iterative CC labels, item-CF recommendations). Each further query adds
# 1-5 s cold and ~1 s warm per run on four cores, so the other declared
# queries are left out to keep a run inside the benchmark's time budget;
# q_stream_parity (the streaming census) alone costs as much warm time as
# these four together.
MIX = "q_pipeline_legislator_counts q_bm25_rank q_cc_labels q_item_cf_recs".split()
WARM_TABLES = ("orders", "customer", "lineitem", "documents")
# at least this many warm passes, so the per-query median leaves out the
# first one, during which the JIT compiler still runs in the background
MIN_WARM_PASSES = 3


def prepare(run_dir: Path, seed: int, scale: float) -> gen.Tables:
    return gen.fixture_tables(run_dir / "sf", seed, scale)


def setup(spark, tables: gen.Tables, tracer: Tracer) -> None:
    """Open every table the mix reads (file listing, parquet footers,
    schema resolution)."""
    from legislative_bills_database_spark import io

    with tracer.span("io.warm"):
        for df in io.load_tables(spark, tables.sf_dir, *WARM_TABLES):
            df.schema


def fetch(spark, sf_dir: str, name: str, tr: Tracer):
    from legislative_bills_database_spark.plans import QUERIES

    with tr.span("plans.build"):
        df = QUERIES[name](spark, sf_dir)
    if tr.enabled:
        with tr.span("engine.plan"):
            force_plan(df)
    with tr.span("engine.exec"):
        return df.toPandas()


@functools.cache
def _oracle_util():
    path = Path(__file__).resolve().parent.parent / "tests" / "oracle_util.py"
    spec = importlib.util.spec_from_file_location("oracle_util", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def canonical(frame) -> tuple[list[str], list[str]]:
    rows = [tuple(r) for r in frame.itertuples(index=False, name=None)]
    return _oracle_util().canonical(rows, list(frame.columns))


def digest(frame) -> tuple[int, str]:
    cols, rows = canonical(frame)
    return len(rows), hashlib.sha256("\n".join(cols + rows).encode()).hexdigest()


def run(spark, tables: gen.Tables, state, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    order = list(MIX)
    random.Random(seed).shuffle(order)
    sums: dict[str, set] = {q: set() for q in MIX}
    warm: dict[str, list[float]] = {q: [] for q in MIX}
    warm_cpu: dict[str, list[float]] = {q: [] for q in MIX}
    errors: dict[str, int] = {q: 0 for q in MIX}
    cold_frames: dict = {}
    untraced = Tracer(False)

    def one_pass(tag: str, tr: Tracer, engine: Engine | None, into: dict | None,
                 into_cpu: dict | None = None) -> tuple[float, float]:
        """(wall seconds, CPU seconds) the pass's queries took."""
        wall = cpu = 0.0
        for q in order:
            op = f"{tag}.{q}"
            if engine is not None:
                engine.group(op)
            watch = Stopwatch()
            try:
                with tr.operation(op), tr.span(f"mix.{q}"):
                    frame = fetch(spark, tables.sf_dir, q, tr)
            except Exception as e:  # counted as failed; the run goes on
                print(f"query {q} failed in {tag}: {e!r}")
                errors[q] += 1
                continue
            dt, dc = watch.read()
            wall += dt
            cpu += dc
            if into is not None:
                into[q].append(dt)
            if into_cpu is not None:
                into_cpu[q].append(dc)
            if tag == "cold":
                cold_frames[q] = frame
            sums[q].add(digest(frame))
        return wall, cpu

    cold, cold_cpu = one_pass("cold", untraced, None, None)
    before = engine_writes(spark)
    busy: list[float] = []
    while len(busy) < MIN_WARM_PASSES or sum(busy) + median(busy) <= seconds:
        busy.append(one_pass(f"warm{len(busy)}", untraced, None, warm, warm_cpu)[0])
    passes = len(busy)
    written = written_since(spark, before)
    latencies = [t for q in MIX for t in warm[q]]

    def per_second(times: dict[str, list[float]]) -> float:
        return len(MIX) / sum(median(times[q]) for q in MIX if times[q])

    outcome = Outcome(
        cold_pass_s=cold,
        cold_pass_cpu_s=cold_cpu,
        ops_per_s=per_second(warm),
        ops_per_cpu_s=per_second(warm_cpu),
        latencies_s=latencies,
        write_amp=written / len(latencies) / tables.input_bytes,
        attempted=len(MIX) * (passes + 1),
        failed=0,
        notes={"warm_passes": passes, "order": order, "input_bytes": tables.input_bytes},
    )
    if tracer.enabled:
        traced: dict[str, list[float]] = {q: [] for q in MIX}
        engine = Engine(spark)
        one_pass("traced", tracer, engine, traced)
        outcome.attempted += len(MIX)
        rows_out = sum(len(f) for f in cold_frames.values())
        outcome.layers = _layers(tracer, engine, order, warm, traced, rows_out)

    t0 = time.perf_counter()
    wrong = verify(tables, sums, cold_frames)
    outcome.notes["verify_s"] = time.perf_counter() - t0
    runs = outcome.attempted // len(MIX)
    outcome.failed = sum(runs if q in wrong else errors[q] for q in MIX)
    outcome.notes["wrong"] = sorted(wrong)
    return outcome


def verify(tables: gen.Tables, sums: dict[str, set], cold: dict) -> set[str]:
    """Queries whose output is wrong: every pass must give the same rows,
    and the cold pass's rows must match the query's DuckDB twin in
    ``plans.ORACLE`` (every query of the mix has one), compared in the
    canonical form of tests/oracle_util.compare."""
    from legislative_bills_database_spark.plans import ORACLE

    wrong = {q for q, s in sums.items() if len(s) != 1 or q not in cold}
    con = _oracle_util().duckdb_con(tables.sf_dir)
    try:
        for q in MIX:
            if q not in wrong and canonical(cold[q]) != canonical(con.execute(ORACLE[q]).df()):
                print(f"{q}: differs from its DuckDB twin")
                wrong.add(q)
    finally:
        con.close()
    return wrong


def _layers(tracer: Tracer, engine: Engine, order, warm, traced, rows_out: int) -> dict[str, float]:
    stats = [engine.stats(f"traced.{q}") for q in order]
    n_ops = len(order)
    layers = {f"mix.{q}_s": median(warm[q]) for q in MIX}
    layers.update({
        "plans.build_s": sum(tracer.totals("plans.build")) / n_ops,
        "engine.plan_s": sum(tracer.totals("engine.plan")) / n_ops,
        "engine.exec_s": sum(tracer.totals("engine.exec")) / n_ops,
        "engine.jobs": sum(s["jobs"] for s in stats) / n_ops,
        "engine.stages": sum(s["stages"] for s in stats) / n_ops,
        "engine.tasks": sum(s["tasks"] for s in stats) / n_ops,
        "engine.failed_tasks": sum(s["failed_tasks"] for s in stats),
        "engine.shuffle_bytes": sum(s["shuffle_bytes"] for s in stats) / n_ops,
        "engine.scan_rows_per_out_row": sum(s["input_records"] for s in stats) / max(1, rows_out),
        "trace.overhead_s": sum(traced[q][0] - median(warm[q]) for q in order) / n_ops,
        "io.warm_s": median(tracer.totals("io.warm")),
    })
    layers.update({f"self.{k}_s": v for k, v in tracer.self_times().items()})
    return layers
