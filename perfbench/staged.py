"""``staged_requests``: the read-heavy interactive path.

A closed loop: two client threads share one session over the staged
bills/people parquet and each sends its next request only when the
previous one has returned. Requests cycle through three classes in a
fixed pattern (20% search, 60% sponsor, 20% counts), with seeded
parameters:

* ``search`` — ``search_all_bills`` with 1-3 terms drawn Zipf-skewed
  from the topic vocabulary, so hot terms repeat and shared work shows;
* ``sponsor`` — bills credited to one legislator via ``resolve_sponsors``;
* ``counts`` — the ``legislator_bill_counts`` pivot over two sessions.

Per-request fixed cost (Python plan building, Catalyst, job scheduling)
dominates such small queries; this workload never parses JSON after
set-up.
"""

from __future__ import annotations

import random
import threading
import time
from importlib import import_module
from collections import Counter
from pathlib import Path
from statistics import median

import expected as X
import gen
from measure import Engine, Outcome, Stopwatch, Tracer, engine_writes, force_plan, written_since

SIZE = {"n_sessions": 3, "bills_per_session": 150, "legislators": 100}
CLIENTS = 2
PATTERN = ("search", "sponsor", "sponsor", "counts", "sponsor",
           "search", "sponsor", "sponsor", "counts", "sponsor")


def prepare(run_dir: Path, seed: int, scale: float) -> gen.Tree:
    return gen.legiscan_tree(
        run_dir / "input", seed, SIZE["n_sessions"],
        max(30, int(SIZE["bills_per_session"] * scale)),
        max(20, int(SIZE["legislators"] * scale)),
    )


def setup(spark, tree: gen.Tree, tracer: Tracer):
    """Stage the tree (a cache hit after the first set-up) and warm both
    tables."""
    from legislative_bills_database_spark.sources import documents

    with tracer.span("cache.stage"):
        bills, people = documents.stage_document_model(
            spark, tree.data_root, str(Path(tree.data_root).parent / "staging")
        )
    with tracer.span("io.warm"):
        bills.count()
        people.count()
    return bills, people


def requests(tree: gen.Tree, seed: int, client: int):
    """Endless seeded request stream of one client."""
    rng = random.Random(seed * 1009 + client)
    weights = gen.zipf_weights(len(gen.TOPICS))
    people = sorted({p["people_id"] for p in tree.people})
    i = client  # clients start at different points of the pattern
    while True:
        kind = PATTERN[i % len(PATTERN)]
        i += 1
        if kind == "search":
            yield kind, tuple(sorted(set(rng.choices(gen.TOPICS, weights, k=rng.randint(1, 3)))))
        elif kind == "sponsor":
            yield kind, rng.choice(people)
        else:
            yield kind, tuple(sorted(rng.sample(tree.sessions, 2)))


def execute(spark, bills, people, kind: str, arg, tracer: Tracer) -> Counter:
    """Run one request and return its rows as a multiset of tuples."""
    from pyspark.sql import functions as F

    lbc = import_module("legislative_bills_database_spark.pipelines.legislator_bill_counts")
    sab = import_module("legislative_bills_database_spark.pipelines.search_all_bills")

    with tracer.span("pipelines.build"):
        if kind == "search":
            df = sab.search_all_bills(bills, list(arg))
        elif kind == "sponsor":
            df = (
                lbc.resolve_sponsors(bills, people.select("people_id"))
                .filter(F.col("people_id") == arg)
                .select("session", "doc_key")
            )
        else:
            sessions = list(arg)
            df, _ = lbc.legislator_bill_counts(
                bills.filter(F.col("session").isin(sessions)),
                people.filter(F.col("session").isin(sessions)),
                sessions, special_people_id=None,
            )
    if tracer.enabled:
        with tracer.span("engine.plan"):
            force_plan(df)
    with tracer.span("engine.exec"):
        rows = df.collect()
    return Counter(tuple(r) for r in rows)


def expect(tree: gen.Tree, kind: str, arg) -> Counter:
    if kind == "search":
        return X.search_rows(tree, list(arg))
    if kind == "sponsor":
        return X.sponsor_rows(tree, arg)
    return X.legislator_counts(tree, list(arg))[1]


def run(spark, tree: gen.Tree, state, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    bills, people = state
    results: list[tuple[str, str, object, float, Counter | None]] = []
    lock = threading.Lock()

    def one(op: str, kind: str, arg, tr: Tracer, engine: Engine | None) -> None:
        if engine is not None:
            engine.group(op)
        t0 = time.perf_counter()
        try:
            with tr.operation(op), tr.span(f"req.{kind}"):
                rows = execute(spark, bills, people, kind, arg, tr)
        except Exception as e:  # a failed request counts as failed, never aborts the run
            print(f"request {op} {kind}{arg!r} failed: {e!r}")
            rows = None
        dt = time.perf_counter() - t0
        with lock:
            results.append((op, kind, arg, dt, rows))

    def window(duration: float, tr: Tracer, engine: Engine | None, tag: str):
        start_n = len(results)
        before = engine_writes(spark)
        deadline = time.perf_counter() + duration

        def client(c: int) -> None:
            for n, (kind, arg) in enumerate(requests(tree, seed, c)):
                if time.perf_counter() >= deadline:
                    return
                one(f"{tag}{c}-{n}", kind, arg, tr, engine)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        watch = Stopwatch()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return (*watch.read(), results[start_n:], written_since(spark, before))

    untraced = Tracer(False)
    cold: dict[str, object] = {}
    for kind, arg in requests(tree, seed + 7, 0):
        cold.setdefault(kind, arg)
        if len(cold) == len(set(PATTERN)):
            break
    watch = Stopwatch()
    for kind, arg in cold.items():
        one(f"cold-{kind}", kind, arg, untraced, None)
    cold_s, cold_cpu = watch.read()

    wall, cpu, warm, written = window(seconds / 2 if tracer.enabled else seconds, untraced, None, "w")
    staged_bytes = sum(
        f.stat().st_size for f in (Path(tree.data_root).parent / "staging").rglob("*") if f.is_file()
    )
    outcome = Outcome(
        cold_pass_s=cold_s,
        cold_pass_cpu_s=cold_cpu,
        ops_per_s=len(warm) / wall,
        ops_per_cpu_s=len(warm) / cpu,
        latencies_s=[r[3] for r in warm],
        write_amp=written / len(warm) / staged_bytes,
        attempted=0,
        failed=0,
        notes={"clients": CLIENTS, "requests": len(warm),
               "by_class": dict(Counter(r[1] for r in warm)), "staged_bytes": staged_bytes},
    )
    if tracer.enabled:
        engine = Engine(spark)
        _, _, traced, _ = window(seconds / 2, tracer, engine, "t")
        outcome.layers = _layers(tracer, engine, traced, warm)

    expected: dict[tuple, Counter] = {}
    for _, kind, arg, _, rows in results:
        if (kind, arg) not in expected:
            expected[kind, arg] = expect(tree, kind, arg)
        outcome.attempted += 1
        outcome.failed += rows != expected[kind, arg]
    return outcome


def _layers(tracer: Tracer, engine: Engine, traced: list, untraced: list) -> dict[str, float]:
    stats = [engine.stats(r[0]) for r in traced]
    n_ops = max(1, len(stats))
    rows_out = sum(sum(r[4].values()) for r in traced if r[4] is not None)
    layers = {}
    for kind in set(PATTERN):
        # untraced latencies; a window too short to reach a class falls back to traced ones
        lat = [r[3] for r in untraced if r[1] == kind] or [r[3] for r in traced if r[1] == kind]
        if lat:
            layers[f"req.{kind}_ms"] = 1000 * median(lat)
    layers.update({
        "engine.plan_s": sum(tracer.totals("engine.plan")) / n_ops,
        "engine.exec_s": sum(tracer.totals("engine.exec")) / n_ops,
        "engine.jobs": sum(s["jobs"] for s in stats) / n_ops,
        "engine.stages": sum(s["stages"] for s in stats) / n_ops,
        "engine.tasks": sum(s["tasks"] for s in stats) / n_ops,
        "engine.failed_tasks": sum(s["failed_tasks"] for s in stats),
        "engine.shuffle_bytes": sum(s["shuffle_bytes"] for s in stats) / n_ops,
        "engine.scan_rows_per_out_row": sum(s["input_records"] for s in stats) / max(1, rows_out),
        "trace.overhead_s": median([r[3] for r in traced]) - median([r[3] for r in untraced]),
        "cache.stage_hit_s": median(tracer.totals("cache.stage")[1:]),
    })
    layers.update({f"self.{k}_s": v for k, v in tracer.self_times().items()})
    return layers
