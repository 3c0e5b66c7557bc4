"""``ingest_pipelines``: the write-heavy cold path.

One pass stages the JSON tree to parquet (``stage_document_model(force=
True)``), runs the legislator-counts and all-bills-search pipelines over
the tree, and runs the budget-bill search: SBUD PDF lines, chaptered HTML
fetched through the in-process ``getBillText`` transport, one partitioned
CSV report. Parsing thousands of small JSON files, the extraction UDFs
and the sinks dominate the reference's real job; no other workload
touches them.

An operation is one pass; its documents are every bill/people JSON file,
every PDF and every HTML text fetched. The measured pass is the first in
a fresh session, the batch job as users run it.
"""

from __future__ import annotations

import shutil
from importlib import import_module
from pathlib import Path

import expected as X
import gen
from measure import Engine, Outcome, Stopwatch, Tracer, engine_writes, force_plan, written_since

SIZE = {"n_sessions": 2, "bills_per_session": 30, "legislators": 20}


def prepare(run_dir: Path, seed: int, scale: float) -> gen.Tree:
    return gen.legiscan_tree(
        run_dir / "input", seed, SIZE["n_sessions"],
        max(8, int(SIZE["bills_per_session"] * scale)),
        max(6, int(SIZE["legislators"] * scale)),
    )


def setup(spark, tree: gen.Tree, tracer: Tracer) -> None:
    """Nothing beyond the session: every pass stages from scratch."""
    return None


def _one_pass(spark, tree: gen.Tree, work: Path, tag: str, calls: list[int],
              engine: Engine | None) -> dict[str, str]:
    from pyspark.sql import functions as F

    from legislative_bills_database_spark.pipelines import budget_bill_search as bbs
    lbc = import_module("legislative_bills_database_spark.pipelines.legislator_bill_counts")
    sab = import_module("legislative_bills_database_spark.pipelines.search_all_bills")
    from legislative_bills_database_spark.sources import documents, extract, rest

    def group(name: str) -> None:
        if engine is not None:
            engine.group(f"{tag}.{name}")

    out = str(work / f"out-{tag}")
    group("stage")
    bills, _ = documents.stage_document_model(spark, tree.data_root, str(work / "staging"), force=True)
    group("counts")
    counts, special = lbc.run_legislator_bill_counts(spark, tree.data_root, out, run_id=tag)
    group("search")
    search = sab.run_search_all_bills(
        spark, tree.data_root, out, gen.INGEST_TERMS, tree.start_years, run_id=tag
    )
    group("budget")
    lines = extract.read_pdf_lines(spark, f"{tree.pdf_dir}/*.pdf")
    pdf_lines = lines.select(
        F.regexp_extract("path", r"([0-9]{4})_SBUD\.pdf$", 1).cast("int").alias("year"), "line"
    )
    client = rest.RestClient(
        "https://api.legiscan.invalid/", "bench", transport=tree.transport(calls),
        rate_limit_per_sec=1e12,  # the fake endpoint needs no politeness gap
    )
    budget = bbs.run_budget_bill_search(
        spark, client, bills, pdf_lines, str(work / f"dl-{tag}"), out,
        gen.BUDGET_TERMS, run_id=tag,
    )
    return {"counts": counts, "special": special, "search": search, "budget": budget,
            "staging": str(work / "staging"), "downloads": str(work / f"dl-{tag}")}


def _verify(tree: gen.Tree, paths: dict[str, str], calls: list[int]) -> int:
    """Number of the pass's four pipeline calls whose outputs are wrong."""
    import pyarrow.parquet as pq

    wrong = 0
    staged_ok = (
        pq.read_table(f"{paths['staging']}/bills").num_rows == len(tree.bills)
        and pq.read_table(f"{paths['staging']}/people").num_rows == len(tree.people)
    )
    wrong += not staged_ok

    header, rows, special = X.legislator_counts(tree, tree.sessions)
    n = len(header)
    got_header, got_rows = X.read_csv_rows(paths["counts"], numeric=range(3, n))
    _, got_special = X.read_csv_rows(paths["special"])
    special = {tuple(str(v) for v in r): c for r, c in special.items()}
    wrong += not (got_header == header and got_rows == rows and got_special == special)

    _, got_search = X.read_csv_rows(paths["search"], numeric=(2,))
    wrong += got_search != X.search_rows(tree, gen.INGEST_TERMS)

    files = X.chaptered_budget_files(tree)
    want = X.budget_rows(tree, gen.BUDGET_TERMS)
    got = {}
    for d in Path(paths["budget"]).glob("term=*"):
        got[d.name[len("term="):]] = X.read_csv_rows(str(d))[1]
    fetched = sorted(p.name for p in Path(paths["downloads"]).glob("*.html"))
    wrong += not (got == want and fetched == sorted(files) and sorted(calls) == sorted(files.values()))
    return wrong


def _docs(tree: gen.Tree) -> int:
    return tree.json_files + tree.pdf_files + len(X.chaptered_budget_files(tree))


def run(spark, tree: gen.Tree, state, seed: int, seconds: float, tracer: Tracer) -> Outcome:
    """One pass in the fresh session: the batch job as users run it. On
    four cores a pass takes longer than the measured window, so
    ``seconds`` adds no pass. A traced run goes on with one untraced and
    one traced warm pass, for the per-layer metrics and the tracing
    overhead."""
    work = Path(tree.data_root).parent
    attempted = failed = 0

    def timed_pass(tag: str, engine: Engine | None = None) -> tuple[float, float, float]:
        """(wall seconds, CPU seconds, bytes written per input byte) of one
        checked pass."""
        nonlocal attempted, failed
        calls: list[int] = []
        before = engine_writes(spark)
        watch = Stopwatch()
        with tracer.operation(tag), tracer.span("pass"):
            paths = _one_pass(spark, tree, work, tag, calls, engine)
        dt, cpu = watch.read()
        downloads = sum(f.stat().st_size for f in Path(paths["downloads"]).glob("*.html"))
        amp = (written_since(spark, before) + downloads) / tree.input_bytes
        attempted += 4
        failed += _verify(tree, paths, calls)
        shutil.rmtree(paths["downloads"], ignore_errors=True)
        shutil.rmtree(work / f"out-{tag}", ignore_errors=True)
        return dt, cpu, amp

    cold, cold_cpu, write_amp = timed_pass("cold")
    layers: dict[str, float] = {}
    if tracer.enabled:
        warm, _, _ = timed_pass("warm")
        layers = _traced_pass(spark, tree, work, tracer, timed_pass, warm)
    docs = _docs(tree)
    return Outcome(
        cold_pass_s=cold,
        cold_pass_cpu_s=cold_cpu,
        ops_per_s=docs / cold,
        ops_per_cpu_s=docs / cold_cpu,
        latencies_s=[cold],
        write_amp=write_amp,
        attempted=attempted,
        failed=failed,
        layers=layers,
        notes={"docs_per_pass": docs, "json_files": tree.json_files,
               "pdf_files": tree.pdf_files, "input_bytes": tree.input_bytes},
    )


def _traced_pass(spark, tree, work, tracer: Tracer, timed_pass, untraced: float) -> dict[str, float]:
    """One more pass with spans around every layer's public functions;
    ``untraced`` is the time of the warm pass before it."""
    from legislative_bills_database_spark.pipelines import budget_bill_search as bbs
    lbc = import_module("legislative_bills_database_spark.pipelines.legislator_bill_counts")
    sab = import_module("legislative_bills_database_spark.pipelines.search_all_bills")
    from legislative_bills_database_spark.sources import cache, documents, extract, rest, sinks

    per_session = {}
    for b in tree.bills:
        per_session[b["session"]] = per_session.get(b["session"], 0) + 1
    for p in tree.people:
        per_session[p["session"] + "/people"] = per_session.get(p["session"] + "/people", 0) + 1
    files = {"n": 0}
    written = {"files": 0, "bytes": 0, "rows": len(tree.bills) + len(tree.people)}

    def count_reads(kind):
        def after(args, kwargs, out):
            sessions = args[2] if len(args) > 2 else kwargs.get("sessions")
            key = "" if kind == "bill" else "/people"
            files["n"] += sum(per_session[s + key] for s in (sessions or tree.sessions))
        return after

    def plan_report(args, kwargs):
        with tracer.span("engine.plan"):
            force_plan(args[0])

    def count_written(args, kwargs, path):
        for f in Path(path).rglob("*.csv"):
            written["files"] += 1
            written["bytes"] += f.stat().st_size
            with open(f, "rb") as fh:
                written["rows"] += max(0, sum(1 for _ in fh) - 1)

    tracer.wrap(documents, "read_bills", "documents.read_bills", probe=True, after=count_reads("bill"))
    tracer.wrap(documents, "read_people", "documents.read_people", probe=True, after=count_reads("people"))
    tracer.wrap(cache, "memo_parquet", "cache.memo_parquet")
    tracer.wrap(extract, "read_pdf_lines", "extract.read_pdf_lines", probe=True)
    tracer.wrap(extract, "read_html_docs", "extract.read_html_docs", probe=True)
    tracer.wrap(rest.RestClient, "_get", "rest.get")
    tracer.wrap(sinks, "write_csv_report", "sinks.write_csv_report",
                before=plan_report, after=count_written)
    tracer.wrap(lbc, "run_legislator_bill_counts", "pipelines.legislator_counts")
    tracer.wrap(sab, "run_search_all_bills", "pipelines.search_all_bills")
    tracer.wrap(bbs, "run_budget_bill_search", "pipelines.budget_search")
    engine = Engine(spark)
    try:
        dt, _, _ = timed_pass("traced", engine)
    finally:
        tracer.restore()

    probes = sum(s.end - s.start for s in tracer.spans if s.name.endswith(".probe"))
    reads = tracer.totals("documents.read_bills.probe") + tracer.totals("documents.read_people.probe")
    selfs = tracer.self_times()
    stats = [engine.stats(f"traced.{c}") for c in ("stage", "counts", "search", "budget")]
    plan_s = sum(tracer.totals("engine.plan"))
    chaptered = len(X.chaptered_budget_files(tree))
    layers = {
        "documents.read_s": sum(reads),
        "documents.files": files["n"],
        "documents.files_per_s": files["n"] / sum(reads),
        "cache.stage_write_s": selfs.get("cache.memo_parquet", 0.0),
        "extract.pdf_s": sum(tracer.totals("extract.read_pdf_lines.probe")),
        "extract.html_s": sum(tracer.totals("extract.read_html_docs.probe")),
        "extract.docs": tree.pdf_files + chaptered,
        "rest.calls": len(tracer.totals("rest.get")),
        "rest.fetch_ratio": len(tracer.totals("rest.get")) / max(1, chaptered),
        "sinks.write_s": sum(tracer.totals("sinks.write_csv_report")),
        "sinks.files_written": written["files"],
        "sinks.bytes_written": written["bytes"],
        "pipelines.legislator_counts_s": sum(tracer.totals("pipelines.legislator_counts")),
        "pipelines.search_all_bills_s": sum(tracer.totals("pipelines.search_all_bills")),
        "pipelines.budget_search_s": sum(tracer.totals("pipelines.budget_search")),
        "engine.plan_s": plan_s,
        "engine.exec_s": dt - probes - plan_s,
        "engine.jobs": sum(s["jobs"] for s in stats),
        "engine.stages": sum(s["stages"] for s in stats),
        "engine.tasks": sum(s["tasks"] for s in stats),
        "engine.failed_tasks": sum(s["failed_tasks"] for s in stats),
        "engine.shuffle_bytes": sum(s["shuffle_bytes"] for s in stats),
        "engine.scan_rows_per_out_row": sum(s["input_records"] for s in stats) / written["rows"],
        "trace.overhead_s": (dt - probes) - untraced,
    }
    layers.update({f"self.{k}_s": v for k, v in selfs.items()})
    return layers
