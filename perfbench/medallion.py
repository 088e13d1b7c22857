"""``medallion_batch``: the write path. One full build of the GoSales
pipeline over a history of daily sales, then daily increments: each lands
new lineitem rows (ship-date order) beside the source table and calls
``Pipeline.run`` with a new batch id. History grows every batch, so any
cost that scales with history rather than with the increment shows here.
Touches neither the dedup nor the streaming code."""

from __future__ import annotations

import dataclasses
import time

import duckdb

import gen
from common import Bench, Result, compare, dir_stats, tree_cpu_s

# sf0.1 masters and ~240 lineitem rows per ship day, as in the sf0.1
# fixtures; the history is cut to 60 days (14k rows) so that a run fits
# the time budget (README, "Load sizing")
SCALE = 0.1
HISTORY_DAYS = 60
INCREMENT_DAYS = 7
NULL_SHIP_SHARE = 0.002  # rows the raw contract routes to quarantine
JOBS = (
    "raw_go_daily_sales", "method_hlp", "retailer_hlp", "product_lkp",
    "retailer_dim", "sales_fact", "tl_sales_overview",
)
SOURCE_TABLES = ("region", "nation", "supplier", "part", "orders", "lineitem")


def run(b: Bench) -> Result:
    from gcp_etl_pipeline_spark.pipeline import RunContext
    from gcp_etl_pipeline_spark.plans.gosales_pipeline import build_pipeline

    sf, wh = f"{b.root}/sf", f"{b.root}/wh"
    with b.generating():
        g = gen.GoSales(b.seed, SCALE)
        g.write_masters(sf)
        lineitem = g.lineitem_days(0, HISTORY_DAYS, NULL_SHIP_SHARE)
        gen.write(lineitem, f"{sf}/lineitem.parquet/part-00000.parquet")
    source_rows = [lineitem.num_rows]  # rows entering the raw job, per run
    p = build_pipeline(sf, wh, b.spark)
    if b.tracer is not None:
        _install_tracing(b.tracer, p)

    res = Result()
    batches: list[str] = []
    ingested: list[tuple[int, int]] = []  # (ledgered, generated) per increment
    ledger_rows: list[dict] = []

    def run_batch(batch_id: str) -> tuple[float, float, list[dict]]:
        """One Pipeline.run: (wall s, process-tree CPU s, ledger rows).
        A failing job raises PipelineError and ends the run."""
        res.attempted += 1
        t0, c0 = time.perf_counter(), tree_cpu_s()
        rows = p.run(RunContext(batch_id=batch_id))
        secs, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
        batches.append(batch_id)
        ledger_rows.extend(rows)
        return secs, cpu, rows

    b.start_timing()
    res.full_build_s, _, _ = run_batch("b000")
    day, i = HISTORY_DAYS, 0
    window_start = time.perf_counter()
    while i == 0 or time.perf_counter() - window_start < b.seconds:
        i += 1
        inc = g.lineitem_days(day, day + INCREMENT_DAYS)
        day += INCREMENT_DAYS
        gen.write(inc, f"{sf}/lineitem.parquet/part-{i:05d}.parquet")
        source_rows.append(source_rows[-1] + inc.num_rows)
        secs, cpu, rows = run_batch(f"b{i:03d}")
        res.batch_s.append(secs)
        res.batch_cpu_s.append(cpu)
        raw = next(r for r in rows if r["job_name"] == "raw_go_daily_sales")
        ingested.append((raw["rows_ingested"], inc.num_rows))
        res.rows += raw["rows_ingested"]

    res.source_bytes = dir_stats(sf)[1]
    res.bytes_stored = dir_stats(wh)[1]
    e2e = res.end_to_end()
    res.detail = {
        "etl_full_build_s": res.full_build_s,
        "etl_batch_s_p50": e2e["batch_s_p50"],
        "etl_batch_samples": len(res.batch_s),
        "etl_rows_per_s": e2e["rows_per_s"],
        "bytes_stored_per_source_byte": e2e["bytes_stored_per_source_byte"],
    }
    res.checks = _checks(sf, wh, batches, ingested)
    if b.tracer is not None:
        res.layer = _layer_counters(b.tracer, wh, ledger_rows, source_rows, res.source_bytes)
    return res


# ---------------------------------------------------------------- checks

def _checks(sf: str, wh: str, batches: list[str], ingested) -> dict:
    from gcp_etl_pipeline_spark.plans import gosales

    con = duckdb.connect()
    for t in SOURCE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet/*.parquet')"
        )
    want = con.sql(gosales.oracle("sales_overview"))
    cols = list(want.columns)
    want_rows = want.fetchall()
    got = con.sql(
        f"SELECT {', '.join(cols)} FROM read_parquet('{wh}/semantic/tl_sales_overview/*.parquet')"
    ).fetchall()
    checks = {"overview_vs_oracle": compare("tl_sales_overview", cols, got, cols, want_rows)}

    ledger = con.sql(
        f"SELECT batch_id, job_name, status FROM read_parquet('{wh}/ops/run_log/*.parquet')"
    ).fetchall()
    expect = sorted((bid, job, "SUCCESS") for bid in batches for job in JOBS)
    ok = sorted(ledger) == expect
    checks["ledger_one_success_per_job_per_batch"] = (
        ok, f"{len(ledger)} ledger rows for {len(batches)} batches x {len(JOBS)} jobs"
    )
    ok = all(got == want for got, want in ingested)
    checks["increment_rows_ingested"] = (ok, f"(ledgered, generated) per increment: {ingested}")
    return checks


# --------------------------------------------------------------- tracing

def _install_tracing(tr, p) -> None:
    from gcp_etl_pipeline_spark import pipeline
    from gcp_etl_pipeline_spark.operators import expectations, incremental
    from gcp_etl_pipeline_spark.plans import gosales, gosales_pipeline
    from gcp_etl_pipeline_spark.sources import incremental_ingest

    tr.patch(p, "run", "pipeline.run")
    tr.patch(pipeline, "append_run_log", "pipeline.run_log")
    for name, job in list(p.jobs.items()):
        p.jobs[name] = dataclasses.replace(
            job,
            build=_traced_build(tr, job.build, name),
            write=tr.wrap(job.write, f"plans.{name}.write"),
        )

    def counting_ingest(fn):
        def ingest(*args, **kwargs):
            with tr.span("sources.ingest_incremental"):
                n = fn(*args, **kwargs)
            tr.add("sources.ingest_rows", n)
            return n
        return ingest

    tr.replace(incremental_ingest, "ingest_incremental", counting_ingest)
    tr.patch(incremental_ingest.IngestionCatalog, "get_watermark", "sources.watermark_catalog")
    tr.patch(incremental_ingest.IngestionCatalog, "set_watermark", "sources.watermark_catalog")
    tr.patch(expectations, "enforce_to_quarantine", "operators.enforce_to_quarantine")
    tr.patch(gosales, "surrogate_keys", "operators.surrogate_keys")
    tr.patch(incremental, "insert_new_only", "operators.insert_new_only")
    for attr in ("write_parquet", "insert_new_rows"):
        tr.replace(gosales_pipeline, attr, _sink_wrapper(tr, f"sinks.{attr}"))


def _traced_build(tr, build, name: str):
    """Span the job's build; the runner counts rows itself (an extra
    action) when write returns None, so span that count too."""

    def traced(spark, ctx):
        with tr.span(f"plans.{name}.build"):
            df = build(spark, ctx)
        df.count = tr.wrap(df.count, f"plans.{name}.count")
        return df

    return traced


def _sink_wrapper(tr, span: str):
    """Span a sink call and count the files and bytes it wrote (files
    under its target path modified during the call)."""

    def wrapper(fn):
        def sink(df, path, *args, **kwargs):
            t0 = time.time() - 1.0  # mtime granularity slack
            with tr.span(span):
                out = fn(df, path, *args, **kwargs)
            files, size = dir_stats(path, ".parquet", since=t0)
            tr.add("sinks.files_written", files)
            tr.add("sinks.bytes_written", size)
            return out
        return sink

    return wrapper


def _layer_counters(tr, wh, ledger_rows, source_rows, source_bytes) -> dict:
    out = {f"plans.{job}.rows": 0.0 for job in JOBS}
    for r in ledger_rows:
        out[f"plans.{r['job_name']}.rows"] += r["rows_ingested"]
    out["pipeline.jobs"] = len(ledger_rows)
    out["pipeline.jobs_failed"] = sum(r["status"] != "SUCCESS" for r in ledger_rows)
    selfs = tr.self_intervals()
    out["pipeline.unattributed_s"] = sum(
        e - s for sp in tr.spans if sp["name"] == "pipeline.run" for s, e in selfs[sp["id"]]
    )
    q = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{wh}/quarantine/go_daily_sales/*.parquet')"
    ).fetchone()[0]
    out["operators.quarantine_ratio"] = q / max(1, sum(source_rows))
    out["sinks.warehouse_bytes"] = dir_stats(wh, ".parquet")[1]
    out["sinks.bytes_written_per_source_byte"] = (
        tr.counters.get("sinks.bytes_written", 0.0) / max(1, source_bytes)
    )
    return out
