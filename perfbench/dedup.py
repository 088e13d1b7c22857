"""``corpus_dedup``: the LLM-data operators. Seeded document batches with
planted exact duplicates, near duplicates (within a batch and across
batches), short documents and low-quality documents land as parquet
files; each batch is read, filtered by the ``text.quality_features``
gates, and near-deduplicated with ``dedup.neardup_incremental`` against
the growing LSH band ledger under a stable ``attempt_id``. Every
``COMPACT_EVERY`` batches the ledger is compacted with
``dedup.compact_ledger``; a run times whole cycles of ``COMPACT_EVERY``
batches. The first batch (empty ledger) is the full build. No other
workload touches this code."""

from __future__ import annotations

import time

import duckdb

import gen
from common import Bench, Result, compare, dir_stats, tree_cpu_s

BATCH_DOCS = 1000
COMPACT_EVERY = 2
GATE = "uniq_token_ratio >= 0.3 AND alpha_ratio >= 0.5"
DOC_COLS = ("doc_id", "text", "lang", "source", "n_chars")


def run(b: Bench) -> Result:
    from gcp_etl_pipeline_spark.operators import dedup, text
    from gcp_etl_pipeline_spark.operators.dedup_queries import _BANDS, _NUM_HASHES
    from gcp_etl_pipeline_spark.sources import files

    with b.generating():
        corpus = gen.Corpus(b.seed, BATCH_DOCS)
    docs_dir, store, out = f"{b.root}/docs", f"{b.root}/ledger/bands", f"{b.root}/accepted"
    if b.tracer is not None:
        _install_tracing(b.tracer)

    res = Result()
    compactions = 0

    def land(i: int) -> str:
        path = f"{docs_dir}/batch-{i:05d}.parquet"
        gen.write(corpus.batch(), path)
        return path

    def run_batch(i: int, path: str) -> tuple[float, float]:
        nonlocal compactions
        res.attempted += 1
        t0, c0 = time.perf_counter(), tree_cpu_s()
        docs = files.read_parquet(b.spark, path)
        gated = text.quality_features(docs).where(GATE).select(*DOC_COLS)
        acc = dedup.neardup_incremental(
            gated, store, num_hashes=_NUM_HASHES, bands=_BANDS, attempt_id=f"b{i:05d}"
        )
        acc.select("doc_id").write.mode("overwrite").parquet(f"{out}/batch={i}")
        if i > 0 and i % COMPACT_EVERY == 0:
            dedup.compact_ledger(b.spark, store)
            compactions += 1
        return time.perf_counter() - t0, tree_cpu_s() - c0

    with b.generating():
        path = land(0)
    b.start_timing()
    res.full_build_s, _ = run_batch(0, path)
    i = 0
    window_start = time.perf_counter()
    # whole compaction cycles only, so every run times the same mix
    while i % COMPACT_EVERY or time.perf_counter() - window_start < b.seconds:
        i += 1
        path = land(i)
        secs, cpu = run_batch(i, path)
        res.batch_s.append(secs)
        res.batch_cpu_s.append(cpu)
        res.rows += BATCH_DOCS

    res.source_bytes = dir_stats(docs_dir)[1]
    res.bytes_stored = dir_stats(f"{b.root}/ledger")[1] + dir_stats(out)[1]
    e2e = res.end_to_end()
    res.detail = {
        "dedup_full_build_s": res.full_build_s,
        "dedup_batch_s_p50": e2e["batch_s_p50"],
        "dedup_batch_samples": len(res.batch_s),
        "dedup_docs_per_s": e2e["rows_per_s"],
        "compactions": compactions,
    }
    accepted, res.checks = _checks(docs_dir, out, corpus.planted_exact)
    if b.tracer is not None:
        n_in = corpus.next_id
        ledger_files, ledger_bytes = dir_stats(store, ".parquet")
        res.layer = {
            "operators.dedup_drop_ratio": (n_in - len(accepted)) / n_in,
            "operators.ledger_files": ledger_files,
            "operators.ledger_bytes": ledger_bytes,
        }
    return res


def _install_tracing(tr) -> None:
    from gcp_etl_pipeline_spark.operators import dedup, text
    from gcp_etl_pipeline_spark.sources import files

    tr.patch(files, "read_parquet", "sources.read_parquet")
    tr.patch(text, "quality_features", "operators.quality_features")
    tr.patch(dedup, "neardup_incremental", "operators.neardup_incremental")
    tr.patch(dedup, "compact_ledger", "operators.compact_ledger")


# ---------------------------------------------------------------- checks

def _oracle_accepted(con) -> set[int]:
    """DuckDB evaluation of ``neardup_incremental``'s one-pass contract
    over every batch in order (the multi-batch generalisation of
    ``dedup_queries._neardup_incremental_oracle``): gates, then per batch
    drop a doc iff a lower-id doc of the batch shares an LSH band, then
    drop a survivor iff it shares a band with the ledger; survivors' bands
    join the ledger. Docs with fewer than 3 tokens have no bands and are
    always accepted. The gate features, tokenizer, shingles and MinHash
    parameters are the engine's own oracle definitions; only the ledger
    loop lives here."""
    from gcp_etl_pipeline_spark import registry
    from gcp_etl_pipeline_spark.operators.dedup_queries import (
        _BANDS, _NUM_HASHES, _ROWS, _SH_CTE, _tok_cte,
    )

    mins = ", ".join(
        f"MIN(substring(md5('{k}|' || shingle), 1, 16)) AS mh{k}" for k in range(_NUM_HASHES)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {bd} AS band_id, md5("
        + " || '|' || ".join(f"mh{bd * _ROWS + r}" for r in range(_ROWS))
        + ") AS h FROM sig"
        for bd in range(_BANDS)
    )
    gated = con.sql(
        f"SELECT d.batch, f.doc_id FROM ({registry.oracles()['text_quality_stats']}) f "
        f"JOIN documents d USING (doc_id) WHERE {GATE}"
    ).fetchall()
    band_rows = con.sql(f"""
        WITH {_tok_cte()}, {_SH_CTE},
        sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id)
        {bands}
    """).fetchall()
    by_doc: dict[int, set] = {}
    for doc_id, band_id, h in band_rows:
        by_doc.setdefault(doc_id, set()).add((band_id, h))
    by_batch: dict[int, list[int]] = {}
    for batch, doc_id in gated:
        by_batch.setdefault(batch, []).append(doc_id)

    ledger: set = set()
    accepted: set[int] = set()
    for batch in sorted(by_batch):
        seen: set = set()
        in_batch_drop = set()
        for doc_id in sorted(by_batch[batch]):
            bs = by_doc.get(doc_id, set())
            if bs & seen:
                in_batch_drop.add(doc_id)
            seen |= bs
        new_bands: set = set()
        for doc_id in by_batch[batch]:
            bs = by_doc.get(doc_id, set())
            if doc_id in in_batch_drop or bs & ledger:
                continue
            accepted.add(doc_id)
            new_bands |= bs
        ledger |= new_bands
    return accepted


def _checks(docs_dir: str, out: str, planted_exact: set[int]):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT CAST(regexp_extract(filename, 'batch-(\\d+)', 1) AS INT) AS batch, * "
        f"FROM read_parquet('{docs_dir}/*.parquet', filename = true)"
    )
    want = _oracle_accepted(con)
    got = {r[0] for r in con.sql(
        f"SELECT doc_id FROM read_parquet('{out}/*/*.parquet')"
    ).fetchall()}
    checks = {
        "accepted_vs_oracle": compare(
            "accepted docs", ["doc_id"], [(d,) for d in got], ["doc_id"], [(d,) for d in want]
        ),
    }
    kept = sorted(planted_exact & got)
    checks["planted_exact_dropped"] = (
        not kept, f"{len(planted_exact)} planted exact duplicates, {len(kept)} accepted {kept[:5]}"
    )
    return got, checks
