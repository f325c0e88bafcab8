"""The production call of each workload, and the checks on its output.

``recrawl_merge`` calls ``pipeline.run_extraction`` the way
``jobs/extract_job.py --mode existing --entries`` composes it
(``etag_unchanged_skip`` first); ``curate_funnel`` calls
``jobs.curate_job.run_curation`` with the job's default configuration.
A check returns a list of problems; an empty list means the output is
right.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.parquet as pq

import gen
import probe


def pipeline_config(run_id: str):
    from content_extractor_spark.pipeline import PipelineConfig

    # jobs/extract_job.py: "--buckets ~ 2-4x total executor cores"
    return PipelineConfig(num_buckets=4 * probe.nproc(), mode="existing",
                          now_iso=gen.NOW_ISO, run_id=run_id)


def curate_config():
    from jobs.curate_job import resolve_config

    return resolve_config(["--input", "-", "--output", "-"])


def job_call(spark, meta, profiles, out: str, run_id: str) -> dict:
    """One production job call; returns its summary / funnel metrics."""
    if meta["workload"] == "curate_funnel":
        from jobs.curate_job import run_curation

        return run_curation(
            spark, spark.read.parquet(meta["docs"]), curate_config(),
            benchmark=spark.read.parquet(meta["benchmark"]), out_root=out,
        )
    from content_extractor_spark.operators.scans import etag_unchanged_skip
    from content_extractor_spark.pipeline import run_extraction

    existing = spark.read.parquet(meta["entries"])
    docs = etag_unchanged_skip(spark.read.parquet(meta["docs"]), existing)
    return run_extraction(spark, docs, profiles, out,
                          pipeline_config(run_id),
                          existing_entries=existing)


def check_summary(spark, meta, summary: dict, out: str) -> list:
    exp = meta["expected"]
    problems = []

    def expect(name, got, want):
        if got != want:
            problems.append(f"{name}: got {got!r}, expected {want!r}")

    if meta["workload"] == "curate_funnel":
        drops = sum(v for k, v in summary.items() if k.startswith("drop_"))
        expect("kept + drops", summary["kept"] + drops, summary["total"])
        expect("total", summary["total"], exp["total"])
        for reason in ("exact_dup", "quality", "repetition", "contaminated"):
            expect(f"drop_{reason}", summary[f"drop_{reason}"],
                   exp["planted"][reason])
        expect("curated rows", spark.read.parquet(f"{out}/curated").count(),
               summary["kept"])
        # the funnel is deterministic: a seed's counts never change
        stable = os.path.join(meta["root"], "funnel.json")
        if not os.path.exists(stable):
            with open(stable, "w") as fh:
                json.dump(summary, fh, sort_keys=True)
        with open(stable) as fh:
            expect("funnel counts", summary, json.load(fh))
        return problems

    parts = sum(summary[k] for k in ("ok", "profile_miss", "no_title", "errors"))
    expect("ok+profile_miss+no_title+errors", parts, summary["docs_parsed"])
    for key in ("docs_parsed", "ok", "disabled_dups"):
        expect(key, summary[key], exp[key])
    expect("actions", {k: v for k, v in summary["actions"].items() if v},
           {k: v for k, v in exp["actions"].items() if v})
    expect("entries_next rows", spark.read.parquet(f"{out}/entries_next").count(),
           exp["entries_next_rows"])
    return problems


def check_spans(spark, meta, profiles, out: str, seed: int, k: int = 48) -> list:
    """Span-for-span equality on a seeded sample of doc_ids against the
    kernel called in-process; filtered or skipped documents must be
    absent from the output."""
    if meta["workload"] == "curate_funnel":
        return []
    from pyspark.sql import functions as F

    from content_extractor_spark.kernel.analyzer import analyze
    from content_extractor_spark.kernel.profiles import normalize_host
    from content_extractor_spark.kernel.spans import entry_to_spans, spans_to_html

    table = pq.read_table(meta["docs"])
    picks = random.Random(f"spans:{seed}").sample(range(table.num_rows),
                                                  min(k, table.num_rows))
    sample = table.take(picks).to_pylist()
    e = pq.read_table(meta["entries"], columns=["url_id", "etag"]).to_pydict()
    stored = dict(zip(e["url_id"], e["etag"]))
    profs = {normalize_host(h): p for h, p in profiles.items()}
    want = {}
    for r in sample:
        if not gen.scannable(r):
            continue
        if r["last_crawl"] != gen.REANALYSIS_CRAWL or (
                r["etag"] is not None and stored.get(r["url_id"]) == r["etag"]):
            continue  # not due for re-analysis, or skipped on its etag
        prof = profs.get(normalize_host(r["host"] or ""))
        if prof is None:
            want[r["doc_id"]] = ("profile_miss", None)
            continue
        res = analyze(r["url"] or "", spans_to_html(r["spans"]), prof, r["etag"])
        want[r["doc_id"]] = (
            res.status, entry_to_spans(res.entry) if res.entry else None)
    got = {
        row["doc_id"]: (
            row["status"],
            [s.asDict() for s in row["spans"]] if row["spans"] is not None else None,
        )
        for row in spark.read.parquet(f"{out}/spans_out")
        .where(F.col("doc_id").isin([r["doc_id"] for r in sample]))
        .select("doc_id", "status", "spans").collect()
    }
    problems = []
    for doc_id in sorted(set(want) | set(got)):
        if want.get(doc_id) != got.get(doc_id):
            problems.append(f"spans of {doc_id}: got {got.get(doc_id)!r:.200}, "
                            f"expected {want.get(doc_id)!r:.200}")
    return problems
