"""The traced run: per-layer metrics from outside the program.

The benchmark records a span (name, start, end, parent, run id) around
each call it makes into a layer, keeps the spans in memory and writes
them to ``.perfbench_work/traces/<run>.json`` at the end. Each span sets
its name as the Spark job group, so the event log (on only in this run)
maps every Spark job, stage and task back to the span that caused it.

Layer self time comes from prefix plans: scan, scan+extract and
scan+extract+dedup each run to a ``noop`` sink, and a layer's time is
the difference between successive prefixes. The production call
itself runs once, traced, as span ``job``; the time inside it not
covered by any Spark job is reported as ``unattributed_s``. One
untraced production call, made in a session without the event log,
gives the tracing overhead. The kernel is timed by single-thread
direct calls on the first Arrow batches of the workload's own corpus.

A layer a workload does not run reports 0 for its counts and ratios,
and for its times the length of an empty ``skipped:<metric>`` span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

import calls
import probe

KERNEL_DOCS = 1024
ARROW_BATCH = 512  # session.py's spark.sql.execution.arrow.maxRecordsPerBatch

PER_LAYER = {  # name -> unit
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "session.cold_setup_s": "s",
    "scans.wall_s": "s",
    "scans.rows_in": "count",
    "scans.rows_out": "count",
    "scans.pass_ratio": "ratio",
    "scans.input_mb": "MB",
    "scans.etag_skipped": "count",
    "extract.wall_s": "s",
    "extract.task_cpu_s": "s",
    "extract.tasks": "count",
    "extract.python_stages": "count",
    "extract.task_max_over_median": "ratio",
    "extract.handoff_share": "ratio",
    "extract.python_run_s": "s",
    "extract.arrow_sent_mb": "MB",
    "kernel.analyze_batch_ms_per_kdoc": "ms",
    "kernel.parse_ms_per_kdoc": "ms",
    "kernel.page_type_ms_per_kdoc": "ms",
    "kernel.extract_information_ms_per_kdoc": "ms",
    "kernel.content_hash_ms_per_kdoc": "ms",
    "kernel.ok_ratio": "ratio",
    "dedup.wall_s": "s",
    "dedup.shuffle_write_mb": "MB",
    "dedup.task_max_over_median": "ratio",
    "dedup.disabled_rows": "count",
    "pipeline.tail_s": "s",
    "pipeline.spark_jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.python_stages": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.gc_s": "s",
    "pipeline.output_mb": "MB",
    "pipeline.files_written": "count",
    "changes.wall_s": "s",
    "changes.shuffle_write_mb": "MB",
    "changes.create": "count",
    "changes.update": "count",
    "changes.skip": "count",
    "changes.error": "count",
    "io.entries_write_s": "s",
    "io.entries_rows": "count",
    "curate.flag_s": "s",
    "curate.write_s": "s",
    "curate.spark_jobs": "count",
    "curate.stages": "count",
    "curate.shuffle_write_mb": "MB",
    "curate.minhash_lsh_pairs_s": "s",
    "curate.connected_components_s": "s",
    "curate.decontaminate_s": "s",
    "trace.job_s": "s",
    "trace.peak_rss_mb": "MB",
    "trace.jit_cpu_s": "s",
    "trace.unattributed_s": "s",
    "trace.docs_per_s": "1/s",
    "trace.untraced_docs_per_s": "1/s",
    "trace.overhead_frac": "ratio",
    "host.canary_s": "s",
}

_MB = 2 ** 20


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _max_over_median(xs) -> float:
    xs = [x for x in xs if x > 0]
    return max(xs) / statistics.median(xs) if xs else 0.0


class Tracer:
    def __init__(self, run_id: str, event_log: str):
        self.run_id, self.event_log = run_id, event_log
        self.spans: list = []
        self.values: dict = {}
        self.untraced_wall = None
        self.kernel_s_per_doc = None
        self.job = None

    # -- spans ------------------------------------------------------------------

    @contextmanager
    def span(self, spark, name: str, parent: str | None = None):
        if spark is not None:
            spark.sparkContext.setJobGroup(name, name)
        rec = {"name": name, "parent": parent, "run_id": self.run_id,
               "start": time.time()}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["duration_s"] = time.perf_counter() - t0
            self.spans.append(rec)

    def _dur(self, name: str) -> float:
        return sum(s["duration_s"] for s in self.spans if s["name"] == name)

    # -- runs ---------------------------------------------------------------------

    def untraced_call(self, run) -> None:
        rec = run.call("untraced")
        self.untraced_wall = rec["wall_s"] if rec else None

    def traced_run(self, run) -> None:
        spark, meta = run.spark, run.meta
        rec = run.call("job", sample_rss=True)
        if rec is None:
            return
        self.job = rec
        self.spans.append({"name": "job", "parent": None, "run_id": self.run_id,
                           "start": rec["start"], "end": rec["end"],
                           "duration_s": rec["wall_s"]})
        if meta["workload"] == "curate_funnel":
            self._curate_prefixes(spark, meta)
        else:
            self._extract_prefixes(run, rec)
            with self.span(None, "kernel", parent="job"):
                self._kernel(meta, run.profiles)

    def _extract_prefixes(self, run, rec) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from content_extractor_spark.operators.changes import plan_actions
        from content_extractor_spark.operators.dedup import mark_duplicates
        from content_extractor_spark.operators.extract import extract_entries
        from content_extractor_spark.operators.scans import (
            etag_unchanged_skip,
            scannable_documents,
        )
        from content_extractor_spark.pipeline import with_bucket
        from content_extractor_spark.sources.io import apply_entry_actions

        spark, meta, profiles = run.spark, run.meta, run.profiles
        cfg = calls.pipeline_config("prefix")
        jvm = probe.jvm_pid(spark)
        counts = {}

        def scanned(observe: bool):
            def mark(df, key):
                if not observe:
                    return df
                o = counts[key] = Observation(key)
                return df.observe(o, F.count(F.lit(1)).alias("n"))

            existing = spark.read.parquet(meta["entries"])
            docs = mark(spark.read.parquet(meta["docs"]), "rows_in")
            docs = mark(etag_unchanged_skip(docs, existing), "rows_etag")
            docs = scannable_documents(docs, cfg.mode, cfg.now_iso,
                                       cfg.reanalysis_interval_hours)
            return mark(with_bucket(docs, cfg.num_buckets), "rows_out"), existing

        def extracted():
            docs, existing = scanned(False)
            out = extract_entries(docs, profiles, target_pattern=cfg.target_date_pattern,
                                  target_zone=cfg.target_zone, derive_spans=False)
            return with_bucket(out, cfg.num_buckets), existing

        cpu = {}
        for name, plan in (("prefix.scan", lambda: scanned(True)[0]),
                           ("prefix.extract", lambda: extracted()[0]),
                           ("prefix.dedup", lambda: mark_duplicates(*extracted()))):
            df = plan()
            with self.span(spark, name, parent="job"), probe.TreeMeter(jvm) as m:
                _noop(df)
            cpu[name] = m.cpu_s
        n = {k: o.get["n"] for k, o in counts.items()}
        skipped = n["rows_in"] - n["rows_etag"]
        if skipped != meta["expected"]["etag_skipped"]:
            run.problems.append(f"etag-skipped rows: got {skipped}, expected "
                                f"{meta['expected']['etag_skipped']}")
        spans_out = os.path.join(rec["out"], "spans_out")
        files = glob.glob(os.path.join(spans_out, "**", "*.parquet"), recursive=True)
        actions = rec["summary"]["actions"]
        self.values.update({
            "scans.rows_in": n["rows_in"],
            "scans.rows_out": n["rows_out"],
            "scans.etag_skipped": skipped,
            "extract.task_cpu_s": cpu["prefix.extract"] - cpu["prefix.scan"],
            "dedup.disabled_rows": rec["summary"]["disabled_dups"],
            "pipeline.files_written": len(files),
            "pipeline.output_mb": sum(os.path.getsize(f) for f in files) / _MB,
            **{f"changes.{a}": actions.get(a, 0)
               for a in ("create", "update", "skip", "error")},
        })

        existing = spark.read.parquet(meta["entries"])
        planned = plan_actions(
            spark.read.parquet(spans_out).where(F.col("status") == "ok"), existing)
        with self.span(spark, "prefix.changes", parent="job"):
            planned.groupBy("action").count().collect()
        target = os.path.join(os.path.dirname(rec["out"]), "entries_probe")
        with self.span(spark, "prefix.entries_write", parent="job"):
            apply_entry_actions(
                existing, planned, clock=cfg.now_iso,
                reanalysis_interval_hours=cfg.reanalysis_interval_hours,
            ).write.mode("overwrite").parquet(target)
        self.values["io.entries_rows"] = spark.read.parquet(target).count()

    def _curate_prefixes(self, spark, meta) -> None:
        from jobs.curate_job import flag_documents

        from content_extractor_spark.operators.components import connected_components
        from content_extractor_spark.operators.curation import decontaminate
        from content_extractor_spark.operators.dedup_families import minhash_lsh_pairs

        cfg = calls.curate_config()
        docs = spark.read.parquet(meta["docs"])
        bench = spark.read.parquet(meta["benchmark"])
        with self.span(spark, "prefix.flag", parent="job"):
            flagged, cached = flag_documents(docs, cfg, benchmark=bench)
            _noop(flagged)
            cached.unpersist()
        texts = docs.select("doc_id", "text")
        with self.span(spark, "prefix.lsh", parent="job"):
            pairs = minhash_lsh_pairs(
                texts, num_perm=cfg.minhash_perms, num_bands=cfg.minhash_bands,
                max_bucket=cfg.max_bucket, checkpoint_banded=True)
            rows = pairs.collect()
        pairs = spark.createDataFrame(rows, pairs.schema)
        with self.span(spark, "prefix.cc", parent="job"):
            _noop(connected_components(pairs))
        with self.span(spark, "prefix.decontaminate", parent="job"):
            _noop(decontaminate(texts, bench.select("text"), n=cfg.decontam_ngram))

    def _kernel(self, meta, profiles) -> None:
        """Single-thread kernel cost on the corpus's first Arrow batches."""
        import pyarrow.parquet as pq

        from content_extractor_spark.kernel.analyzer import (
            extract_information,
            get_selectors,
        )
        from content_extractor_spark.kernel.dom import parse
        from content_extractor_spark.kernel.profiles import normalize_host
        from content_extractor_spark.kernel.scala_hash import content_hash
        from content_extractor_spark.operators.extract import (
            _analyze_batch,
            _decode_spans_columnar,
        )

        table = pq.read_table(meta["docs"]).slice(0, KERNEL_DOCS)
        batches = table.to_batches(max_chunksize=ARROW_BATCH)
        n = table.num_rows
        profs = {normalize_host(h): p for h, p in profiles.items()}
        t0 = time.perf_counter()
        statuses = []
        for b in batches:
            statuses += _analyze_batch(b, profs).column("status").to_pylist()
        batch_s = time.perf_counter() - t0
        phase = dict.fromkeys(("parse", "page_type", "extract_information",
                               "content_hash"), 0.0)
        for b in batches:
            decoded = _decode_spans_columnar(b.column("spans"))
            for (html, _, _), host, url, etag in zip(
                    decoded, b.column("host").to_pylist(),
                    b.column("url").to_pylist(), b.column("etag").to_pylist()):
                prof = profs.get(normalize_host(host or ""))
                if prof is None:
                    continue
                t = time.perf_counter()
                doc = parse(html)
                t1 = time.perf_counter()
                selectors, _ = get_selectors(url or "", doc, prof)
                t2 = time.perf_counter()
                phase["parse"] += t1 - t
                phase["page_type"] += t2 - t1
                if selectors is None:
                    continue
                try:
                    e = extract_information(doc, selectors, url or "", etag)
                except LookupError:
                    phase["extract_information"] += time.perf_counter() - t2
                    continue
                t3 = time.perf_counter()
                content_hash(e.title, e.summary, e.content, e.date)
                phase["extract_information"] += t3 - t2
                phase["content_hash"] += time.perf_counter() - t3
        per_kdoc = 1e6 / n
        self.kernel_s_per_doc = batch_s / n
        self.values["kernel.analyze_batch_ms_per_kdoc"] = batch_s * per_kdoc
        for k, v in phase.items():
            self.values[f"kernel.{k}_ms_per_kdoc"] = v * per_kdoc
        self.values["kernel.ok_ratio"] = statuses.count("ok") / n

    # -- metrics ------------------------------------------------------------------

    def metrics(self, setups, host, meta) -> dict:
        """Every PER_LAYER metric. Call after the session has stopped, so
        the event log is complete."""
        v = dict(self.values)
        starts = [s for s, _ in setups]
        warms = [w for _, w in setups]
        v["session.start_s"] = statistics.median(starts)
        v["session.worker_warm_s"] = statistics.median(warms)
        v["session.cold_setup_s"] = starts[0] + warms[0]
        v["host.canary_s"] = host["canary_s"]
        if self.job is not None:
            v.update(self._job_metrics(meta))
        for name, unit in PER_LAYER.items():  # layers this workload skips
            if name not in v:
                with self.span(None, f"skipped:{name}") as rec:
                    pass
                v[name] = rec["duration_s"] * (1000 if unit == "ms" else 1) \
                    if unit in ("s", "ms") else 0
        return v

    def _job_metrics(self, meta) -> dict:
        ev = EventLog(self.event_log)
        n, job, d = meta["size"], self.job["wall_s"], self._dur
        job_span = next(s for s in self.spans if s["name"] == "job")
        whole = ev.group("job")
        v = {
            "trace.job_s": job,
            "trace.peak_rss_mb": self.job["peak_rss_mb"],
            "trace.jit_cpu_s": self.job["jit_cpu_s"],
            "trace.docs_per_s": n / job,
            "trace.unattributed_s": job - ev.covered_s("job", job_span["start"],
                                                       job_span["end"]),
        }
        if self.untraced_wall:
            v["trace.untraced_docs_per_s"] = n / self.untraced_wall
            v["trace.overhead_frac"] = 1 - v["trace.docs_per_s"] / v["trace.untraced_docs_per_s"]
        if meta["workload"] == "curate_funnel":
            v.update({
                "curate.flag_s": d("prefix.flag"),
                "curate.write_s": job - d("prefix.flag"),
                "curate.spark_jobs": whole["jobs"],
                "curate.stages": whole["stages"],
                "curate.shuffle_write_mb": whole["shuffle_write"] / _MB,
                "curate.minhash_lsh_pairs_s": d("prefix.lsh"),
                "curate.connected_components_s": d("prefix.cc"),
                "curate.decontaminate_s": d("prefix.decontaminate"),
            })
            return v
        scan, ext, ded = (ev.group(f"prefix.{k}") for k in ("scan", "extract", "dedup"))
        py = ext["python"]
        rows_in, rows_out = self.values["scans.rows_in"], self.values["scans.rows_out"]
        v.update({
            "scans.wall_s": d("prefix.scan"),
            "scans.pass_ratio": rows_out / rows_in if rows_in else 0.0,
            "scans.input_mb": sum(
                os.path.getsize(f) for key in ("docs", "entries")
                for f in glob.glob(os.path.join(meta[key], "*.parquet"))) / _MB,
            "extract.wall_s": d("prefix.extract") - d("prefix.scan"),
            "extract.tasks": len(py["task_run_s"]),
            "extract.python_stages": py["stages"],
            "extract.task_max_over_median": _max_over_median(py["task_run_s"]),
            "extract.python_run_s": py["python_run_s"],
            "extract.arrow_sent_mb": py["sent_bytes"] / _MB,
            "dedup.wall_s": d("prefix.dedup") - d("prefix.extract"),
            "dedup.shuffle_write_mb": (ded["shuffle_write"] - ext["shuffle_write"]) / _MB,
            "dedup.task_max_over_median": _max_over_median(ded["reduce_task_run_s"]),
            "pipeline.tail_s": (job - d("prefix.dedup") - d("prefix.changes")
                                - d("prefix.entries_write")),
            "pipeline.spark_jobs": whole["jobs"],
            "pipeline.stages": whole["stages"],
            "pipeline.tasks": whole["tasks"],
            "pipeline.python_stages": whole["python"]["stages"],
            "pipeline.shuffle_write_mb": whole["shuffle_write"] / _MB,
            "pipeline.gc_s": whole["gc_s"],
            "changes.wall_s": d("prefix.changes"),
            "changes.shuffle_write_mb": ev.group("prefix.changes")["shuffle_write"] / _MB,
            "io.entries_write_s": d("prefix.entries_write"),
        })
        # kernel time the extract tasks would spend at single-thread speed,
        # against their run time net of the scan prefix's
        extract_task_s = sum(py["task_run_s"]) - scan["run_s"]
        if extract_task_s > 0 and self.kernel_s_per_doc:
            v["extract.handoff_share"] = 1 - self.kernel_s_per_doc * rows_out / extract_task_s
        return v

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "metrics": metrics}, fh, indent=1)


class EventLog:
    """Task, stage and job figures from a Spark event log, per job group."""

    def __init__(self, directory: str):
        self.jobs, self.stages, self.tasks = {}, {}, []
        files = glob.glob(os.path.join(directory, "*"))
        if not files:
            return
        with open(files[0]) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "group": e["Properties"].get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000,
                        "stage_ids": e["Stage IDs"]}
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    names = {a["Name"] for a in info.get("Accumulables", [])}
                    self.stages[info["Stage ID"]] = {
                        "python": "data sent to Python workers" in names}
                elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                    self.tasks.append(e)

    def _job_ids(self, group: str) -> list:
        return [j for j, info in self.jobs.items() if info["group"] == group]

    def covered_s(self, group: str, start: float, end: float) -> float:
        """Length of the union of the group's Spark job intervals."""
        spans = sorted((max(self.jobs[j]["start"], start),
                        min(self.jobs[j].get("end", end), end))
                       for j in self._job_ids(group))
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def group(self, group: str) -> dict:
        jobs = self._job_ids(group)
        stage_ids = {s for j in jobs for s in self.jobs[j]["stage_ids"]
                     if s in self.stages}
        out = {"jobs": len(jobs), "stages": len(stage_ids), "tasks": 0,
               "shuffle_write": 0, "gc_s": 0.0, "run_s": 0.0,
               "reduce_task_run_s": [],
               "python": {"stages": sum(self.stages[s]["python"] for s in stage_ids),
                          "task_run_s": [], "python_run_s": 0.0, "sent_bytes": 0}}
        for e in self.tasks:
            if e["Stage ID"] not in stage_ids:
                continue
            m = e["Task Metrics"]
            run_s = m["Executor Run Time"] / 1000
            out["tasks"] += 1
            out["run_s"] += run_s
            out["gc_s"] += m["JVM GC Time"] / 1000
            out["shuffle_write"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            rd = m["Shuffle Read Metrics"]
            if rd["Local Bytes Read"] + rd["Remote Bytes Read"] > 0:
                out["reduce_task_run_s"].append(run_s)
            if self.stages[e["Stage ID"]]["python"]:
                py = out["python"]
                py["task_run_s"].append(run_s)
                acc = {a["Name"]: a.get("Update") for a in e["Task Info"]["Accumulables"]}
                py["python_run_s"] += int(acc.get("time to run Python workers") or 0) / 1000
                py["sent_bytes"] += int(acc.get("data sent to Python workers") or 0)
        return out
