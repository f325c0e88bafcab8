"""Repository benchmark: production job calls on seeded workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload recrawl_merge --seed 1 --seconds 12 --trace 0

Workloads: recrawl_merge, curate_funnel (BENCHMARK.json says why each
exists; README.md describes the metrics). A run

  1. generates the workload's inputs from the seed (cached under
     .perfbench_work/, never timed);
  2. sets the Spark session up three times: ``session.get_spark`` at
     local[nproc], then one tiny ``mapInArrow`` extraction that spawns
     the Python workers. The first set-up launches the JVM, the others
     restart the context in it; ``setup_s`` is their median;
  3. makes two untimed warm-up calls, then repeats the production job
     call until ``--seconds`` have passed, each call into a fresh output
     directory, and checks every call's output, plus span-for-span
     equality on a sample of the last one;
  4. prints a table and, as the last line, the JSON result.

``--trace 0`` reports the end-to-end metrics, as medians over the
timed calls. ``--trace 1`` is the separate traced run (tracing.py): it
makes one untraced reference call in the second session, turns on
Spark's event log for the third and reports the per-layer metrics.

Exit status: 0 when every output check passed; 1 when one failed (the
result is still printed); 2 when the program cannot be run at all
(nothing is printed to stdout).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("recrawl_merge", "curate_funnel")
WARMUPS = 2  # untimed calls before the timed ones, so JIT and workers settle

END_TO_END = {  # name -> unit
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "setup_s": "s",
}


class Run:
    """One benchmark run: the session, its job calls and their checks."""

    def __init__(self, meta, profiles, scratch):
        self.meta, self.profiles, self.scratch = meta, profiles, scratch
        self.spark = None
        self.setups = []  # (get_spark seconds, first mapInArrow seconds)
        self.problems = []
        self.attempted = self.failed = 0
        self.out = None  # output directory of the last call

    def setup(self, event_log=None) -> None:
        import gen
        import probe
        from content_extractor_spark.operators.extract import extract_entries

        if self.spark is not None:
            self.spark.stop()
        warm = gen.warm_docs(probe.nproc())
        t0 = time.perf_counter()
        self.spark = probe.spark_session(self.scratch, event_log)
        t1 = time.perf_counter()
        extract_entries(self.spark.read.parquet(warm), self.profiles) \
            .select("doc_id").collect()
        self.setups.append((t1 - t0, time.perf_counter() - t1))

    def call(self, name: str, sample_rss: bool = False):
        """One production call as job group ``name``; returns its timing
        record, or None when it raised. Checks the output either way."""
        import calls
        import probe

        meta = self.meta
        if self.out is not None:
            shutil.rmtree(self.out, ignore_errors=True)
        self.out = os.path.join(self.scratch, name)
        self.attempted += meta["size"]
        self.spark.sparkContext.setJobGroup(name, name)
        try:
            with probe.TreeMeter(probe.jvm_pid(self.spark), sample_rss) as meter:
                start, t0 = time.time(), time.perf_counter()
                summary = calls.job_call(self.spark, meta, self.profiles,
                                         self.out, name)
                wall = time.perf_counter() - t0
        except Exception as exc:  # a call that raises fails all its documents
            self.problems.append(f"{name} raised {type(exc).__name__}: {exc}")
            self.failed += meta["size"]
            return None
        counts = probe.job_counts(self.spark, name)
        bad = calls.check_summary(self.spark, meta, summary, self.out)
        self.problems.extend(f"{name}: {p}" for p in bad)
        # a document fails when its status is `error` (extraction only)
        self.failed += meta["size"] if bad else summary.get("errors", 0)
        return {"name": name, "start": start, "end": start + wall, "wall_s": wall,
                "cpu_s": meter.cpu_s, "jit_cpu_s": meter.jit_cpu_s,
                "peak_rss_mb": meter.peak_rss_mb,
                "summary": summary, "counts": counts, "out": self.out}

    def check_spans(self, seed: int) -> None:
        import calls

        if self.out is None or not os.path.isdir(self.out):
            return
        bad = calls.check_spans(self.spark, self.meta, self.profiles, self.out, seed)
        self.problems.extend(bad)
        if bad:
            self.failed += self.meta["size"]


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the JVM and its workers on the way out
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))

    if not os.path.isdir(os.path.join(ROOT, "content_extractor_spark")):
        _fail("content_extractor_spark/ not found next to perfbench/")
    sys.path[:0] = [HERE, ROOT]
    os.chdir(ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    try:
        import gen
        import probe
        import tracing
    except ImportError as exc:
        _fail(f"cannot import the program: {exc}")

    work = gen.work_dir()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    scratch = os.path.join(work, "runs", run_id)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    meta = gen.inputs(args.workload, args.seed)
    run = Run(meta, gen.profiles(), scratch)
    host = {"nproc": probe.nproc(), "load_before": os.getloadavg(),
            "canary_s": probe.kernel_canary(5 if args.trace else 1)}
    tracer = tracing.Tracer(run_id, os.path.join(work, "eventlogs", run_id)) \
        if args.trace else None

    timed, phases, t0 = [], [], time.perf_counter()

    def phase(name: str) -> None:
        phases.append((name, time.perf_counter() - t0))

    try:
        run.setup()
        run.setup()
        if tracer:  # the untraced reference call, after the same warm-up
            for k in range(WARMUPS):
                run.call(f"warmup-untraced-{k}")
            tracer.untraced_call(run)
        run.setup(tracer.event_log if tracer else None)
        phase("setup")
        for k in range(WARMUPS):
            run.call(f"warmup-{k}")
        phase("warmup")
        if tracer:
            tracer.traced_run(run)
        else:
            t_end = time.perf_counter() + args.seconds
            while not timed or time.perf_counter() < t_end:
                rec = run.call(f"call-{len(timed)}")
                if rec is None:
                    break
                timed.append(rec)
        phase("measured")
        run.check_spans(args.seed)
    finally:
        probe.shutdown(run.spark)
        shutil.rmtree(scratch, ignore_errors=True)
    phase("stopped")
    host["load_after"] = os.getloadavg()

    if tracer:
        metrics = tracer.metrics(run.setups, host, meta)
        units = tracing.PER_LAYER
        tracer.write(os.path.join(work, "traces", f"{run_id}.json"), metrics)
        shutil.rmtree(tracer.event_log, ignore_errors=True)
    else:
        n, med = meta["size"], statistics.median
        metrics = {
            "docs_per_s": med(n / c["wall_s"] for c in timed) if timed else 0.0,
            "cpu_s_per_kdoc": med(c["cpu_s"] * 1000 / n for c in timed) if timed else 0.0,
            "setup_s": med(s + w for s, w in run.setups),
        }
        units = END_TO_END
    result = {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": min(run.failed, run.attempted),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }

    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host, "setups": run.setups, "phases": phases,
              "problems": run.problems,
              "calls": [{k: c[k] for k in ("wall_s", "cpu_s", "jit_cpu_s", "counts")}
                        for c in timed],
              "result": result}
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    for p in run.problems[:20]:
        print(f"CHECK FAILED: {p}")
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={host['nproc']} load={host['load_before'][0]:.2f}->"
          f"{host['load_after'][0]:.2f} canary={host['canary_s']:.3f}s "
          f"timed_calls={len(timed)}")
    if timed:
        c = timed[-1]["counts"]
        print(f"per call: {c['jobs']} Spark jobs, {c['stages']} stages, "
              f"{c['tasks']} tasks")
    print(f"{'failed_frac':40s} {result['failed'] / run.attempted:14.6f} "
          f"({result['failed']}/{run.attempted} documents)")
    for k, v in metrics.items():
        print(f"{k:40s} {v:14.6f} {units[k]}")
    print(json.dumps(result))
    return 0 if not run.problems else 1


if __name__ == "__main__":
    sys.exit(main())
