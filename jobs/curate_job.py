"""spark-submit entry point for the training-data curation funnel.

Composes the library's curation operators into the standard
pretraining-corpus pipeline, one deployable job:

    language ID -> quality score -> [trained linear quality filter,
    behind --ml-quality-weights] -> repetition filter -> Gopher
    format caps (bullet/ellipsis lines) -> exact dedup -> MinHash-LSH
    near-dup clustering -> eval-set decontamination -> normalization
    -> PII scrub -> train/val split -> parquet

Usage (cluster):
    zip -r pipeline.zip content_extractor_spark/
    spark-submit --py-files pipeline.zip jobs/curate_job.py \
        --input  <parquet/iceberg of documents(doc_id, text, source, ...)> \
        --output <output root: curated/ metrics.json> \
        [--benchmark <parquet of eval docs to decontaminate against>] \
        [--langs en,de] [--min-quality 0.5] [--max-dup-frac 0.3] \
        [--minhash-perms 64] [--minhash-bands 16] [--val-pct 5]

Env-first with CLI fallback (CURATE_INPUT / CURATE_OUTPUT /
CURATE_BENCHMARK / CURATE_LANGS / ...), mirroring jobs/extract_job.py.

Design for 10^12 documents:
  * ONE pass assigns every row a priority-ordered `drop_reason`
    (lang > quality > ml_quality > repetition > format > exact_dup >
    near_dup > contaminated); the funnel metrics ride the write action as
    OBSERVATION metrics (`DataFrame.observe`) — zero extra jobs, no
    per-stage count() actions.
  * the map-only stages (language ID, quality, repetition inputs,
    normalization, scrubbing, split) fuse into the scan's whole-stage
    codegen. The wide shuffles are the exact-dedup digest window, the
    repetition n-gram aggregates and their join-back, the LSH band
    join, the CC label propagation, and the near-dup and
    decontamination join-backs — all keyed on uniform hashes or doc
    ids. With the eager checkpoints (LSH bands, CC adjacency, one per
    CC round) a call is several dozen Spark jobs: 42 on the
    500-document perfbench curate_funnel input.
  * a warm call pays only for its data: the constant expression trees
    are built once per JVM (``textstats.const_expr``) and
    ``session.get_spark`` sizes the codegen cache to hold a call's
    generated classes, so a repeated call neither rebuilds Columns
    through py4j nor recompiles them.
  * exact dedup keeps the FIRST surviving row per content digest:
    the digest window orders early-dropped rows last, so a
    quality-rejected copy never shadows a good one.
  * near-dup clustering runs only on rows that survived the earlier
    stages (no wasted LSH work on rows already gone); the flagged
    frame is persisted across that branch and unpersisted after.
  * deterministic end to end: md5-hash sampling/splits, parameterized
    thresholds, no rand()/wall-clock anywhere — identical output on
    re-run and across cluster sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from content_extractor_spark.operators.textstats import const_expr  # noqa: E402


def _env(name: str, cast=str):
    raw = os.environ.get(name)
    if raw is None or raw == "":
        return None
    return cast(raw)


def resolve_config(argv=None, env=None):
    """Env-first, CLI-fallback parameter resolution (same contract as
    jobs/extract_job.py)."""
    if env is not None:  # test hook
        real, os.environ = os.environ, env  # type: ignore[assignment]
    try:
        p = argparse.ArgumentParser(description=__doc__)
        p.add_argument("--input", default=None)
        p.add_argument("--output", default=None)
        p.add_argument("--benchmark", default=None,
                       help="eval-set path for decontamination (optional)")
        p.add_argument("--langs", default=None,
                       help="comma-separated allow-list; empty = keep all")
        p.add_argument("--min-quality", type=float, default=0.5)
        p.add_argument("--ml-quality-weights", default=None,
                       help="JSON file {weights: [...], bias: x} enabling "
                            "the trained (hashed bag-of-words linear) "
                            "quality filter stage")
        p.add_argument("--ml-min-score", type=float, default=0.5)
        p.add_argument("--max-dup-frac", type=float, default=0.3,
                       help="max duplicated-3-gram character fraction")
        p.add_argument("--max-bullet-frac", type=float, default=0.9,
                       help="Gopher cap: max fraction of bulleted lines")
        p.add_argument("--max-ellipsis-frac", type=float, default=0.3,
                       help="Gopher cap: max fraction of ellipsis lines")
        p.add_argument("--minhash-perms", type=int, default=64)
        p.add_argument("--minhash-bands", type=int, default=16)
        p.add_argument("--max-bucket", type=int, default=256,
                       help="LSH bucket cap (hot-bucket truncation)")
        p.add_argument("--decontam-ngram", type=int, default=8)
        p.add_argument("--val-pct", type=int, default=5)
        args = p.parse_args(argv)

        def take(attr: str, var: str, cast=str) -> None:
            try:
                v = _env(var, cast)
            except ValueError:
                p.error(f"env {var} is not a valid {cast.__name__}")
            if v is not None:
                setattr(args, attr, v)

        take("input", "CURATE_INPUT")
        take("output", "CURATE_OUTPUT")
        take("benchmark", "CURATE_BENCHMARK")
        take("langs", "CURATE_LANGS")
        take("min_quality", "CURATE_MIN_QUALITY", float)
        take("ml_quality_weights", "CURATE_ML_QUALITY_WEIGHTS")
        take("ml_min_score", "CURATE_ML_MIN_SCORE", float)
        take("max_dup_frac", "CURATE_MAX_DUP_FRAC", float)
        take("max_bullet_frac", "CURATE_MAX_BULLET_FRAC", float)
        take("max_ellipsis_frac", "CURATE_MAX_ELLIPSIS_FRAC", float)
        take("minhash_perms", "CURATE_MINHASH_PERMS", int)
        take("minhash_bands", "CURATE_MINHASH_BANDS", int)
        take("max_bucket", "CURATE_MAX_BUCKET", int)
        take("decontam_ngram", "CURATE_DECONTAM_NGRAM", int)
        take("val_pct", "CURATE_VAL_PCT", int)
        missing = [k for k in ("input", "output") if not getattr(args, k)]
        if missing:
            p.error(
                "missing required parameters (flag or env): "
                + ", ".join(f"--{m}" for m in missing)
            )
        return args
    finally:
        if env is not None:
            os.environ = real  # type: ignore[assignment]


DROP_REASONS = (
    "lang", "quality", "ml_quality", "repetition", "format", "exact_dup",
    "near_dup", "contaminated",
)


def flag_documents(docs, cfg, benchmark=None):
    """Assign every row its priority-ordered `drop_reason` (NULL =
    keep). Single linear DAG except the near-dup branch, which runs
    only over rows surviving the earlier stages. The expression trees
    are built once per JVM (``_flag_columns``), so a repeated call
    pays py4j round trips only for its DataFrame operations.

    Returns ``(flagged_df, cached_df)`` — the caller must unpersist
    ``cached_df`` (the pre-near-dup intermediate this function caches)
    after its terminal action."""
    from content_extractor_spark.operators.components import (
        connected_components,
    )
    from content_extractor_spark.operators.curation import decontaminate
    from content_extractor_spark.operators.dedup_families import (
        minhash_lsh_pairs,
    )
    from content_extractor_spark.operators.textstats import (
        line_features,
        linear_quality_score,
        quality_features,
        repetition_features,
        with_detected_language,
    )

    langs = (
        [s.strip() for s in cfg.langs.split(",") if s.strip()]
        if cfg.langs else []
    )
    # optional trained-filter stage: hashed bag-of-words linear scorer
    # with driver-loaded literal weights (map-only; see
    # textstats.linear_quality_score)
    ml = None
    if getattr(cfg, "ml_quality_weights", None):
        with open(cfg.ml_quality_weights) as fh:
            m = json.load(fh)
        ml = (m["weights"], float(m.get("bias", 0.0)))

    # r7 (guide §2.5/§6): a single-file (single-row-group) input — the
    # sf parquet tables, a small re-read batch — gives the scan ONE
    # split, serialising every map-side funnel stage (language ladder,
    # quality features, ngram explode) onto one core. Widen ONLY when
    # the input is narrower than the session's parallelism; a
    # well-partitioned 100 TB corpus already exceeds it and must not
    # be shuffled down.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)

    # stacked-projection language ID: same values as detect_language,
    # one tokenize/window eval per row instead of 22/288 (r7 perf)
    df = with_detected_language(docs)
    df = line_features(quality_features(df))
    if ml is not None:
        df = linear_quality_score(df, ml[0], ml[1])
    rep = repetition_features(
        docs.select("doc_id", "text")
    ).select("doc_id", "dup_ngram_char_frac")
    df = df.join(rep, "doc_id")

    c = _flag_columns(
        tuple(langs), cfg.min_quality,
        cfg.ml_min_score if ml is not None else None,
        cfg.max_dup_frac, cfg.max_bullet_frac, cfg.max_ellipsis_frac,
    )
    df = df.withColumn("_early", c["early"])

    # exact dedup: first SURVIVING row per digest wins (early-dropped
    # copies sort last, so they never shadow a keepable one)
    df = df.withColumn("_rn", c["digest_rank"])
    df = df.withColumn("drop_reason", c["exact_dup"]).drop("_early", "_rn")

    # near-dup: LSH pairs + CC over the current survivors only.
    # Keep a handle on the EXACT frame that is persisted: df rebinds
    # through the joins below, so unpersisting the returned frame would
    # silently miss this cache and leak it for the session lifetime.
    cached = df.persist()
    df = cached
    surv = df.where(c["kept"]).select("doc_id", "text")
    # checkpoint_banded: the pair self-join otherwise runs the whole
    # signature pipeline (shingle explode over full text, 16 MIN
    # aggregates, band hashing) twice over the survivor set; the
    # banded frame is (id, band_idx, band_hash) — materializing those
    # narrow rows beats recomputing the text-heavy subtree at any
    # corpus size (A/B at sf0.1: funnel 8.8-10.1 -> 7.6-7.8 s,
    # metrics identical)
    pairs = minhash_lsh_pairs(
        surv, num_perm=cfg.minhash_perms, num_bands=cfg.minhash_bands,
        max_bucket=cfg.max_bucket, checkpoint_banded=True,
    )
    losers = (
        connected_components(pairs)
        .where(c["not_root"])
        .select(c["node_id"])
        .withColumn("_near_dup", c["true"])
    )
    df = df.join(losers, "doc_id", "left").withColumn(
        "drop_reason", c["near_dup"]
    ).drop("_near_dup")

    # decontamination: any shared word-n-gram with the benchmark
    # (broadcast semi join inside the operator) over current survivors
    if benchmark is not None:
        dirty = (
            decontaminate(
                df.where(c["kept"]).select("doc_id", "text"),
                benchmark.select("text"),
                n=cfg.decontam_ngram,
            )
            .where("contaminated")
            .select("doc_id")
            .withColumn("_contam", c["true"])
        )
        df = df.join(dirty, "doc_id", "left").withColumn(
            "drop_reason", c["contam"]
        ).drop("_contam")
    return df, cached


@const_expr
def _flag_columns(langs, min_quality, ml_min_score, max_dup_frac,
                  max_bullet_frac, max_ellipsis_frac) -> dict:
    """The constant expressions of :func:`flag_documents`; the ML
    quality stage is on when ``ml_min_score`` is not None."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    early = F.when(
        ~F.col("lang_detected").isin(list(langs)) if langs else F.lit(False),
        F.lit("lang"),
    ).when(
        F.col("q_score") < min_quality, F.lit("quality")
    )
    if ml_min_score is not None:
        early = early.when(
            F.col("ml_q_score") < ml_min_score, F.lit("ml_quality")
        )
    early = early.when(
        F.col("dup_ngram_char_frac") > max_dup_frac, F.lit("repetition")
    ).when(
        # Gopher format caps: mostly-bulleted or ellipsis-heavy pages
        # are list/teaser chrome, not prose
        (F.col("bullet_line_frac") > max_bullet_frac)
        | (F.col("ellipsis_line_frac") > max_ellipsis_frac),
        F.lit("format"),
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy(
        F.col("_early").isNotNull().cast("int").asc(), F.col("doc_id").asc()
    )

    def unless_dropped(flag, reason):
        return F.coalesce(
            F.col("drop_reason"), F.when(F.col(flag), F.lit(reason))
        )

    return {
        "early": early,
        "digest_rank": F.row_number().over(w),
        "exact_dup": F.coalesce(
            F.col("_early"), F.when(F.col("_rn") > 1, F.lit("exact_dup"))
        ),
        "kept": F.col("drop_reason").isNull(),
        "not_root": F.col("node") != F.col("comp"),
        "node_id": F.col("node").alias("doc_id"),
        "true": F.lit(True),
        "near_dup": unless_dropped("_near_dup", "near_dup"),
        "contam": unless_dropped("_contam", "contaminated"),
    }


def run_curation(spark, docs, cfg, benchmark=None, out_root=None,
                 write_mode="overwrite", curated_path=None):
    """Flag -> filter -> normalize -> scrub -> split -> write, with the
    funnel counted as observation metrics on the single write action.
    ``curated_path`` overrides the output directory (the streaming
    micro-batch form writes each batch to its own
    ``ingest_batch=<id>`` subdirectory)."""
    from pyspark.sql import Observation

    from content_extractor_spark.operators.curation import (
        normalize_text,
        pii_scrub,
        train_val_split,
    )

    flagged, cached = flag_documents(docs, cfg, benchmark=benchmark)
    obs = Observation("curation_funnel")
    aggs, kept = _funnel_columns()
    observed = flagged.observe(obs, *aggs)
    curated = observed.where(kept)
    curated = normalize_text(curated)
    curated = pii_scrub(curated, text_col="text_norm")
    curated = train_val_split(curated, val_pct=cfg.val_pct)
    out_cols = [
        c for c in docs.columns if c not in ("text",)
    ] + ["lang_detected", "q_score", "text_norm", "scrubbed", "split"]
    out_path = curated_path or f"{out_root}/curated"
    (
        curated.select(*out_cols)
        .write.mode(write_mode)
        .partitionBy("split")
        .parquet(out_path)
    )
    # sums over zero rows surface as NULL — normalize so the metrics
    # JSON carries clean zeros (empty input is a no-crash no-op)
    metrics = {k: (v if v is not None else 0) for k, v in obs.get.items()}
    metrics["kept"] = metrics["total"] - sum(
        metrics[f"drop_{r}"] for r in DROP_REASONS
    )
    cached.unpersist()
    return metrics


@const_expr
def _funnel_columns():
    """``(funnel observation aggregates, keep predicate)``."""
    from pyspark.sql import functions as F

    aggs = (F.count(F.lit(1)).alias("total"),) + tuple(
        F.sum((F.col("drop_reason") == r).cast("long")).alias(f"drop_{r}")
        for r in DROP_REASONS
    )
    return aggs, F.col("drop_reason").isNull()


def run_curation_stream(
    spark, input_dir, cfg, out_root, checkpoint, benchmark=None
):
    """Continuous curation: documents stream in (file source) and each
    micro-batch runs the SAME batch funnel, with exact dedup extended
    ACROSS batches via a persistent digest ledger — a document whose
    md5(text) was processed in ANY earlier batch is dropped before the
    funnel (first writer wins, the streaming analog of the batch
    first-surviving-row rule).

    Exactly-once via the orphan-batch pattern (same contract as
    ``incremental_warc_ingest``): every per-batch artifact — curated
    rows, metrics row, seen digests — lands in its own
    ``ingest_batch=<id>`` subdirectory, and the batch id registers in
    ``{out_root}/batch_ledger`` LAST. A crash before the ledger append
    leaves orphan directories that the next start deletes before the
    checkpoint replays the batch; a replay after the ledger append is
    skipped by the ledger check. foreachBatch executes serially within
    a run, so the ledger read-then-append is race-free. A store
    written by the pre-batch-layout version is folded into
    ``ingest_batch=legacy`` once at startup.
    """
    from pyspark.sql import functions as F

    from content_extractor_spark.sources.warc import (
        drop_orphan_batches,
        migrate_flat_store,
    )

    curated_path = f"{out_root}/curated"
    seen_path = f"{out_root}/seen_digests"
    metrics_path = f"{out_root}/metrics"
    ledger_path = f"{out_root}/batch_ledger"
    schema = spark.read.parquet(input_dir).schema

    def committed_batches(s):
        try:
            return {r["batch"] for r in s.read.parquet(ledger_path).collect()}
        except Exception:  # first run: no ledger yet
            return set()

    done = committed_batches(spark)
    for p in (curated_path, seen_path, metrics_path):
        migrate_flat_store(spark, p)
        drop_orphan_batches(spark, p, done | {"legacy"})

    def sink(batch_df, batch_id):
        s = batch_df.sparkSession
        bid = str(batch_id)
        if bid in committed_batches(s):
            return  # checkpoint replay of a fully committed batch
        total_in = batch_df.count()
        if total_in == 0:
            return
        keyed = batch_df.withColumn("_digest", F.md5(F.col("text")))
        try:
            seen = s.read.parquet(seen_path).select("_digest")
            fresh = keyed.join(seen, "_digest", "left_anti")
        except Exception:  # first batch: no digests yet
            fresh = keyed
        fresh = fresh.localCheckpoint(eager=True)  # pin the anti-join result
        m = run_curation(
            s, fresh.drop("_digest"), cfg, benchmark=benchmark,
            out_root=out_root, write_mode="overwrite",
            curated_path=f"{curated_path}/ingest_batch={bid}",
        )
        m["drop_seen"] = total_in - m["total"]
        m["batch_id"] = batch_id
        s.createDataFrame([tuple(m[k] for k in sorted(m))],
                          ", ".join(f"{k} long" for k in sorted(m))
                          ).write.mode("overwrite").parquet(
            f"{metrics_path}/ingest_batch={bid}"
        )
        fresh.select("_digest").distinct().write.mode("overwrite").parquet(
            f"{seen_path}/ingest_batch={bid}"
        )
        # register the batch LAST — until this lands, everything above
        # is an orphan directory the next start deletes and regenerates
        s.createDataFrame(
            [(bid, "done")], "batch string, status string"
        ).write.mode("append").parquet(ledger_path)

    q = (
        spark.readStream.schema(schema).format("parquet").load(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
    q.awaitTermination()


def main(argv=None):
    cfg = resolve_config(argv)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    from content_extractor_spark.session import get_spark

    spark = get_spark(app_name="curate-job")
    docs = spark.read.parquet(cfg.input)
    benchmark = (
        spark.read.parquet(cfg.benchmark) if cfg.benchmark else None
    )
    metrics = run_curation(
        spark, docs, cfg, benchmark=benchmark, out_root=cfg.output
    )
    os.makedirs(cfg.output, exist_ok=True)
    with open(os.path.join(cfg.output, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    print(json.dumps(metrics, sort_keys=True))


if __name__ == "__main__":
    main()
