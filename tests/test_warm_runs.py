"""A warm curation call pays only for its data: constant expression
trees are built once per JVM (``textstats.const_expr``) and the codegen
cache holds a call's generated classes, so a repeated call neither
rebuilds Columns through py4j nor recompiles with Janino."""

import os
import subprocess
import sys

import py4j.java_gateway

from jobs.curate_job import flag_documents, resolve_config, run_curation

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _funnel_input(spark):
    rows = []
    for i in range(40):
        body = " ".join(f"w{i}x{j}" for j in range(30))
        rows.append((i, f"the and of to in {body}", "s0"))
    rows.append((100, rows[0][1], "s0"))            # exact dup of 0
    rows.append((101, "the and of to in", "s0"))    # quality
    rows.append((102, "the spam ham " * 30 + "and of to in", "s0"))
    rows.append((103, rows[0][1] + " tail", "s0"))  # near dup of 0
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    bench = spark.createDataFrame([(rows[5][1],)], "text string")
    return docs, bench


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_curation_call_compiles_nothing(spark, tmp_path):
    """Runs in a session of its own with AQE off, so both calls run one
    physical plan. With AQE on, the join strategy it picks at run time
    can depend on which shuffle stage finished first; a call that takes
    a path no earlier call took compiles that path's classes once."""
    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    docs, bench = _funnel_input(session)
    cfg = resolve_config(["--input", "-", "--output", "-"])
    first = run_curation(session, docs, cfg, benchmark=bench,
                         out_root=str(tmp_path / "a"))
    before = _compiles(session)
    second = run_curation(session, docs, cfg, benchmark=bench,
                          out_root=str(tmp_path / "b"))
    assert _compiles(session) - before == 0
    assert second == first


def test_second_flag_build_makes_few_jvm_calls(spark, monkeypatch):
    from content_extractor_spark.operators import textstats

    calls = [0]
    send = py4j.java_gateway.GatewayClient.send_command

    def counting(self, command, *a, **k):
        # object releases are py4j's garbage collection, not building
        if not command.startswith("m\nd\n"):
            calls[0] += 1
        return send(self, command, *a, **k)

    docs, bench = _funnel_input(spark)
    cfg = resolve_config(["--input", "-", "--output", "-"])
    textstats._CONST_EXPRS.clear()  # the first build starts cold
    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command",
                        counting)
    counts, rows = [], []
    for _ in range(2):
        start = calls[0]
        flagged, cached = flag_documents(docs, cfg, benchmark=bench)
        counts.append(calls[0] - start)
        rows.append(sorted(flagged.collect()))
        cached.unpersist()
    monkeypatch.undo()
    assert counts[1] <= 0.10 * counts[0], counts
    assert rows[0] == rows[1]
    assert {r["drop_reason"] for r in rows[0]} >= {
        None, "exact_dup", "quality", "repetition", "near_dup", "contaminated"}


def test_const_expr_starts_over_for_a_new_gateway(spark, monkeypatch):
    from pyspark import SparkContext

    from content_extractor_spark.operators import textstats

    built = textstats._word_ngrams("text", 3)
    assert textstats._word_ngrams("text", 3) is built
    assert textstats._word_ngrams(text_col="text", n=3) is built
    monkeypatch.setattr(SparkContext, "_gateway", object())
    rebuilt = textstats._word_ngrams("text", 3)
    assert rebuilt is not built
    assert list(textstats._CONST_EXPRS) == [SparkContext._gateway]


_RESTART = r"""
import os
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
from content_extractor_spark.session import get_spark
from content_extractor_spark.operators import curation, dedup_families, textstats

def session():
    s = get_spark(master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.driver.host": "127.0.0.1"})
    s.sparkContext.setLogLevel("ERROR")
    return s

def rows(spark):
    docs = spark.createDataFrame(
        [(i, f"the and of to in w{i % 7} a{i % 3} b c d e f g h i j k "
             f"mail{i}@example.com call +49 30 1234567 bien le la les")
         for i in range(24)], "doc_id long, text string")
    frames = [
        textstats.with_detected_language(docs),
        textstats.line_features(textstats.quality_features(docs)),
        textstats.repetition_features(docs),
        dedup_families.minhash_signatures_df(docs, num_perm=16),
        dedup_families.minhash_lsh_pairs(docs, num_perm=16, num_bands=4),
        curation.train_val_split(curation.pii_scrub(
            curation.normalize_text(docs), text_col="text_norm")),
        curation.decontaminate(docs, docs.limit(2).select("text"), n=8),
    ]
    return [sorted(map(repr, f.collect())) for f in frames]

spark = session()
first = rows(spark)
(gateway, memo), = textstats._CONST_EXPRS.items()
built = dict(memo)
spark.stop()
spark = session()
again = rows(spark)
assert list(textstats._CONST_EXPRS) == [gateway], "a new JVM was started"
assert memo.keys() == built.keys(), "a tree was built again"
assert all(memo[k] is v for k, v in built.items()), "a tree was replaced"
assert again == first, "rows differ after a restart"
spark.stop()
print("ok")
"""


def test_memoized_builders_survive_a_session_restart():
    """``spark.stop()`` then a fresh ``get_spark`` in one process keeps
    the JVM, so the memoized trees are reused and give the same rows."""
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEM="1g")
    done = subprocess.run([sys.executable, "-c", _RESTART], cwd=ROOT, env=env,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().endswith("ok")


def test_default_driver_memory_fits_the_host(spark):
    from content_extractor_spark.session import default_driver_memory

    physical_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**20
    mb = int(default_driver_memory().removesuffix("m"))
    assert mb <= 0.75 * physical_mb and mb <= 20 * 1024
    assert mb == 20 * 1024 or mb > 0.74 * physical_mb
    if not os.environ.get("SPARK_DRIVER_MEM"):
        conf = spark.sparkContext.getConf()
        assert conf.get("spark.driver.memory") == default_driver_memory()
