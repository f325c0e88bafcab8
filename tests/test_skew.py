"""Skew-handling operators: salted aggregation/join equal their naive
counterparts while spreading hot keys."""

import re

from pyspark.sql import functions as F

from content_extractor_spark.operators.skew import hot_keys, salted_agg, salted_join


def _skewed_df(spark, n=2000):
    # Zipf-ish: ~half the rows share one hot key
    return spark.range(n).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 37).cast("string"))
        ).alias("key"),
        F.col("id"),
        (F.col("id") % 100).alias("v"),
    )


def test_salted_agg_equals_plain_groupby(spark):
    df = _skewed_df(spark)
    plain = {
        r["key"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("key")
        .agg(
            F.count("*").alias("n"), F.sum("v").alias("s"),
            F.min("v").alias("mn"), F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        r["key"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_agg(
            df, ["key"],
            {"n": ("count", None), "s": ("sum", "v"),
             "mn": ("min", "v"), "mx": ("max", "v")},
            salt=8, id_col="id",
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    big = _skewed_df(spark, 1000)
    small = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"d{i}") for i in range(37)],
        "key string, label string",
    )
    plain = sorted(
        (r["id"], r["label"]) for r in big.join(small, "key").collect()
    )
    salted = sorted(
        (r["id"], r["label"]) for r in salted_join(big, small, "key", salt=4).collect()
    )
    assert salted == plain


def test_hot_keys_histogram(spark):
    df = _skewed_df(spark, 4000)
    top = hot_keys(df, "key", top_k=3, sample_fraction=1.0).collect()
    assert top[0]["key"] == "hot"
    assert top[0]["sampled_rows"] > top[1]["sampled_rows"]


def test_connected_components(spark):
    from content_extractor_spark.operators.components import (
        connected_components,
        dedup_groups,
    )

    # two chains + an isolated pair: {1-2-3-4}, {10-11}, {7-8}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (8, 7)], "a long, b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}
    groups = {r["comp"]: (r["members"], r["keep"]) for r in dedup_groups(edges).collect()}
    assert groups == {1: (4, 1), 10: (2, 10), 7: (2, 7)}


def test_connected_components_deep_chain(spark):
    from content_extractor_spark.operators.components import connected_components

    # a 12-node path exercises multiple propagation rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    comps = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert set(comps.values()) == {0}
    assert len(comps) == 13


def test_connected_components_empty_edges(spark):
    """Zero-edge input must return an empty frame without hanging —
    guards the Observation-based convergence probe (the changed-count
    sum over an empty checkpointed frame surfaces as None)."""
    from content_extractor_spark.operators.components import (
        connected_components,
    )

    empty = spark.createDataFrame([], "a int, b int")
    assert connected_components(empty).collect() == []


def test_digest_dedup_shapes_absorb_hot_keys(spark):
    """r7 de-skew guard (guide §2.5): the digest-keyed dedup shapes
    must be partial-aggregating (groupBy/min_by), never a window — a
    window over a hot digest ships every raw row to one task and AQE
    cannot split it. One digest carrying ~20k occurrences must come
    back value-correct, and the plan must carry a HashAggregate with
    NO Window node."""
    from content_extractor_spark.operators.dedup_families import (
        dedup_exact,
        repeated_window_spans,
    )
    from content_extractor_spark.plans import plan_report

    # 20k docs sharing one 12-token text (one hot digest), plus 50
    # distinct singleton docs
    hot_text = " ".join(f"w{i}" for i in range(12))
    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"), F.lit(hot_text).alias("text")
    ).unionByName(
        spark.range(50).select(
            (F.col("id") + 100000).alias("doc_id"),
            F.concat(F.lit("unique "), F.col("id").cast("string")).alias("text"),
        )
    )

    flagged = repeated_window_spans(docs, window=12, stride=6)
    rep = plan_report(flagged)
    assert "Window" not in rep["text"], rep["text"][:2000]
    assert "HashAggregate" in rep["text"]
    rows = flagged.collect()
    assert len(rows) == 20000  # singletons (<12 tokens anyway) drop out
    assert all(r["occurrences"] == 20000 for r in rows)

    kept = dedup_exact(docs)
    rep2 = plan_report(kept)
    assert "Window" not in rep2["text"], rep2["text"][:2000]
    assert re.search(r"(Hash|Sort)Aggregate", rep2["text"])
    got = sorted(r["doc_id"] for r in kept.collect())
    assert got == [0] + list(range(100000, 100050))  # min id wins per digest


def test_cdx_digest_dedup_is_aggregate_not_window(spark):
    """Same guard for the crawl-index capture selection: earliest
    (ts, urlkey) capture per digest via min_by partial aggregation."""
    from content_extractor_spark.sources.cdx import cdx_select
    from content_extractor_spark.plans import plan_report

    captures = spark.createDataFrame(
        [
            ("k/a", "20240101000000", "sha1:X", "text/html", 200, "f1", 0, 10, None),
            ("k/b", "20230101000000", "sha1:X", "text/html", 200, "f1", 10, 10, None),
            ("k/c", "20230101000000", "sha1:X", "text/html", 200, "f2", 0, 10, None),
            ("k/d", "20250101000000", "sha1:Y", "text/html", 200, "f2", 10, 10, None),
        ],
        "urlkey string, ts string, digest string, mime string, "
        "status int, filename string, offset long, length long, error string",
    )
    sel = cdx_select(captures)
    rep = plan_report(sel)
    assert "Window" not in rep["text"], rep["text"][:2000]
    got = {r["digest"]: r["urlkey"] for r in sel.collect()}
    # sha1:X ties on ts between k/b and k/c -> urlkey ascending wins
    assert got == {"sha1:X": "k/b", "sha1:Y": "k/d"}


def test_connected_components_mixed_endpoint_types(spark):
    """int and bigint endpoints are cast to their common type (bigint)
    before the adjacency is built; same-typed endpoints get no cast,
    so the curation funnel's plan is unchanged."""
    from content_extractor_spark.operators.components import (
        connected_components,
        with_common_endpoint_type,
    )

    rows = [(1, 2), (2, 3), (10, 11), (3, 1)]
    mixed = spark.createDataFrame(rows, "a int, b bigint")
    cast = with_common_endpoint_type(mixed, "a", "b")
    assert cast.schema.simpleString() == "struct<a:bigint,b:bigint>"
    labels = connected_components(mixed)
    assert labels.schema.simpleString() == "struct<node:bigint,comp:bigint>"
    comps = {r["node"]: r["comp"] for r in labels.collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    same = spark.createDataFrame(rows, "a int, b int")
    assert with_common_endpoint_type(same, "a", "b") is same
    assert {r["node"]: r["comp"]
            for r in connected_components(same).collect()} == comps
