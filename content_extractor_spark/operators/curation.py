"""Training-corpus curation operators: PII scrubbing, benchmark
decontamination, sequence packing, deterministic splits.

All pure Catalyst (JVM-side regex/joins/windows, no Python), each with
a value-exact DuckDB oracle in the driver contract. These are the
standard last-mile steps between a cleaned document set and a training
run.

Scale notes:
  * `pii_scrub` is map-only — regexp_replace fuses into the scan's
    whole-stage codegen; no shuffle.
  * `decontaminate` shuffles doc-shingles against benchmark-shingles —
    a semi join on the shingle hash. The benchmark side is tiny by
    construction (eval sets), so Spark broadcasts it: effectively
    map-only at any corpus size.
  * `pack_sequences` packs WITHIN a shard key (source/bucket), never
    globally: a global orderBy+cumsum is a single-reducer antipattern
    at 10^12 docs, while per-shard packing is embarrassingly parallel
    and what GPT-style pipelines actually do (each worker packs its
    shard).
  * `train_val_split` is a stateless hash — map-only, reproducible
    across engines (md5-derived, not engine-specific hashing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .textstats import _word_ngrams, const_expr, let_bound

# dialect-portable patterns (same semantics in Java regex and RE2)
EMAIL_RE = r"[A-Za-z0-9.+_-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+"
PHONE_RE = r"\+?[0-9][0-9 ()/-]{6,}[0-9]"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# 13-19 digits, optionally space/dash separated (ISO/IEC 7812 PANs)
CARD_RE = r"\b(?:\d[ -]?){12,18}\d\b"
# compact-form IBAN (ISO 13616): country code + 2 check digits + BBAN
IBAN_RE = r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"
# display-form IBAN: the same number written in groups of 4 separated
# by spaces or dashes (the ISO 13616 paper format, how real pages
# print them) — matches the compact form too (separators optional).
# Candidates are NORMALIZED (separators stripped) before the length
# guard + mod-97 fold, so both forms validate identically.
IBAN_SPACED_RE = (
    r"\b[A-Z]{2}[0-9]{2}(?:[ -]?[A-Z0-9]{4}){2,7}(?:[ -]?[A-Z0-9]{1,3})?\b"
)


def _iban_valid(cand: Column) -> Column:
    """ISO 13616 mod-97 check: move the first 4 chars to the end, map
    A-Z to 10-35, and fold digit-by-digit mod 97 (the incremental form
    — the full number exceeds int64); valid iff the remainder is 1.
    Pure Catalyst (sequence + aggregate), no UDF.

    r7 (HOF free-variable rule): the rearranged string and each
    character code are let-bound — free in the fold lambda they would
    re-evaluate the concat/substring chain (over an already
    regexp-normalized candidate) once per CHARACTER per reference."""
    def fold(r):
        def step(acc, i):
            return let_bound(
                F.ascii(F.substring(r, i, F.lit(1))),
                lambda a: F.when(
                    a >= 65, (acc * 100 + (a - 55)) % 97
                ).otherwise((acc * 10 + (a - 48)) % 97),
            )

        idx = F.sequence(F.lit(1), F.length(r))
        return F.aggregate(idx, F.lit(0), step) == 1

    return let_bound(
        F.concat(
            F.substring(cand, 5, F.length(cand)),
            F.substring(cand, 1, F.lit(4)),
        ),
        fold,
    )


def _luhn_valid(cand: Column) -> Column:
    """ISO/IEC 7812 Luhn checksum over a candidate's digits — pure
    Catalyst (reverse + transform + aggregate), no UDF. Digits string
    and per-position digit let-bound (same rule as _iban_valid)."""
    def fold(digits):
        def val(i):
            def dval(d):
                dbl = d * 2
                return F.when(
                    i % 2 == 0, F.when(dbl > 9, dbl - 9).otherwise(dbl)
                ).otherwise(d)

            return let_bound(
                F.substring(digits, i, F.lit(1)).cast("int"), dval
            )

        idx = F.sequence(F.lit(1), F.length(digits))
        total = F.aggregate(
            F.transform(idx, val), F.lit(0), lambda a, x: a + x
        )
        return total % 10 == 0

    return let_bound(F.reverse(F.regexp_replace(cand, r"[^0-9]", "")), fold)


def pii_scrub(
    df: DataFrame, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """Redact emails, mod-97-valid IBANs, IPv4 addresses, Luhn-valid
    payment-card numbers and phone-ish digit runs.

    Order matters: emails first (else the phone pattern eats digit
    runs inside addresses); IBANs and cards BEFORE phones, validated
    by their real checksums (ISO 13616 mod-97, ISO/IEC 7812 Luhn) so a
    valid number becomes <IBAN>/<CC> while a random digit run falls
    through to the phone scrubber — only checksum-valid numbers are
    the high-severity leak. IBAN and card candidates match BOTH the
    compact and the grouped display form (spaces/dashes), normalized
    before their checksums. Counts are taken BEFORE each redaction.
    All steps are Catalyst expressions — both checksums run as
    per-candidate transform/aggregate folds, not UDFs.
    """
    return df.select("*", *_pii_columns(text_col, out_col))


@const_expr
def _pii_columns(text_col: str, out_col: str):
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    step1 = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")

    def _iban_ok(cand):
        # norm let-bound: referenced free it would re-run the
        # separator-stripping regexp once per reference (and once per
        # checksum fold step via _iban_valid's own binding)
        return let_bound(
            F.regexp_replace(cand, r"[ -]", ""),
            lambda norm: (
                (F.length(norm) >= 15)
                & (F.length(norm) <= 34)
                & _iban_valid(norm)
            ),
        )

    ibans = F.filter(
        F.regexp_extract_all(step1, F.lit(IBAN_SPACED_RE), F.lit(0)),
        _iban_ok,
    )
    n_ibans = F.size(ibans)
    step1b = F.aggregate(
        F.array_distinct(ibans),
        step1,
        lambda acc, c: F.replace(acc, c, F.lit("<IBAN>")),
    )
    n_ips = F.size(F.regexp_extract_all(step1b, F.lit(IPV4_RE), F.lit(0)))
    step2 = F.regexp_replace(step1b, IPV4_RE, "<IP>")
    cards = F.filter(
        F.regexp_extract_all(step2, F.lit(CARD_RE), F.lit(0)), _luhn_valid
    )
    n_cards = F.size(cards)
    step3 = F.aggregate(
        F.array_distinct(cards),
        step2,
        lambda acc, c: F.replace(acc, c, F.lit("<CC>")),
    )
    n_phones = F.size(F.regexp_extract_all(step3, F.lit(PHONE_RE), F.lit(0)))
    step4 = F.regexp_replace(step3, PHONE_RE, "<PHONE>")
    return (
        n_emails.cast("int").alias("n_emails"),
        n_ibans.cast("int").alias("n_ibans"),
        n_ips.cast("int").alias("n_ips"),
        n_cards.cast("int").alias("n_cards"),
        n_phones.cast("int").alias("n_phones"),
        step4.alias(out_col),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Flag documents sharing any word n-gram with a benchmark set.

    The standard eval-decontamination pass (n=8..13 in practice): a doc
    that contains any benchmark n-gram verbatim is `contaminated` and
    must be dropped before training. Benchmark shingles are distinct
    and small → broadcast semi join; doc shingles explode map-side.
    """
    # word n-grams deliberately NOT array_distinct: per-doc duplicate
    # shingles cannot change the output (the benchmark side is
    # .distinct()ed after explode; doc-side hits are .distinct()ed on
    # the id), and array_distinct on a string array is the measured hot
    # spot (sf1.0 bench side: 3.5s with it, 0.6s without — it is O(n²)
    # with per-element UTF8String comparisons)
    doc_sh = docs.select(
        F.col(id_col), F.explode(_word_ngrams(text_col, n)).alias("_sh")
    )
    bench_sh = benchmark.select(
        F.explode(_word_ngrams(text_col, n)).alias("_sh")
    ).distinct()
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "_sh", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("contaminated"), F.lit(False)).alias("contaminated"),
        )
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Contiguous sequence packing within each shard.

    Documents are laid end-to-end in (shard, id) order; a document
    belongs to the pack in which it STARTS (floor(preceding_tokens /
    seq_len)). Returns one row per (shard, pack_id) with doc/token
    counts — the unit a trainer would materialize as one example.

    Shard cardinality bounds parallelism: the window sorts within each
    shard, so at 10^12 docs pass a FINE shard key — e.g.
    ``df.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(4096)))``
    — rather than a handful of coarse source labels; packing semantics
    stay deterministic (contiguous by id within shard) at any grain.
    """
    # null-safe: size(split(NULL)) would yield -1 and corrupt every
    # cumulative sum after the null row
    t = F.coalesce(F.trim(F.col(text_col)), F.lit(""))
    toks = F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_pack = df.select(
        F.col(shard_col), F.col(id_col), toks.alias("_tok")
    ).withColumn(
        "pack_id",
        F.floor((F.sum("_tok").over(w) - F.col("_tok")) / seq_len).cast("int"),
    )
    return with_pack.groupBy(shard_col, "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").cast("bigint").alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def train_val_split(
    df: DataFrame,
    id_col: str = "doc_id",
    val_pct: int = 5,
) -> DataFrame:
    """Deterministic, engine-portable split by md5(id) — stable across
    reruns, engines and cluster sizes (never rand(), never a sample)."""
    return df.withColumn("split", _split_column(id_col, val_pct))


@const_expr
def _split_column(id_col: str, val_pct: int) -> Column:
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10
    ).cast("bigint")
    return F.when(h % 100 < 100 - val_pct, F.lit("train")).otherwise(F.lit("val"))


def stratified_sample(
    df: DataFrame,
    group_col: str = "lang",
    id_col: str = "doc_id",
    permille: int = 100,
    per_group_cap: int | None = None,
) -> DataFrame:
    """Deterministic stratified sampling: keep ~permille/1000 of each
    group, selected by an md5 hash of the id (never rand() — re-runs
    and engines agree row-for-row).

    Map-only (the hash predicate fuses into the scan) unless
    `per_group_cap` is set, which adds one window over the group to
    hard-cap each stratum (hash-ordered, so still deterministic).
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10
    ).cast("bigint")
    out = df.where(h % 1000 < permille)
    if per_group_cap is not None:
        w = Window.partitionBy(F.col(group_col)).orderBy(
            (h % 1000).asc(), F.col(id_col).asc()
        )
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= per_group_cap)
            .drop("_rn")
        )
    return out


# portable normalization patterns — escape-only (no raw control chars),
# identical semantics in Java regex (Spark) and RE2 (DuckDB)
_CURLY_SINGLE = "[\u2018\u2019\u201a\u2032]"
_CURLY_DOUBLE = "[\u201c\u201d\u201e\u2033]"
_DASHES = "[\u2013\u2014\u2212]"
_NBSP = "\u00a0"
_CONTROLS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    lowercase: bool = False,
) -> DataFrame:
    """Canonical text cleanup for training corpora: curly quotes ->
    ASCII, en/em-dash -> hyphen, NBSP -> space, control chars stripped,
    whitespace collapsed, trimmed. Optionally lowercased.

    Map-only regexp_replace chain — fuses into the scan's whole-stage
    codegen, zero shuffle; every pattern is dialect-portable so the
    DuckDB oracle reproduces the output byte-for-byte.
    """
    return df.withColumn(out_col, _normalized(text_col, lowercase))


@const_expr
def _normalized(text_col: str, lowercase: bool) -> Column:
    c = F.col(text_col)
    c = F.regexp_replace(c, _CURLY_SINGLE, "\'")
    c = F.regexp_replace(c, _CURLY_DOUBLE, '"')
    c = F.regexp_replace(c, _DASHES, "-")
    c = F.regexp_replace(c, _NBSP, " ")
    c = F.regexp_replace(c, _CONTROLS, "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return c


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CDC between two corpus snapshots: (id, change) where change in
    {added, removed, changed, unchanged} by content digest.

    One full outer join on the id — the incremental-crawl primitive
    that decides which documents re-enter the pipeline (the reference's
    re-analysis phase S3/O7 compares ETags per url; this is the
    corpus-level equivalent for snapshot inputs).

    Presence is tracked with explicit flags, NOT digest nullness: a row
    whose text is NULL (a failed extraction) still EXISTS in its
    snapshot, and md5(NULL) = NULL must not masquerade as absence.
    """
    o = old.select(
        F.col(id_col).alias("id"),
        F.lit(True).alias("_in_old"),
        F.md5(F.col(text_col)).alias("_od"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.lit(True).alias("_in_new"),
        F.md5(F.col(text_col)).alias("_nd"),
    )
    joined = o.join(n, "id", "full_outer")
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(F.col("_od").eqNullSafe(F.col("_nd")), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(F.col("id").alias(id_col), change.alias("change"))


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "zlib_ratio",
    level: int = 6,
) -> DataFrame:
    """Gopher/RefinedWeb-style quality signal: zlib-compressed size /
    raw size (low = repetitive boilerplate, ~1 = high-entropy noise).

    Needs real compression, so this is an Arrow-batched pandas UDF (the
    approved slow path) — still map-only, no shuffle. Deterministic for
    a fixed zlib level; value-pinned by pytest rather than a SQL oracle
    (DuckDB cannot zlib).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ratio(texts):
        import zlib

        import pandas as pd

        out = []
        for t in texts:
            if t is None or len(t) == 0:
                out.append(None)
                continue
            raw = t.encode("utf-8", "replace")
            out.append(round(len(zlib.compress(raw, level)) / len(raw), 6))
        return pd.Series(out, dtype="float64")

    return df.withColumn(out_col, ratio(F.col(text_col)))


def chunk_documents(
    df: DataFrame,
    target_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-window token chunking (training/RAG segment prep): each
    document becomes consecutive `target_tokens`-token chunks, the last
    chunk keeping the tail. Deterministic: chunk k = tokens
    [k*target, (k+1)*target).

    Pure array expressions (split/sequence/slice/array_join) + one
    explode — MAP-ONLY, zero shuffle, so it runs at scan speed on
    10^12-row tables; no window function and no per-doc sort.

    Tokens are the NON-EMPTY \\s+-separated pieces (so edge tabs and
    newlines never create phantom tokens); NULL or whitespace-only
    documents produce NO chunks.
    """
    toks = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
        lambda x: x != "",
    )

    def gen(t):
        # let_bound: free-variable toks in the lambda would re-split
        # and re-filter the text once per chunk
        n = F.size(t)
        nchunks = F.ceil(n / F.lit(target_tokens)).cast("int")
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda i: F.struct(
                    i.cast("int").alias("chunk_idx"),
                    F.array_join(
                        F.slice(t, i * target_tokens + 1, target_tokens), " "
                    ).alias("chunk_text"),
                    F.least(n - i * target_tokens, F.lit(target_tokens))
                    .cast("int").alias("n_tokens"),
                ),
            ),
        ).otherwise(F.array().cast(
            "array<struct<chunk_idx:int,chunk_text:string,n_tokens:int>>"
        ))

    chunks = let_bound(toks, gen)
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, "c.chunk_idx", "c.chunk_text", "c.n_tokens"
    )


def weighted_source_sample(
    df: DataFrame,
    weights: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    weight_col: str = "permille",
) -> DataFrame:
    """Training-mix sampling: keep ~weights[source]/1000 of each
    source's documents, deterministically (md5 of the id — never
    rand()). Sources missing from the weights table are dropped (weight
    0), the usual semantics of an explicit mixing recipe.

    The weights table is a tiny dim → broadcast join; the hash
    predicate evaluates map-side, so the whole operator is one
    broadcast join with no shuffle of the corpus.
    """
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10
    ).cast("bigint")
    w = weights.select(
        F.col(source_col).alias("_w_src"),
        F.col(weight_col).alias("_w_permille"),
    )
    return (
        df.join(F.broadcast(w), F.col(source_col) == F.col("_w_src"), "inner")
        .where(h % 1000 < F.col("_w_permille"))
        .drop("_w_src", "_w_permille")
    )
