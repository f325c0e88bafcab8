"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (JVM-side, whole-stage codegen, no
Python in the hot path): language ID (80 languages — script ladder +
stopword markers + char-3-gram profiles), quality scoring
(length/punct/stopword ratios), token counting (whitespace + BPE-ish
regex), and rolling-hash document fingerprints.

Each operator is deliberately expressible in ANSI SQL too, so the
DuckDB oracle can check it value-for-value (driver contract).
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword marker sets (deterministic, oracle-friendly);
# dict order IS the tie-break order (earlier language wins equal hit counts)
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "nicht"],
    "fr": ["le", "la", "les", "et", "des"],
    "es": ["el", "los", "las", "una", "por"],
    "it": ["che", "della", "anche", "sono", "gli"],
    "pt": ["não", "uma", "são", "você", "também"],
    "nl": ["het", "een", "niet", "zijn", "voor"],
    "ru": ["и", "не", "на", "что", "это"],
    "pl": ["się", "jest", "oraz", "czy", "dla"],
    "sv": ["och", "att", "som", "är", "ett"],
    "da": ["og", "til", "af", "er", "ikke"],
}

# CJK script detection ranges — checked BEFORE the marker ladder.
# Presence of kana is decisive for Japanese (Chinese never uses kana);
# hangul syllables for Korean; han ideographs without kana -> Chinese.
KANA_RE = "[぀-ヿ]"  # hiragana U+3040-309F + katakana U+30A0-30FF
HANGUL_RE = "[가-힣]"  # hangul syllables
HAN_RE = "[一-鿿]"  # CJK unified ideographs
# union of the three — a single guard scan so Latin documents pay ONE
# regex pass instead of three before falling to the marker ladder
CJK_ANY_RE = "[぀-ヿ가-힣一-鿿]"

# ---------------------------------------------------------------------------
# Script-decisive tier: (lang, pattern), checked IN ORDER inside the
# non-Latin branch. Patterns are plain character classes of literal
# chars — valid in BOTH Java regex (Spark rlike) and RE2 (the DuckDB
# oracle), so one table generates both sides and they cannot drift.
# Within a script family the language-specific letters come first and
# the family block is the default (ur's retroflex set before fa's
# Persian additions before generic Arabic; uk/sr/bg letters before the
# Cyrillic default ru; Marathi's retroflex ḷa before the Devanagari
# default hi). The tier engages only when the ID window carries at
# least SCRIPT_MIN_CHARS non-Latin script chars (r6) — a stray symbol
# (Greek π in an English page, one emoji-adjacent kana) no longer
# flips the call, while any real script text clears the bar; within
# the tier, presence per ladder pattern is decisive and the fixed
# order breaks mixed-script ties. fastText-style weighted scoring
# would soften this further but costs a model; documented trade.
# ---------------------------------------------------------------------------
SCRIPT_MIN_CHARS = 2
SCRIPT_LADDER = [
    ("ja", KANA_RE),
    ("ko", HANGUL_RE),
    ("zh", HAN_RE),
    # kk first among Cyrillic: Kazakh also writes і (Ukrainian's
    # letter), so its own қ/ғ/ң/ұ/ә/һ must win before the uk check
    ("kk", "[қғңұәһ"
           "ҚҒҢҰӘҺ]"),
    ("be", "[ўЎ]"),  # short u — Belarusian-only in Cyrillic
    ("uk", "[іїєґІЇЄҐ]"),
    ("mk", "[ѓќѕЃЌЅ]"),  # gje/kje/dze — Macedonian-only
    ("sr", "[јђћџљњ"
           "ЈЂЋЏЉЊ]"),
    ("mn", "[өүӨҮ]"),  # after kk, which also uses ө/ү
    ("bg", "[ъЪ][тТ]"),  # -ът suffix; not Russian
    ("ru", "[Ѐ-ӿ]"),
    ("el", "[Ͱ-Ͽἀ-῿]"),
    ("he", "[֐-׿]"),
    ("ur", "[ٹڈڑےں]"),
    ("fa", "[گچپژ]"),
    ("ar", "[؀-ۿ]"),
    ("mr", "[ळ]"),  # retroflex ḷa — Marathi-distinctive
    ("hi", "[ऀ-ॿ]"),
    ("bn", "[ঀ-৿]"),
    ("pa", "[਀-੿]"),
    ("gu", "[઀-૿]"),
    ("or", "[଀-୿]"),
    ("ta", "[஀-௿]"),
    ("te", "[ఀ-౿]"),
    ("kn", "[ಀ-೿]"),
    ("ml", "[ഀ-ൿ]"),
    ("si", "[඀-෿]"),
    ("th", "[฀-๿]"),
    ("lo", "[຀-໿]"),
    ("my", "[က-႟]"),
    ("ka", "[Ⴀ-ჿ]"),
    ("hy", "[԰-֏]"),
    ("km", "[ក-៿]"),
    ("am", "[ሀ-፿]"),
]

# one guard scan: union of every script block above — a Latin document
# pays exactly ONE regex pass before the marker/trigram tiers
NONLATIN_ANY_RE = (
    "[぀-ヿ가-힣一-鿿"
    "Ѐ-ӿͰ-Ͽἀ-῿֐-׿"
    "؀-ۿऀ-ॿঀ-৿਀-੿"
    "઀-૿଀-୿஀-௿ఀ-౿"
    "ಀ-೿ഀ-ൿ඀-෿฀-๿"
    "຀-໿က-႟Ⴀ-ჿ԰-֏"
    "ក-៿ሀ-፿]"
)

# ---------------------------------------------------------------------------
# Latin tier 2: hand-rolled char-3-gram profiles (the fastText-style
# char-n-gram feature idea with EXPLICIT literal profiles instead of a
# hashed learned table — deterministic, no model download, and the
# DuckDB oracle regenerates the exact scorer from this dict). Scored
# only when the tier-1 marker ladder finds zero hits; presence counts
# of DISTINCT profile grams in the first TRIGRAM_WINDOW chars, argmax
# with earliest-dict-order tie-break, below TRIGRAM_MIN_HITS -> 'und'.
# ---------------------------------------------------------------------------
TRIGRAM_WINDOW = 400
TRIGRAM_MIN_HITS = 2
LANG_TRIGRAMS = {
    "fi": ["ssä", "llä", "ään", "kin", "ttä", "uom", "ksi", "yvä"],
    "no": ["ikk", "sjø", "øye", "noe", "måt", "bli", "gje", "nor"],
    "cs": ["ění", "čes", "řed", "ých", "pří", "ště", "ost", "ová"],
    "sk": ["vať", "ľud", "slo", "ení", "ách", "dze", "ôže", "kto"],
    "sl": ["nje", "lja", "čil", "ovo", "tud", "jše", "ven", "pri"],
    "hr": ["ije", "ovi", "ski", "što", "tak", "oje", "aju", "vat"],
    "hu": ["egy", "szá", "ész", "ött", "áll", "nak", "gye", "ság"],
    "ro": ["ște", "ție", "ulu", "țar", "oar", "ilo", "înț", "ând"],
    "tr": ["lar", "bir", "yor", "ığı", "ştı", "ünü", "çok", "ğin"],
    "vi": ["ông", "ười", "iệt", "ành", "ược", "ũng", "như", "ngh"],
    "id": ["ang", "kan", "ber", "men", "nya", "ora", "dan", "yan"],
    "ca": ["ció", "els", "amb", "què", "tat", "seu", "aqu", "eny"],
    "lt": ["ius", "iai", "uvo", "ėjo", "aus", "ško", "yra", "ien"],
    "lv": ["ija", "iem", "arī", "ība", "ais", "grā", "vēl", "tāj"],
    "et": ["ine", "sed", "oli", "aas", "õpe", "üks", "ees", "ndu"],
    "sq": ["për", "një", "shq", "ësh", "jet", "ëri", "dhe", "uar"],
    "af": ["nie", "wat", "bai", "gro", "oor", "aan", "dit", "vir"],
    "sw": ["kwa", "ana", "ili", "cha", "amb", "uwa", "eza", "mba"],
    "is": ["það", "aði", "ður", "inn", "egi", "vík", "öll", "sem"],
    "az": ["lər", "zər", "dır", "əsi", "ayc", "ğlu", "dən", "ılı"],
    "mt": ["għa", "ħaf", "żmi", "jie", "agħ", "ieħ", "lil", "bil"],
    "cy": ["ydd", "eth", "wyr", "gwl", "iaw", "cym", "ddi", "oed"],
    "ga": ["gae", "bhf", "idh", "agh", "éir", "aío", "mha", "ann"],
    "eu": ["tza", "eta", "zko", "ako", "iza", "rik", "tik", "egi"],
    "gl": ["gal", "nha", "xen", "eir", "ade", "lle", "rúa", "mos"],
    "tl": ["mga", "pag", "ako", "ito", "nag", "kas", "ala", "ngi"],
    "so": ["waa", "aan", "sha", "dha", "soo", "qur", "xaa", "aha"],
    "zu": ["uku", "nge", "tho", "izi", "aba", "and", "hle", "ban"],
    "ha": ["ƙas", "wan", "suk", "yan", "hau", "nan", "ƙar", "mut"],
    "yo": ["ẹni", "ọmọ", "àwọ", "ṣiṣ", "wọn", "jẹ́", "ní ", "kan"],
    "ig": ["nke", "ndị", "ọtụ", "nyị", "chọ", "ịhụ", "ụlọ", "gba"],
    "eo": ["kaj", "ĉiu", "iĝa", "aŭd", "ojn", "ulo", "ŝat", "ĝoj"],
    "la": ["rum", "ibu", "tur", "qua", "ere", "est", "imu", "oru"],
    "br": ["c'h", "eur", "zho", "ael", "ema", "hag", "eil", "enn"],
    "lb": ["ech", "eso", "héi", "utt", "ass", "dat", "éng", "wee"],
    "mg": ["aha", "tra", "fan", "olo", "ndr", "itr", "any", "iza"],
}

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/punct segmentation: word chars | single non-space non-word
BPE_TOKEN_RE = r"[A-Za-z0-9]+|[^\sA-Za-z0-9]"


def let_bound(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and build ``fn(bound)`` over it.

    Higher-order-function lambdas re-evaluate free-variable
    subexpressions on EVERY element invocation: ``transform(sequence(1,
    size(toks)-n+1), i -> slice(toks, i, n))`` recomputes the whole
    ``split(lower(trim(text)))`` once per position (measured 6x on the
    sf1.0 shingle explode). Wrapping the expression as the single
    element of an array and binding it through an outer ``transform``
    makes it a lambda variable — evaluated once, referenced cheaply.
    """
    return F.transform(F.array(col), fn)[0]


# py4j gateway -> {(builder, arguments, their types): built Columns};
# holds the current gateway's memo only
_CONST_EXPRS: dict = {}


def const_expr(builder):
    """Memoize ``builder`` once per JVM: later calls with equal
    arguments get the very Columns the first call built.

    For builders whose Columns depend only on their hashable arguments
    (column names, constants), never on a DataFrame. Each Column
    operator costs a few py4j round trips, and the curation funnel's
    constant trees have thousands of them: rebuilt on every call they
    took seconds of driver time in which no Spark job ran. A Column is
    an unresolved expression that no DataFrame or session owns, so one
    tree serves every later plan in the JVM that built it; the memo
    starts over when the py4j gateway (the JVM) changes. Plans and
    values are the same as with fresh trees; only the lambda-variable
    names no longer change from call to call. Two threads that miss
    at once both build, and the first result stored wins.
    """
    signature = inspect.signature(builder)

    @functools.wraps(builder)
    def cached(*args, **kwargs):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        memo = _CONST_EXPRS.get(gateway)
        if memo is None:
            _CONST_EXPRS.clear()
            memo = _CONST_EXPRS.setdefault(gateway, {})
        bound = signature.bind(*args, **kwargs)
        bound.apply_defaults()
        values = bound.args + tuple(bound.kwargs.items())
        # types too: 1 == 1.0 == True, but each builds another literal
        key = (builder, values, tuple(map(type, values)))
        built = memo.get(key)
        if built is None:
            built = memo.setdefault(key, builder(*bound.args, **bound.kwargs))
        return built

    return cached


def _distinct_tokens(text: Column) -> Column:
    """Lowercased whitespace tokens, de-duplicated.

    Tokenize-once base for marker-hit counting: marker hits are
    PRESENCE counts (0..len(words)), so de-duplicating tokens is
    value-preserving and lets ``array_intersect`` count one language's
    hits in a single pass instead of one ``array_contains`` full scan
    per marker word.  The old per-word form re-split the document once
    per marker (35+ splits) and blew the janino 64 KB method limit,
    dropping the whole projection out of whole-stage codegen.
    """
    return F.array_distinct(F.split(F.lower(text), TOKEN_SPLIT_RE))


def _marker_hits_tokens(toks: Column, words) -> Column:
    """Presence count of marker words in a pre-tokenized document."""
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))


def _window_trigrams(win: Column) -> Column:
    """All 3-char substrings of the (pre-lowered) ID window.

    r7: scoring via one enumerated gram array + 36 ``array_intersect``s
    replaces 288 ``contains`` nodes — ~6x fewer expression nodes, which
    is what the per-execution Catalyst-analysis/codegen cost of the
    language query scales with. ``array_intersect`` returns DISTINCT
    common elements, so ``size(array_intersect(grams, profile))`` equals
    the old per-gram presence-count sum exactly (no array_distinct
    needed)."""
    return F.when(
        F.length(win) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(win) - 2),
            lambda i: win.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _marker_best_expr(toks: Column) -> Column:
    """Marker-tier argmax struct (h, prio, lang) over a token array."""
    return F.array_max(
        F.array(
            *[
                F.struct(
                    _marker_hits_tokens(toks, words).alias("h"),
                    F.lit(-i).alias("prio"),
                    F.lit(lang).alias("lang"),
                )
                for i, (lang, words) in enumerate(LANG_MARKERS.items())
            ]
        )
    )


def _trigram_lang_expr(win: Column) -> Column:
    """Trigram-tier argmax over a pre-lowered ID window -> lang code.

    The MIN_HITS threshold is folded into a sentinel struct
    (h = MIN_HITS-1, prio above every real language) so the trigram
    argmax appears exactly ONCE in the expression tree — inlining it
    twice (condition + value) grew the generated code past janino's
    64 KB method limit and dropped the scan out of codegen (the r4
    language_id failure mode). A real language wins only with
    h >= MIN_HITS; at h < MIN_HITS the sentinel's higher prio takes
    the tie or the win and yields 'und'.
    """
    sentinel = F.struct(
        F.lit(TRIGRAM_MIN_HITS - 1).alias("h"),
        F.lit(1).alias("prio"),
        F.lit("und").alias("lang"),
    )

    def argmax(grams):
        pairs2 = F.array(
            *[
                F.struct(
                    F.size(
                        F.array_intersect(
                            grams, F.array(*[F.lit(g) for g in gs])
                        )
                    ).alias("h"),
                    F.lit(-i).alias("prio"),
                    F.lit(lang).alias("lang"),
                )
                for i, (lang, gs) in enumerate(LANG_TRIGRAMS.items())
            ],
            sentinel,
        )
        return F.array_max(pairs2)["lang"]

    # let_bound twice: the window expression feeds the gram enumeration
    # once per row, and the gram array feeds 36 intersects once per row
    return let_bound(
        win, lambda w: let_bound(_window_trigrams(w), argmax)
    )


def _script_lang_expr(text: Column) -> Column:
    """Script-tier when-chain in SCRIPT_LADDER order -> lang code."""
    script_lang = None
    for lang, pat in SCRIPT_LADDER:
        cond = text.rlike(pat)
        script_lang = (
            F.when(cond, F.lit(lang))
            if script_lang is None
            else script_lang.when(cond, F.lit(lang))
        )
    return script_lang.otherwise(F.lit("und"))


def _n_script_expr(text: Column) -> Column:
    """Bounded count of non-Latin script chars in the ID window.

    Counting matches of the union class in the first TRIGRAM_WINDOW
    chars is BOUNDED work (the old full-text rlike made every Latin
    document scan to its end just to conclude "no script chars").
    """
    return F.size(
        F.regexp_extract_all(
            F.substring(text, 1, TRIGRAM_WINDOW),
            F.lit(NONLATIN_ANY_RE),
            F.lit(0),
        )
    )


def detect_language(text_col: str = "text") -> Column:
    """Three-tier language ID over 80 languages -> code or 'und'.

    Ladder (first decisive tier wins):
      1. SCRIPT tier — a bounded union-class count over the ID window
         decides non-Latin-vs-Latin (engages at
         :data:`SCRIPT_MIN_CHARS`+ script chars, so one stray symbol
         never flips the call), then :data:`SCRIPT_LADDER` order
         decides within it (34 script-identified languages: CJK, Cyrillic with
         be/uk/mk/sr/kk/mn/bg letter disambiguation, Greek, Hebrew, Arabic with
         ur/fa letter disambiguation, the Indic family, Thai/Lao,
         Myanmar, Georgian, Armenian, Khmer, Amharic).
      2. MARKER tier (Latin fast path) — the language whose stopword
         marker set has the most whole-token hits wins
         (:data:`LANG_MARKERS`: en/de/fr/es/it/pt/nl/ru/pl/sv/da),
         ties broken by fixed language order.
      3. TRIGRAM tier — zero marker hits fall to the char-3-gram
         profile argmax (:data:`LANG_TRIGRAMS`: 36 more Latin-script
         languages, fastText-style char-n-gram features with explicit
         hand-rolled profiles) over the first :data:`TRIGRAM_WINDOW`
         chars; fewer than :data:`TRIGRAM_MIN_HITS` distinct profile
         grams -> 'und'.

    NOTE (r7): as a single Column the CASE structure defeats Catalyst
    subexpression elimination — conditional branches are never CSE'd,
    so the tokenize ran 22x per row and the window lower() 288x per
    row. For bulk scans use :func:`with_detected_language`, which
    stacks projections so every shared subexpression is evaluated once
    per row; this Column form is kept for expression-position callers
    and small inputs.
    """
    text = F.col(text_col)
    best = _marker_best_expr(_distinct_tokens(text))
    win = F.lower(F.substring(text, 1, TRIGRAM_WINDOW))
    marker_lang = F.when(best["h"] >= 1, best["lang"]).otherwise(
        _trigram_lang_expr(win)
    )
    return F.when(
        _n_script_expr(text) >= SCRIPT_MIN_CHARS, _script_lang_expr(text)
    ).otherwise(marker_lang)


def with_detected_language(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_detected"
) -> DataFrame:
    """``detect_language`` as a stacked-projection transform — same
    values, ~10x cheaper per row.

    The single-Column form inlines ``array_distinct(split(lower(text)))``
    22x (the marker argmax struct is referenced by both the CASE
    condition and its value) and ``lower(substring(text,1,400))`` 288x
    (once per trigram ``contains``), because Spark's subexpression
    elimination skips conditional CASE branches. Materialising the
    shared subexpressions as real columns in their own Project nodes
    makes each a bound row field evaluated exactly once;
    ``CollapseProject`` keeps the layers separate because the produced
    expressions are non-cheap and multiply referenced. Everything
    stays inside one WholeStageCodegen span (guide §4.1 — built-ins
    only; §1.2 — fix per-row work after plan shape).
    """
    shared, best, lang = _language_columns(text_col)
    return (
        df.withColumns(dict(shared))
        .withColumn(_LI_TMP[3], best)
        .withColumn(out_col, lang)
        .drop(*_LI_TMP)
    )


_LI_TMP = tuple(f"_li_{c}" for c in ("nscript", "toks", "win", "best"))


@const_expr
def _language_columns(text_col: str):
    """The three projection layers of :func:`with_detected_language`:
    ``(shared subexpressions as (name, Column) pairs, marker argmax,
    language code)``."""
    text = F.col(text_col)
    nscript, toks, win, best = _LI_TMP
    shared = (
        (nscript, _n_script_expr(text)),
        (toks, _distinct_tokens(text)),
        (win, F.lower(F.substring(text, 1, TRIGRAM_WINDOW))),
    )
    argmax = F.col(best)
    lang = F.when(
        F.col(nscript) >= SCRIPT_MIN_CHARS, _script_lang_expr(text)
    ).otherwise(
        F.when(argmax["h"] >= 1, argmax["lang"]).otherwise(
            _trigram_lang_expr(F.col(win))
        )
    )
    return shared, _marker_best_expr(F.col(toks)), lang


def token_count_ws(text_col: str = "text") -> Column:
    """Whitespace token count."""
    t = F.trim(F.col(text_col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, TOKEN_SPLIT_RE)))


def token_count_bpe(text_col: str = "text") -> Column:
    """BPE-ish token count: alnum runs + individual punctuation marks."""
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_RE), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + score.

    The score mirrors common pretraining-corpus filters (C4/Gopher
    style): favor mid-length documents with sane punctuation density
    and a healthy stopword ratio.
    """
    return df.select("*", *_quality_columns(text_col))


@const_expr
def _quality_columns(text_col: str):
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count_ws(text_col)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[.,;:!?]", ""))
    # tokenize ONCE (CSE shares the split across languages), then one
    # array_intersect per language — same presence-count values as the
    # old 55-array_contains form but inside the janino method limit
    toks = _distinct_tokens(t)
    stop_hits = None
    for words in LANG_MARKERS.values():
        h = _marker_hits_tokens(toks, words)
        stop_hits = h if stop_hits is None else stop_hits + h
    mean_tok_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(
        F.lit(0.0)
    )
    score = (
        F.when((n_tokens >= 10) & (n_tokens <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
        * F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), F.lit(1.0)).otherwise(F.lit(0.5))
        * F.when(punct_ratio <= 0.2, F.lit(1.0)).otherwise(F.lit(0.5))
        * F.when(stop_hits >= 1, F.lit(1.0)).otherwise(F.lit(0.3))
    )
    return (
        n_chars.alias("q_chars"),
        n_tokens.cast("int").alias("q_tokens"),
        F.round(mean_tok_len, 4).alias("q_mean_token_len"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        stop_hits.cast("int").alias("q_stopword_hits"),
        F.round(score, 4).alias("q_score"),
    )


def linear_quality_score(
    df: DataFrame,
    weights,
    bias: float = 0.0,
    text_col: str = "text",
    out_col: str = "ml_q_score",
) -> DataFrame:
    """Trained-filter plumbing exemplar: a deterministic linear scorer
    over HASHED bag-of-words features — the standard shape for
    plugging a learned quality classifier (fastText-style logistic
    regression) into the curation funnel without shipping a model
    runtime.

    ``weights`` is the hashed feature table (length D) embedded as an
    array LITERAL; a token lands in bucket ``crc32(token) % D`` (the
    hashing trick), and

        score = sigmoid(bias + sum over tokens of weights[bucket])

    — every occurrence counts, so this is the dot product of the
    hashed count vector with the weight table without ever
    materializing the vector. MAP-ONLY: the fold runs as a Catalyst
    aggregate over the token split, no shuffle, no Python, weights
    broadcast as part of the plan (a 2^18-bucket float table is ~2 MB
    of literals — model-sized). Swap in real trained weights by
    loading them driver-side and passing them here; training itself
    happens offline (this repo ships the SCORING path, which is the
    part that must scale).
    """
    if len(weights) == 0:
        raise ValueError("weights must be non-empty")
    return df.withColumn(
        out_col,
        _linear_score(tuple(float(x) for x in weights), float(bias), text_col),
    )


@const_expr
def _linear_score(weights: tuple, bias: float, text_col: str) -> Column:
    d = len(weights)
    toks = F.split(F.lower(F.col(text_col)), TOKEN_SPLIT_RE)
    warr = F.array(*[F.lit(x) for x in weights])
    z = F.aggregate(
        toks,
        F.lit(bias),
        lambda acc, t: acc
        + F.element_at(
            warr, (F.crc32(F.encode(t, "utf-8")) % d).cast("int") + 1
        ),
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


@const_expr
def _word_ngrams(text_col: str, n: int) -> Column:
    """Full word n-grams (lowercased, whitespace tokens); [] if < n words."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)

    def gen(t):
        cnt = F.size(t) - (n - 1)
        return F.when(
            cnt >= 1,
            F.transform(
                F.sequence(F.lit(1), cnt),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_bound(toks, gen)


def repetition_features(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Gopher-style within-document repetition signals.

    Per document, over its word `n`-grams:
      * ``n_ngrams``            total n-gram occurrences
      * ``dup_ngram_char_frac`` fraction of n-gram characters belonging
        to n-grams that occur more than once (the "fraction of
        characters in duplicate n-grams" repetition filter)
      * ``top_ngram_char_frac`` largest single n-gram's share of n-gram
        characters (count × length / total), the "top n-gram" filter

    Plan: explode → two keyed aggregations on (id, ngram) then (id) —
    both shuffle on the document id (uniform), with map-side partial
    aggregation; no Python. Documents shorter than n words get zeros.
    """
    ngrams, count, per_doc_aggs, out = _repetition_columns(id_col, text_col, n)
    ident = F.col(id_col)
    ng = df.select(ident, ngrams)
    counts = ng.groupBy(id_col, "_ng").agg(count)
    per_doc = counts.groupBy(id_col).agg(*per_doc_aggs)
    return df.select(ident).join(per_doc, id_col, "left").select(*out)


@const_expr
def _repetition_columns(id_col: str, text_col: str, n: int):
    """``(exploded n-grams, per-(doc, n-gram) count, per-doc aggregates,
    output projection)`` of :func:`repetition_features`."""
    mass = F.col("_c") * F.length(F.col("_ng"))
    per_doc_aggs = (
        F.sum("_c").cast("int").alias("n_ngrams"),
        F.round(
            F.sum(F.when(F.col("_c") > 1, mass).otherwise(F.lit(0))).cast("double")
            / F.sum(mass),
            4,
        ).alias("dup_ngram_char_frac"),
        F.round(F.max(mass).cast("double") / F.sum(mass), 4).alias(
            "top_ngram_char_frac"
        ),
    )
    out = (
        F.col(id_col),
        F.coalesce(F.col("n_ngrams"), F.lit(0)).alias("n_ngrams"),
        F.coalesce(F.col("dup_ngram_char_frac"), F.lit(0.0)).alias(
            "dup_ngram_char_frac"
        ),
        F.coalesce(F.col("top_ngram_char_frac"), F.lit(0.0)).alias(
            "top_ngram_char_frac"
        ),
    )
    return (
        F.explode(_word_ngrams(text_col, n)).alias("_ng"),
        F.count("*").alias("_c"),
        per_doc_aggs,
        out,
    )


def top_terms(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Corpus-level heavy hitters: top-k tokens per group by frequency.

    Two-phase: explode → count on (group, token) — Catalyst emits a
    map-side partial aggregate, so the shuffle carries (group, token,
    partial_count), never raw tokens; the final window top-k shuffles
    only the distinct-token counts on the group key. Deterministic
    tie-break (count desc, token asc).
    """
    from pyspark.sql import Window

    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    ).alias("token")
    counts = (
        df.select(F.col(group_col), toks)
        .where(F.col("token") != "")
        .groupBy(group_col, "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(group_col, "token", "n", "rank")
    )


def length_band_filter(
    df: DataFrame,
    group_col: str = "lang",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Keep rows inside the (lower, upper] per-group rank-fraction band.

    The standard outlier cut for corpus curation ("drop the shortest 5%
    and longest 5% per language"), expressed as exact rank fractions —
    deterministic across engines (row_number with an id tie-break, no
    approximate percentiles), so the DuckDB oracle matches bit-for-bit.
    One shuffle on the group key; at extreme group skew pre-split via
    operators/skew.py.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    frac = F.row_number().over(w) / F.count("*").over(
        Window.partitionBy(group_col)
    )
    return (
        df.withColumn("_frac", frac)
        .where((F.col("_frac") > lower) & (F.col("_frac") <= upper))
        .drop("_frac")
    )


def fingerprint(text_col: str = "text", window: int = 64) -> Column:
    """Rolling-hash style document fingerprint.

    xxhash64 over normalized text prefix windows, combined — cheap,
    JVM-side, stable. Use for cheap near-identity bucketing before
    heavier near-dup passes.
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    return F.xxhash64(
        F.substring(norm, 1, window),
        F.substring(norm, -window, window),
        F.length(norm),
    )


def tfidf_top_terms(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Top-k terms per group by summed TF-IDF (smooth idf).

    tf(term, doc)  = count / doc_len
    idf(term)      = ln((N + 1) / (df + 1)) + 1   (sklearn-style smooth)
    score(g, term) = round(sum over docs in g of tf * idf, round_to)

    Plan shape: one explode -> (doc, term) count agg (map-side combine
    carries partial counts, never raw tokens), doc lengths and term
    document-frequencies are derived from that same aggregate (reused
    subtree, no second scan), N is a broadcast 1-row join, and the
    final top-k is a window over (group, term) scores. Every shuffle
    key is either the token or the group — uniform at corpus scale.
    Deterministic tie-break (score desc, term asc).
    """
    from pyspark.sql import Window

    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    ).alias("term")
    base = (
        df.select(F.col(id_col).alias("id"), F.col(group_col).alias("grp"), toks)
        .where(F.col("term") != "")
        .groupBy("id", "grp", "term")
        .agg(F.count("*").alias("tc"))
    )
    doc_len = base.groupBy("id").agg(F.sum("tc").alias("len"))
    dfreq = base.groupBy("term").agg(F.countDistinct("id").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        base.join(doc_len, "id")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (F.col("tc") / F.col("len"))
            * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
        .groupBy("grp", "term")
        .agg(F.round(F.sum("tfidf"), round_to).alias("score"))
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "score", "rank")
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
    checkpoint_base: bool = False,
) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic cheap perplexity proxy for quality
    filtering (low = rare-token gibberish, high = stopword soup).

    p(term) = corpus_count(term) / corpus_total;
    score(doc) = round(sum(count_in_doc * ln p) / doc_len, round_to).

    Plan: the (doc, term) count aggregate is computed once; corpus
    term counts derive from it (token-keyed shuffle with partial
    aggregation), the corpus total is a broadcast scalar, and the final
    per-doc combine shuffles on id. No pass ships raw token streams.

    ``checkpoint_base=True`` eagerly localCheckpoints the (doc, term)
    aggregate so the three consumers (corpus counts, total, per-doc
    combine) read one materialized block set instead of each restating
    the tokenize+explode+aggregate subtree (Catalyst does not reuse
    the exchange across the differently-projected branches). Right
    for bounded inputs where the restated subtree costs more than the
    materialization; leave False on corpus-scale inputs — the base is
    corpus-sized there and recomputing beats pinning it in the block
    manager.
    """
    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    ).alias("term")
    base = (
        df.select(F.col(id_col).alias("id"), toks)
        .where(F.col("term") != "")
        .groupBy("id", "term")
        .agg(F.count("*").alias("tc"))
    )
    if checkpoint_base:
        base = base.localCheckpoint(eager=True)
    corpus = base.groupBy("term").agg(F.sum("tc").alias("cc"))
    total = corpus.select(F.sum("cc").alias("tot"))
    return (
        base.join(corpus, "term")
        .crossJoin(F.broadcast(total))
        .groupBy("id")
        .agg(
            F.round(
                F.sum(F.col("tc") * F.log(F.col("cc") / F.col("tot")))
                / F.sum("tc"),
                round_to,
            ).alias("mean_logprob"),
            F.sum("tc").alias("n_tokens"),
        )
        .select(F.col("id").alias(id_col), "mean_logprob", "n_tokens")
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    round_to: int = 6,
    checkpoint_base: bool = False,
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    Laplace-smoothed bigram LM — one step closer to the published
    CCNet recipe than the unigram proxy: it sees local word ORDER, so
    shuffled-word gibberish that fools the unigram score does not fool
    this one.

    p(v|u) = (C(u,v) + alpha) / (C(u,*) + alpha*V), where C(u,*) is
    the history count (sum of C(u,v) over v — occurrences of u except
    document-final) and V the successor vocabulary size (distinct v
    over corpus bigrams). score(doc) = sum over the doc's bigram
    occurrences of ln p(v|u), divided by the bigram count. Documents
    with < 2 tokens get mean_logprob = 0.0 and n_bigrams = 0
    (sentinels, not NULLs — driver dtype contract). Deterministic.

    Plan: ONE (doc, bigram) count aggregate (map-side slide over the
    token array, then explode); corpus counts, history counts and V
    all derive from it via token-keyed shuffles with partial
    aggregation; V and nothing else is a broadcast scalar; the final
    per-doc combine shuffles on id. Raw token streams never ship.

    ``checkpoint_base`` as in :func:`unigram_logprob` — the (doc,
    bigram) aggregate has FOUR consumers here (corpus, history,
    vocabulary, per-doc combine), so the restated subtree multiplies
    even further on bounded inputs; same corpus-scale caveat.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    bigrams = let_bound(
        toks,
        lambda t: F.when(
            F.size(t) - 1 >= 1,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - 1),
                lambda i: F.concat_ws(" ", F.slice(t, i, 2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    base = (
        df.select(F.col(id_col).alias("id"), F.explode(bigrams).alias("bg"))
        .groupBy("id", "bg")
        .agg(F.count("*").alias("tc"))
    )
    if checkpoint_base:
        base = base.localCheckpoint(eager=True)
    corpus = (
        base.groupBy("bg")
        .agg(F.sum("tc").alias("cc"))
        .withColumn("u", F.substring_index("bg", " ", 1))
    )
    hist = corpus.groupBy("u").agg(F.sum("cc").alias("hc"))
    vocab = corpus.select(
        F.countDistinct(F.substring_index("bg", " ", -1)).alias("vsz")
    )
    scored = (
        base.join(corpus, "bg")
        .join(hist, "u")
        .crossJoin(F.broadcast(vocab))
        .groupBy("id")
        .agg(
            F.round(
                F.sum(
                    F.col("tc")
                    * F.log(
                        (F.col("cc") + F.lit(alpha))
                        / (F.col("hc") + F.lit(alpha) * F.col("vsz"))
                    )
                )
                / F.sum("tc"),
                round_to,
            ).alias("mean_logprob"),
            F.sum("tc").alias("n_bigrams"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(scored, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("mean_logprob"), F.lit(0.0)).alias(
                "mean_logprob"
            ),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("bigint").alias(
                "n_bigrams"
            ),
        )
    )


def perplexity_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    bands: int = 3,
    round_to: int = 6,
    scores: DataFrame | None = None,
    checkpoint_base: bool = False,
) -> DataFrame:
    """CCNet-style perplexity banding: per group (language), split
    documents into `bands` equal-count bands by their mean unigram
    log-probability — band 1 ('head') = most-probable/cleanest text,
    band `bands` ('tail') = most-perplexing. CCNet keeps head+middle
    and drops (or down-weights) tail for pretraining mixes.

    (id, group, mean_logprob, <count>, band, band_name). Deterministic:
    ntile over (score DESC, id ASC) — ties break on id, never on
    partition order. One window per group on the per-doc score rows
    (corpus-sized but narrow); the heavy lifting is the scorer's
    shared (doc, term) aggregate.

    ``scores``: optionally a precomputed (id, mean_logprob, <count>)
    frame — e.g. :func:`bigram_logprob`'s output — to band by a
    different LM; defaults to :func:`unigram_logprob`. The scorer's
    count column keeps its own name (n_tokens / n_bigrams).
    ``checkpoint_base`` forwards to the default unigram scorer (no
    effect when ``scores`` is supplied).
    """
    from pyspark.sql import Window

    if scores is None:
        scores = unigram_logprob(
            df, text_col, id_col, round_to=round_to,
            checkpoint_base=checkpoint_base,
        )
    count_col = [
        c for c in scores.columns if c not in (id_col, "mean_logprob")
    ][0]
    grouped = scores.join(
        df.select(F.col(id_col), F.col(group_col).alias("grp")), id_col
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("mean_logprob").desc(), F.col(id_col).asc()
    )
    band = F.ntile(bands).over(w)
    name = (
        F.when(band == 1, F.lit("head"))
        .when(band == bands, F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
    return grouped.select(
        F.col(id_col), F.col("grp").alias(group_col), "mean_logprob",
        count_col, band.alias("band"), name.alias("band_name"),
    )


def line_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style line-level repetition/format signals, appended as
    columns: over the NON-EMPTY lines of a document,

      * ``n_lines``            count
      * ``bullet_line_frac``   fraction starting with a bullet
                               ('- ', '* ', or '•' — Gopher drops docs
                               above 90% bulleted lines)
      * ``ellipsis_line_frac`` fraction ending in '...' or '…'
                               (Gopher cap: 30%)
      * ``mean_line_chars``    mean trimmed-line length

    Pure array expressions (split + filter + aggregate) — map-only,
    codegen-fused, zero shuffle; dialect-portable so a DuckDB oracle
    reproduces every value (driver query text_features).
    """
    return df.select("*", *_line_columns(text_col))


@const_expr
def _line_columns(text_col: str):
    lines = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    n = F.size(lines)
    is_bullet = (
        lambda x: x.startswith("- ") | x.startswith("* ") | x.startswith("•")
    )
    is_ellipsis = lambda x: x.endswith("...") | x.endswith("…")  # noqa: E731
    n_bullet = F.size(F.filter(lines, is_bullet))
    n_ellipsis = F.size(F.filter(lines, is_ellipsis))
    sum_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    nz = F.when(n > 0, n.cast("double"))
    return (
        n.alias("n_lines"),
        F.coalesce(F.round(n_bullet / nz, 4), F.lit(0.0)).alias(
            "bullet_line_frac"
        ),
        F.coalesce(F.round(n_ellipsis / nz, 4), F.lit(0.0)).alias(
            "ellipsis_line_frac"
        ),
        F.coalesce(F.round(sum_chars / nz, 2), F.lit(0.0)).alias(
            "mean_line_chars"
        ),
    )


def train_bpe_merges(
    df: DataFrame,
    n_merges: int = 50,
    text_col: str = "text",
    sample_permille: int = 1000,
    id_col: str = "doc_id",
    min_count: int = 1,
    max_words: int = 1_000_000,
) -> list:
    """Train byte-pair-encoding merges over the corpus — the tokenizer-
    training primitive of an LLM data pipeline.

    Distributed shape: ONE pass builds the word-frequency table
    ((word, count) — tiny vs the corpus: vocabulary, not tokens), which
    is collected and merged driver-side exactly like the reference BPE
    algorithm (Sennrich et al. 2016): per round, count adjacent symbol
    pairs weighted by word frequency, merge the most frequent pair
    (ties broken lexicographically — deterministic across runs and
    cluster sizes), repeat. Per-merge distributed passes would be
    n_merges full shuffles for no benefit: the word table for a 100 TB
    corpus is vocabulary-sized and standard practice trains the
    tokenizer on it (or on a deterministic sample — `sample_permille`
    uses the md5 hash, never rand()). RAW WEB TEXT has unbounded
    distinct "words" (urls, hashes, garbage), so the collect is
    bounded twice: `min_count` prunes the long tail inside the
    aggregation (a HAVING pushdown, no extra pass) and `max_words`
    hard-caps the table to the most frequent words (deterministic
    count-desc, word-asc order) — rare words contribute nothing to
    merge counts anyway.

    Returns the ordered merge list [(left, right), ...]; words are
    split into characters with the '</w>' end-of-word marker.
    """
    toks = F.explode(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE)
    ).alias("w")
    base = df
    if sample_permille < 1000:
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 14), 16, 10
        ).cast("bigint")
        base = df.where(h % 1000 < sample_permille)
    counts = (
        base.select(toks)
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        counts = counts.where(F.col("c") >= min_count)
    word_counts = (
        counts.orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(max_words)
        .collect()
    )
    vocab = {
        tuple(list(r["w"]) + ["</w>"]): r["c"] for r in word_counts
    }
    merges = []
    for _ in range(n_merges):
        pairs: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        # deterministic: max count, ties to the lexicographically
        # smallest pair
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and syms[i] == best[0] and syms[i + 1] == best[1]):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def apply_bpe(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a trained merge list — Arrow-batched pandas UDF
    (the merge table broadcasts in the UDF closure; greedy
    rank-ordered merging, the standard BPE apply)."""
    from pyspark.sql.functions import pandas_udf

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def run(texts):
        import pandas as pd

        def encode(text):
            if not text:
                return []
            out = []
            for w in text.lower().split():
                syms = list(w) + ["</w>"]
                while len(syms) > 1:
                    cand = [
                        (ranks[(a, b)], i)
                        for i, (a, b) in enumerate(zip(syms, syms[1:]))
                        if (a, b) in ranks
                    ]
                    if not cand:
                        break
                    _, i = min(cand)
                    syms[i:i + 2] = [syms[i] + syms[i + 1]]
                out.extend(syms)
            return out

        return pd.Series([encode(t) for t in texts])

    return df.withColumn(out_col, run(F.col(text_col)))
