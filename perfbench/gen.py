"""Seeded input generation for the workloads, with expected outputs.

Every input is a pure function of (workload, seed, size). Generation
runs in plain Python + pyarrow (no Spark), writes parquet under the
work directory and caches it there, so it is never inside a timed
region and a repeated seed costs only a directory check. The program
under test sees only the generated tables.

Alongside the tables, ``meta.json`` carries what the outputs must be:
status counts, planted duplicate copies, recrawl action counts and the
entries row count. The expectations come from the generator's own
knowledge of what it planted, plus direct kernel calls where a stored
entry needs real extracted fields.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from typing import Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from content_extractor_spark import synth
from content_extractor_spark.kernel.analyzer import analyze
from content_extractor_spark.kernel.profiles import normalize_host
from content_extractor_spark.kernel.scala_hash import content_hash
from content_extractor_spark.kernel.spans import spans_to_html
from content_extractor_spark.operators.scans import COMMON_FILE_ENDINGS

N_HOSTS = 24
N_FILES = 8  # input files per table: enough scan splits for every core
NOW_ISO = "2021-07-01T00:00:00Z"
REANALYSIS_CRAWL = "2021-06-01T00:00:00Z"  # synth's re-analysis timestamp

#: documents per workload, chosen so one job call takes a few seconds on
#: a 4-core host and a timed run holds several calls
SIZES = {
    "recrawl_merge": 8000,
    "curate_funnel": 500,
}

_SPAN = pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.string()), ("spans", pa.list_(_SPAN)), ("host", pa.string()),
    ("url", pa.string()), ("url_id", pa.string()),
    ("last_crawl", pa.string()), ("etag", pa.string()),
])
ENTRIES_SCHEMA = pa.schema([
    ("entry_id", pa.string()), ("url_id", pa.string()), ("title", pa.string()),
    ("summary", pa.string()), ("content", pa.string()), ("date", pa.string()),
    ("tags", pa.list_(pa.string())), ("etag", pa.string()),
    ("image_url", pa.string()), ("content_hash", pa.int64()),
    ("disabled", pa.bool_()), ("next_crawl", pa.string()),
    ("updated_at", pa.string()), ("has_been_tagged", pa.bool_()),
])
TEXT_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("source", pa.string()),
])


def profiles():
    """The synthetic host profiles every extraction workload uses."""
    return synth.all_profiles(N_HOSTS)


def work_dir() -> str:
    return os.path.abspath(".perfbench_work")


def _write(rows: List[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    per = (len(rows) + N_FILES - 1) // N_FILES
    for f in range(N_FILES):
        part = rows[f * per:(f + 1) * per]
        table = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def scannable(row: dict) -> bool:
    """What ``scannable_documents`` keeps: a URL without a file ending."""
    url = row["url"]
    return bool(url) and not any(e in url.lower() for e in COMMON_FILE_ENDINGS)


def expected_status(row: dict, profs: Dict) -> str:
    """What synth planted: an unknown host, an untitled page, or a clean
    article (see ``synth.gen_rows``)."""
    if normalize_host(row["host"] or "") not in profs:
        return "profile_miss"
    if "<h1 class='untitled'>" in spans_to_html(row["spans"]):
        return "no_title"
    return "ok"


def _entry_row(row: dict, fields: dict) -> dict:
    return {
        "entry_id": "entry-" + row["url_id"], "url_id": row["url_id"],
        **fields, "etag": row["etag"], "disabled": False,
        "next_crawl": "2021-06-03T00:00:00Z",
        "updated_at": REANALYSIS_CRAWL, "has_been_tagged": True,
    }


def _recrawl_entries(rows: List[dict], seed: int, profs: Dict) -> tuple:
    """Entries for every clean article an earlier run could extract, with
    a seeded share removed (-> create) or stale (-> update); returns
    (entries, expected)."""
    rng = random.Random(f"recrawl_merge:{seed}")
    entries, exp = [], {"create": 0, "update": 0, "skip": 0}
    parsed = etag_skipped = ok = disabled = 0
    for i, row in enumerate(rows):
        status = expected_status(row, profs)
        eligible = scannable(row) and row["last_crawl"] == REANALYSIS_CRAWL
        fate = rng.random()
        entry = None
        if status == "ok" and scannable(row) and fate >= 0.1:
            if eligible:
                res = analyze(row["url"], spans_to_html(row["spans"]),
                              profs[normalize_host(row["host"])], row["etag"])
                e = res.entry
                fields = {"title": e.title, "summary": e.summary,
                          "content": e.content, "date": e.date, "tags": e.tags,
                          "image_url": e.image_url}
                if fate < 0.2:  # stale entry: old title, its own hash
                    fields["title"] = "OLD::" + e.title
                fields["content_hash"] = content_hash(
                    fields["title"], fields["summary"], fields["content"],
                    fields["date"])
            else:  # never re-parsed this run: cheap stand-in fields
                fields = {"title": f"Article {i}", "summary": None,
                          "content": f"stored body {i} " * 20, "date": None,
                          "tags": None, "image_url": None,
                          # outside the 32-bit range real hashes take
                          "content_hash": (1 << 40) + i}
            entry = _entry_row(row, fields)
            entries.append(entry)
        if not eligible:
            continue
        if entry is not None and row["etag"] is not None:
            etag_skipped += 1
            continue
        parsed += 1
        if status != "ok":
            continue
        ok += 1
        if entry is None:
            exp["create"] += 1
        elif entry["title"].startswith("OLD::"):
            exp["update"] += 1
        else:
            exp["skip"] += 1
            disabled += 1  # its hash is already stored, enabled
    return entries, {
        "actions": exp, "docs_parsed": parsed, "ok": ok,
        "etag_skipped": etag_skipped, "disabled_dups": disabled,
        "entries_next_rows": len(entries) + exp["create"],
    }


# -- curation text corpus -------------------------------------------------------

_STOP = "the and of to in a is that for it with as on was by".split()
_SYL = "ka lo mi re su ta ne vo pi da ru ge lan ter mos vik".split()


def _vocab(rng: random.Random, n: int = 3000) -> List[str]:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choices(_SYL, k=rng.randint(2, 4))))
    return sorted(words)


def _sentence(rng, vocab, k):
    toks = [rng.choice(_STOP) if rng.random() < 0.3 else rng.choice(vocab)
            for _ in range(k)]
    return " ".join(toks) + "."


def _gen_text(seed: int, n: int) -> tuple:
    """Clean prose plus planted exact copies, near copies, short pages,
    repetitive pages and benchmark-contaminated pages."""
    rng = random.Random(f"curate_funnel:{seed}")
    vocab = _vocab(rng)
    bench = [" ".join(rng.choice(vocab) for _ in range(12)) for _ in range(64)]
    unused = list(bench)  # each contaminated page quotes its own eval text
    texts, planted = [], {"exact_dup": 0, "quality": 0, "repetition": 0,
                          "contaminated": 0, "near_copies": 0}
    clean = []  # indices of clean originals a copy may take
    for i in range(n):
        roll = rng.random()
        if roll < 0.06 and clean:
            texts.append(texts[clean.pop(rng.randrange(len(clean)))])
            planted["exact_dup"] += 1
            continue
        if roll < 0.12 and clean:
            base = texts[clean.pop(rng.randrange(len(clean)))]
            texts.append(base + " " + _sentence(rng, vocab, 3))
            planted["near_copies"] += 1
            continue
        if roll < 0.15:
            texts.append(" ".join(rng.choice(vocab) for _ in range(5)))
            planted["quality"] += 1
            continue
        if roll < 0.17:
            w = rng.sample(vocab, 2)
            texts.append(("the " + " ".join(w) + " ") * 30)
            planted["repetition"] += 1
            continue
        # a leading marker word keeps every clean page above the
        # stopword floor of the quality score
        body = "the " + " ".join(_sentence(rng, vocab, rng.randint(8, 16))
                                 for _ in range(rng.randint(4, 12)))
        if roll < 0.19 and unused:
            body += " " + unused.pop(rng.randrange(len(unused))) + " " \
                + _sentence(rng, vocab, 6)
            planted["contaminated"] += 1
            texts.append(body)
            continue
        texts.append(body)
        clean.append(i)
    rows = [{"doc_id": i, "text": t, "source": f"src{i % 7}"}
            for i, t in enumerate(texts)]
    return rows, [{"text": b} for b in bench], planted


def warm_docs(n: int) -> str:
    """A tiny documents table, one row per file, for the set-up task."""
    path = os.path.join(work_dir(), "inputs", f"warm-n{n}")
    if not os.path.isdir(path):
        rows = list(synth.gen_rows(0, n, n_hosts=N_HOSTS, seed=0))
        tmp = path + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        for i, row in enumerate(rows):
            pq.write_table(pa.Table.from_pylist([row], schema=DOCS_SCHEMA),
                           os.path.join(tmp, f"part-{i:03d}.parquet"))
        os.replace(tmp, path)
    return path


def inputs(workload: str, seed: int) -> dict:
    """Generate (or reuse) the inputs of one workload; returns meta with
    the table paths and the expected outputs."""
    size = SIZES[workload]
    root = os.path.join(work_dir(), "inputs", f"{workload}-s{seed}-n{size}")
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    shutil.rmtree(root, ignore_errors=True)
    meta = {"workload": workload, "seed": seed, "size": size, "root": root,
            "docs": os.path.join(root, "docs")}
    if workload == "curate_funnel":
        rows, bench, planted = _gen_text(seed, size)
        _write(rows, TEXT_SCHEMA, meta["docs"])
        meta["benchmark"] = os.path.join(root, "benchmark")
        _write(bench, pa.schema([("text", pa.string())]), meta["benchmark"])
        meta["expected"] = {"total": size, "planted": planted}
    else:
        rows = list(synth.gen_rows(0, size, n_hosts=N_HOSTS, seed=seed))
        profs = {normalize_host(k): v for k, v in profiles().items()}
        _write(rows, DOCS_SCHEMA, meta["docs"])
        entries, meta["expected"] = _recrawl_entries(rows, seed, profs)
        meta["entries"] = os.path.join(root, "entries")
        _write(entries, ENTRIES_SCHEMA, meta["entries"])
    os.makedirs(root, exist_ok=True)
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return meta
