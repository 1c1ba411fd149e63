"""Seeded workload tables and their single-process reference results.

Every document is a pure function of (workload, seed, index): each one
draws from its own ``random.Random`` seeded by that triple, so the table
can be generated in parallel and regenerates byte-for-byte. A table and
its reference are cached under ``<cache>/<workload>-seed<seed>-n<size>-<code>``,
where ``<code>`` hashes this file and the program's sources, so a changed
generator or kernel never reads a stale table or reference.

The reference for a document is the status and the sha256 of md/txt that
the program's own per-document function (``extract_one`` or
``convert_one``) gives for the same bytes in one process; the Spark runs
are checked against it.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import json
import multiprocessing
import os
import random
import shutil
import time
from dataclasses import dataclass

# Table sizes: each timed pass over a table takes a few seconds at
# local[4], so a run of --seconds holds several passes.
SIZES = {"mixed_formats": 450, "job_resume": 800}

# job_resume: pages above this many bytes become status='skipped' rows
RESUME_LIMIT_BYTES = 4096

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
_VOCAB = [
    "".join(random.Random(i).choice("etaoinshrdlucmfwypvbgk") for _ in range(2 + i % 9))
    for i in range(4000)
]
_CUM_WEIGHTS = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(_VOCAB))))


def _text(rng: random.Random, n_words: int) -> str:
    """Zipf-weighted word salad: a natural-language-like token mix."""
    return " ".join(rng.choices(_VOCAB, cum_weights=_CUM_WEIGHTS, k=n_words))


def _doc_rng(workload: str, seed: int, i: int) -> random.Random:
    return random.Random(f"{workload}:{seed}:{i}")


# ------------------------------------------------------------- generators


def _pdf(rng: random.Random, producer: int) -> bytes:
    from docling_spark.sources.pdfgen import build_pdf, build_pdf_modern, doc_spec

    pages: list = []
    for _ in range(rng.randint(10, 16)):
        spec, _ = doc_spec(rng.randrange(1 << 20), _text(rng, rng.randint(80, 200)))
        pages.extend(spec)
    if producer == 0:
        return build_pdf(pages)
    return build_pdf_modern(pages, cid=(producer == 2))


def gen_mixed_formats(seed: int, i: int) -> tuple[str, bytes]:
    """Fixed shares by index so every seed costs about the same:

    * 40% HTML: Common-Crawl-style pages in the page generator's natural
      mix (8/30/80 KB by page id, ~1 MB at page 0, 30% on one host);
    * 30% multi-page PDFs: the classic, xref-stream and CID producers in turn;
    * 10% CSV and 10% Markdown;
    * 10% truncated PDFs, random bytes, empty payloads and cut HTML.
    """
    from docling_spark.sources.pages import page_url, render_page

    rng = _doc_rng("mixed_formats", seed, i)
    kind = i % 10
    host = f"https://files{i % 17}.example.org/{i}"
    if kind < 4:
        pid = i // 10 * 4 + kind  # consecutive page ids keep the natural mix
        return page_url(pid), render_page(pid, _text(rng, rng.randint(200, 600)), "en")
    if kind < 7:
        return host + ".pdf", _pdf(rng, (i // 10) % 3)
    if kind == 7:
        words = _text(rng, 3 * rng.randint(20, 60)).split()
        rows = [f"{a},{len(b)},{c}" for a, b, c in zip(words[::3], words[1::3], words[2::3])]
        return host + ".csv", ("term,length,next\n" + "\n".join(rows) + "\n").encode()
    if kind == 8:
        parts = [f"# {_text(rng, 4).title()}"]
        for s in range(rng.randint(3, 8)):
            parts.append(f"## Section {s}: {_text(rng, 3)}")
            parts.append(_text(rng, rng.randint(30, 90)))
            parts.append("\n".join(f"- {_text(rng, 5)}" for _ in range(3)))
        return host + ".md", ("\n\n".join(parts) + "\n").encode()
    garbage = (i // 10) % 4
    if garbage == 0:
        pdf = _pdf(rng, rng.randrange(3))
        return host + ".pdf", pdf[: len(pdf) * rng.randint(3, 8) // 10]
    if garbage == 1:
        return host + ".bin", rng.randbytes(rng.randint(500, 5000))
    if garbage == 2:
        return host, b""
    page = render_page(i + 1, _text(rng, 300), "en")
    return host + ".html", page[: rng.randint(200, len(page))]


def gen_job_resume(seed: int, i: int) -> tuple[str, bytes]:
    """One-section pages of ~0.5 KB; every 50th stacks sections past
    RESUME_LIMIT_BYTES so the limits gate skips it."""
    from docling_spark.sources.pages import render_section

    rng = _doc_rng("job_resume", seed, i)
    text = _text(rng, rng.randint(60, 120))
    n_sections = 12 if i % 50 == 49 else 1
    body = "".join(render_section(i, s + 1, text) for s in range(n_sections))
    return f"https://crawl{i % 13}.example.net/r/{i}", f"<html><body>{body}</body></html>".encode()


GENERATORS = {
    "mixed_formats": gen_mixed_formats,
    "job_resume": gen_job_resume,
}


def resume_attempt0_urls(seed: int, urls: list[str]) -> set[str]:
    """The seeded half of the table that attempt 0 extracts before the
    resumed attempt 1 runs over everything."""
    rng = random.Random(f"job_resume-attempt0:{seed}")
    return set(rng.sample(urls, len(urls) // 2))


# -------------------------------------------------------------- reference


def _sha(s: str | None) -> str | None:
    return None if s is None else hashlib.sha256(s.encode("utf-8")).hexdigest()


def reference_row(workload: str, url: str, payload: bytes) -> dict:
    """Status and md/txt digests from the program's per-document function."""
    if workload == "mixed_formats":
        from docling_spark.operators.convert import convert_one

        r = convert_one(url, payload)
    else:
        if workload == "job_resume" and len(payload) > RESUME_LIMIT_BYTES:
            return {"url": url, "status": "skipped", "md": None, "txt": None}
        from docling_spark.operators.extract import extract_one

        r = extract_one(url, payload)
    return {"url": url, "status": r["status"], "md": _sha(r["md"]), "txt": _sha(r["txt"])}


def _gen_chunk(args: tuple[str, int, list[int]]) -> tuple[list, float]:
    workload, seed, ids = args
    gen = GENERATORS[workload]
    docs, gen_s = [], 0.0
    for i in ids:
        t0 = time.perf_counter()
        url, payload = gen(seed, i)
        gen_s += time.perf_counter() - t0
        docs.append((url, payload, reference_row(workload, url, payload)))
    return docs, gen_s


@dataclass
class Table:
    size: int
    path: str  # parquet directory (url, warc_ts, html)
    attempt0_path: str  # job_resume only: the seeded half attempt 0 extracts
    reference: list[dict]
    gen_s: float  # single-process seconds spent in the generators


def _write_parquet(path: str, docs: list[tuple[int, str, bytes]], n_files: int) -> None:
    """(index, url, payload) rows as ``n_files`` parquet files of the pages
    schema the program reads: (url, warc_ts, html)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    step = -(-len(docs) // n_files)
    for f, lo in enumerate(range(0, len(docs), step)):
        part = docs[lo : lo + step]
        tbl = pa.table(
            {
                "url": [d[1] for d in part],
                "warc_ts": pa.array(
                    [_EPOCH + dt.timedelta(seconds=d[0]) for d in part],
                    pa.timestamp("us", tz="UTC"),
                ),
                "html": pa.array([d[2] for d in part], pa.binary()),
            }
        )
        pq.write_table(tbl, os.path.join(path, f"part-{f:05d}.parquet"))


def code_digest(root: str) -> str:
    """Hash of the sources a table and its reference are computed from."""
    h = hashlib.sha256()
    paths = [os.path.abspath(__file__)]
    for dirpath, _, files in os.walk(os.path.join(root, "docling_spark")):
        paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, root).encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def load_table(workload: str, seed: int, cache_dir: str, procs: int,
               root: str) -> tuple[Table, bool]:
    """(table, was_cached). Generates and references in ``procs`` forked
    processes on a miss; the cache entry appears atomically by rename."""
    size = SIZES[workload]
    entry = os.path.join(cache_dir, f"{workload}-seed{seed}-n{size}-{code_digest(root)}")
    meta_path = os.path.join(entry, "reference.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        return Table(size, os.path.join(entry, "pages"),
                     os.path.join(entry, "attempt0"),
                     meta["reference"], meta["gen_s"]), True

    ids = list(range(size))
    chunks = [(workload, seed, ids[k::procs]) for k in range(procs)]
    # fork, not spawn: a spawning pool leaves a resource-tracker process
    # running until this process exits
    with multiprocessing.get_context("fork").Pool(procs) as pool:
        results = pool.map(_gen_chunk, chunks)
    by_id: dict[int, tuple] = {}
    for (_, _, chunk_ids), (docs, _) in zip(chunks, results):
        by_id.update(zip(chunk_ids, docs))
    docs = [by_id[i] for i in ids]
    gen_s = sum(g for _, g in results)

    tmp = f"{entry}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    rows = [(i, url, payload) for i, (url, payload, _) in zip(ids, docs)]
    _write_parquet(os.path.join(tmp, "pages"), rows, procs)
    if workload == "job_resume":
        first = resume_attempt0_urls(seed, [r[1] for r in rows])
        _write_parquet(os.path.join(tmp, "attempt0"), [r for r in rows if r[1] in first], procs)
    with open(os.path.join(tmp, "reference.json"), "w") as f:
        json.dump({"gen_s": gen_s, "reference": [d[2] for d in docs]}, f)
    try:
        os.rename(tmp, entry)
    except OSError:  # another run cached it first
        shutil.rmtree(tmp, ignore_errors=True)
    return load_table(workload, seed, cache_dir, procs, root)[0], False


def sample_docs(workload: str, seed: int, n: int) -> list[tuple[str, bytes]]:
    """A seeded sample of the workload's own documents, regenerated."""
    size = SIZES[workload]
    ids = sorted(random.Random(f"sample:{workload}:{seed}").sample(range(size), min(n, size)))
    return [GENERATORS[workload](seed, i) for i in ids]
