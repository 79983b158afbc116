"""Seeded corpora for the extraction benchmark, with the text each
document is known to contain.

Every corpus is a parquet file of ``(url, html)`` rows, the input shape of
``jobs/extract_job.py``, plus ``corpus.json`` with its size and, for each
url, the statuses and text SHA-256 the job may produce. The text documents are
written here, not by the engine's fixture module, so a change to the
engine cannot change the benchmark's inputs or its expectations.

Corpora depend only on (workload, seed) and are cached on disk, so corpus
generation stays outside every timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua"
).split()

LINES_PER_PAGE = 30
WORDS_PER_LINE = 8

# Urls, page counts and case mix do not depend on the seed; the words of
# the text docs and the bytes of the fixture variants do. Spark places
# rows by url hash, so this keeps each seed's partition loads alike and
# the job's time comparable across seeds. Text docs cycle through 1..8
# pages.
TEXT_MAX_PAGES = 8
# pdf_whales: small text docs plus a whale above the job's default
# --whale-bytes of 1 MiB (a 2,000-page doc is ~1.7 MB); the chunked path
# re-opens it once per 100-page chunk, so one whale costs about as much
# CPU as the 600 small docs together
WHALE_SMALL_DOCS = 600
WHALES = 1
WHALE_PAGES = 2000
WHALE_MIN_BYTES = 1 << 20
# pdf_features_resume: copies of each fixture case. The R6 key derivation
# makes aesv3_empty_password ~1,300x dearer than the mean of the other 76
# cases (662 ms vs 0.5 ms per doc, single process), so it gets one copy;
# with 150 of every other case it holds ~10% of the single-process
# extraction time of the docs the timed call extracts, and no case holds
# more. A further 50 copies of each cheap case make up the prior run that
# the timed --resume call skips.
FEATURE_COPIES = 150
FEATURE_DONE_COPIES = 50
FEATURE_LIGHT_CASES = {"aesv3_empty_password": 1}

WORKLOADS = ("pdf_whales", "pdf_features_resume")


def sha256_text(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _pdf(objects: list[bytes]) -> bytes:
    """Classic-xref PDF; object 1 is the catalog."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, body in enumerate(objects, 1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objects) + 1)
    for ofs in offsets:
        out += b"%010d 00000 n \n" % ofs
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objects) + 1,
        xref,
    )
    return bytes(out)


def text_pdf(rng: random.Random, npages: int) -> tuple[bytes, str]:
    """A multi-page Helvetica text PDF with Flate content streams: one
    ``Tm``/``Tj`` pair per line, 30 lines a page (the engine's bench_pdf
    template). Returns the PDF and the text extraction must give: each
    line ends in CRLF."""
    objects = [b"<< /Type /Catalog /Pages 2 0 R >>"]
    kids = " ".join(f"{3 + i} 0 R" for i in range(npages))
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {npages} >>".encode()
    )
    font = 3 + 2 * npages
    for i in range(npages):
        objects.append(
            (
                "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font} 0 R >> >> "
                f"/Contents {3 + npages + i} 0 R >>"
            ).encode()
        )
    text = []
    for _ in range(npages):
        ops = []
        y = 740
        for _ in range(LINES_PER_PAGE):
            line = " ".join(rng.choices(_WORDS, k=WORDS_PER_LINE))
            ops.append(f"1 0 0 1 72 {y} Tm ({line}) Tj")
            text.append(line + "\r\n")
            y -= 18
        data = zlib.compress(("BT /F1 10 Tf " + " ".join(ops) + " ET").encode())
        objects.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(data)
            + data
            + b"\nendstream"
        )
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    return _pdf(objects), "".join(text)


def _text_docs(seed: int, ndocs: int, prefix: str):
    rng = random.Random(seed)
    for i in range(ndocs):
        npages = 1 + i % TEXT_MAX_PAGES
        pdf, text = text_pdf(rng, npages)
        yield f"https://bench.example/{prefix}/{i}.pdf", pdf, text, npages


def _fixture_cases(cache_dir: str) -> list[dict]:
    """The engine's 77 fixture cases, cached once per checkout (they are
    seed-free and take seconds to build)."""
    path = os.path.join(cache_dir, "fixture_cases.parquet")
    if not os.path.exists(path):
        from delphi_pdf_parser_spark.fixtures import generate_fixtures

        rows = [
            {"case": cid, "pdf": fx["pdf"], "golden": fx["golden"], "npages": fx["npages"]}
            for cid, fx in sorted(generate_fixtures().items())
        ]
        tmp = path + f".{os.getpid()}.tmp"
        pq.write_table(pa.Table.from_pylist(rows), tmp)
        os.replace(tmp, path)
    return pq.read_table(path).to_pylist()


def _feature_docs(seed: int, cache_dir: str):
    """Per-doc unique variants of every fixture case: a trailing ``%``
    comment after ``%%EOF`` changes the bytes, not the text, status or
    page count. Yields (url, pdf, golden, npages, done) in a seeded
    order; ``done`` marks the prior run's share."""
    rng = random.Random(seed)
    units = []
    for case in _fixture_cases(cache_dir):
        todo = FEATURE_LIGHT_CASES.get(case["case"], FEATURE_COPIES)
        done = 0 if case["case"] in FEATURE_LIGHT_CASES else FEATURE_DONE_COPIES
        units += [(case, k, k >= todo) for k in range(todo + done)]
    rng.shuffle(units)
    for case, k, done in units:
        pdf = case["pdf"] + b"%%bench-%d-%d\n" % (seed, k)
        url = f"pdf://fixture/{case['case']}/{k}"
        yield url, pdf, case["golden"], case["npages"], done


def _expected(golden: str | None) -> dict:
    if golden is None:  # the fixture's expected failure (wrong password)
        return {"status": ["failed"], "sha256": None}
    return {"status": ["ok", "repaired"], "sha256": sha256_text(golden)}


def build(workload: str, seed: int, cache_dir: str) -> dict:
    """Write the corpus for (workload, seed) under ``cache_dir`` once and
    return its description: paths, expected rows and sizes."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(cache_dir, exist_ok=True)
    out = os.path.join(cache_dir, f"{workload}-{seed}")
    meta_path = os.path.join(out, "corpus.json")
    if not os.path.exists(meta_path):
        _write(workload, seed, cache_dir, out)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["docs_path"] = os.path.join(out, "docs.parquet")
    if meta["done_docs"]:
        meta["done_path"] = os.path.join(out, "done.parquet")
    return meta


def _write(workload: str, seed: int, cache_dir: str, out: str) -> None:
    """docs: (url, pdf, expected text or None, pages, in the prior run)"""
    if workload == "pdf_whales":
        docs = [d + (False,) for d in _text_docs(seed, WHALE_SMALL_DOCS, "small")]
        rng = random.Random(seed ^ 0x5EED)
        for i in range(WHALES):
            pdf, text = text_pdf(rng, WHALE_PAGES)
            url = f"https://bench.example/whale/{i}.pdf"
            docs.append((url, pdf, text, WHALE_PAGES, False))
    else:
        docs = list(_feature_docs(seed, cache_dir))
    tmp = f"{out}.{os.getpid()}.tmp"
    os.makedirs(tmp, exist_ok=True)

    def table(rows):
        return pa.table(
            {
                "url": [d[0] for d in rows],
                "html": pa.array([d[1] for d in rows], pa.binary()),
            }
        )

    pq.write_table(table(docs), os.path.join(tmp, "docs.parquet"))
    done = [d for d in docs if d[4]]
    if done:
        pq.write_table(table(done), os.path.join(tmp, "done.parquet"))
    meta = {
        "docs": len(docs),
        "pages": sum(d[3] for d in docs),
        "bytes": sum(len(d[1]) for d in docs),
        "whales": sum(len(d[1]) >= WHALE_MIN_BYTES for d in docs),
        "done_docs": len(done),
        "expected": {d[0]: _expected(d[2]) for d in docs},
    }
    with open(os.path.join(tmp, "corpus.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out)


def mismatches(expected: dict, rows) -> list[str]:
    """Urls whose output is wrong: a row missing or duplicated, an
    unexpected status, or text whose SHA-256 differs. ``rows`` yields
    (url, status, text_sha256); urls not in ``expected`` count too."""
    seen: dict = {}
    bad = set()
    for url, status, sha in rows:
        want = expected.get(url)
        if url in seen or want is None:
            bad.add(url)
        elif status not in want["status"] or (
            want["sha256"] is not None and sha != want["sha256"]
        ):
            bad.add(url)
        seen[url] = True
    bad.update(u for u in expected if u not in seen)
    return sorted(bad)
