"""pdfcore layer timings from a single-process pass over a sample of
documents.

``traced_pass`` wraps pdfcore's public functions at the module attribute
their caller looks up (``extract.PdfDocument``, ``interp.load_font`` ...),
runs ``extract_text`` on each document and restores the originals. Each
wrapper records a span (name, start, end, parent, run id) in memory; a
layer's self time is its spans' durations minus the parts their child
spans cover. The content lexer cannot be wrapped apart from the
interpreter that pulls tokens from it, so its time comes from a lex-only
pass over the page contents the traced pass loaded, and the interpreter's
time is ``run_buffer``'s self time minus that.

``sample_passes`` also times the extraction UDF body around
``extract_text`` on local pandas batches.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

# (module, attribute, layer)
_WRAPPED = (
    ("extract", "PdfDocument", "open"),
    ("document", "StdSecurityHandler", "crypt"),
    ("extract", "load_page_tree", "pagetree"),
    ("extract", "extract_info", "metadata"),
    ("extract", "load_page", "page_load"),
    ("document", "apply_filter", "filters"),
    ("interp", "load_font", "fonts"),
    ("extract", "run_buffer", "interp"),
    ("TextDevice", "close", "textdev"),
    ("TextDevice", "to_text", "textdev"),
)
LAYERS = (
    "open", "crypt", "pagetree", "metadata", "page_load", "filters",
    "fonts", "interp", "textdev",
)


class Tracer:
    def __init__(self):
        self.spans: list = []  # [name, start, end, parent index, run id]
        self.stack: list = []
        self.run_id = 0
        self.counts: Counter = Counter()

    def span(self, name: str, fn, *args, **kwargs):
        parent = self.stack[-1] if self.stack else -1
        idx = len(self.spans)
        rec = [name, 0.0, 0.0, parent, self.run_id]
        self.spans.append(rec)
        self.stack.append(idx)
        rec[1] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            rec[2] = time.perf_counter()
            self.stack.pop()

    def wrap(self, name: str, fn):
        def wrapped(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        return wrapped

    def self_times(self) -> Counter:
        covered = [0.0] * len(self.spans)
        for name, start, end, parent, _ in self.spans:
            if parent >= 0:
                covered[parent] += end - start
        out: Counter = Counter()
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name] += end - start - covered[i]
        return out


@contextmanager
def _patched(tracer: Tracer, contents: list):
    from delphi_pdf_parser_spark.pdfcore import document, extract, interp, textdev

    owners = {
        "extract": extract,
        "document": document,
        "interp": interp,
        "TextDevice": textdev.TextDevice,
    }
    saved = []
    for owner_name, attr, layer in _WRAPPED:
        owner = owners[owner_name]
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        fn = orig
        if layer == "fonts":
            fn = _counting_fonts(tracer, orig)
        elif layer == "page_load":
            fn = _capturing_pages(orig, contents)
        setattr(owner, attr, tracer.wrap(layer, fn))
    try:
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _counting_fonts(tracer: Tracer, load_font):
    """A load_font call is a hit when the per-document font cache it is
    handed already holds the font (the cache does not grow)."""

    def counted(doc, rdb, ref, cache):
        tracer.counts["font_loads"] += 1
        before = len(cache)
        font = load_font(doc, rdb, ref, cache)
        tracer.counts["font_hits"] += len(cache) == before
        return font

    return counted


def _capturing_pages(load_page, contents: list):
    def captured(doc, number):
        page = load_page(doc, number)
        contents.append(page.contents or b"")
        return page

    return captured


def _lex_pass(contents: list) -> tuple[float, int]:
    from delphi_pdf_parser_spark.pdfcore import lexer as lx

    tokens = 0
    t0 = time.perf_counter()
    for data in contents:
        cursor = lx.ContentTokens(lx.Lexer(data))
        while cursor.lex()[0] != lx.TOK_EOF:
            tokens += 1
    return time.perf_counter() - t0, tokens


def traced_pass(docs: list[bytes]) -> tuple[dict, float]:
    """``pdfcore.*`` metrics over ``docs`` (times in ms per doc), and the
    pass's extract_text wall time in seconds."""
    from delphi_pdf_parser_spark.pdfcore import extract

    tracer = Tracer()
    contents: list = []
    with _patched(tracer, contents):
        for i, data in enumerate(docs):
            tracer.run_id = i
            tracer.span("extract_text", extract.extract_text, data)
    lex_s, tokens = _lex_pass(contents)
    own = tracer.self_times()
    own["interp"] -= lex_s
    wall = sum(end - start for name, start, end, parent, _ in tracer.spans if parent < 0)
    n = len(docs)
    loads = tracer.counts["font_loads"]
    out = {f"pdfcore.{layer}_ms": own[layer] * 1000 / n for layer in LAYERS}
    out.update(
        {
            "pdfcore.lexer_ms": lex_s * 1000 / n,
            "pdfcore.tokens": tokens,
            "pdfcore.font_loads": loads,
            "pdfcore.font_cache_hit_ratio": tracer.counts["font_hits"] / loads if loads else 0.0,
            "pdfcore.coverage": (sum(own[layer] for layer in LAYERS) + lex_s) / wall,
        }
    )
    return out, wall


def sample_passes(docs: list[tuple[str, bytes]], batch_rows: int, rounds: int = 3) -> dict:
    """pdfcore layer metrics from the fastest of ``rounds`` traced passes
    over the (url, pdf) sample, and the row-building cost of the
    extraction UDF body: ``_extract_batches`` on local pandas batches
    (no Spark) with ``extract_text`` replaced by a lookup of results
    computed beforehand, so only the work around extract_text is timed.
    Taking the fastest round keeps a slow spell of the host in one round
    out of the figures."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from delphi_pdf_parser_spark.operators.extraction import (
        EXTRACTED_SCHEMA,
        _extract_batches,
    )
    from delphi_pdf_parser_spark.pdfcore import extract

    pdfs = [d for _, d in docs]
    results = {data: extract.extract_text(data) for data in pdfs}
    frame = pd.DataFrame({"url": [u for u, _ in docs], "html": pdfs})
    batches = [frame.iloc[i : i + batch_rows] for i in range(0, len(frame), batch_rows)]
    udf_s, out = [], []
    real = extract.extract_text
    extract.extract_text = lambda data, want_metadata=True, password=b"": results[data]
    try:
        for _ in range(rounds):
            t0 = time.perf_counter()
            out = list(_extract_batches(iter(batches)))
            udf_s.append(time.perf_counter() - t0)
    finally:
        extract.extract_text = real
    traced, _ = min((traced_pass(pdfs) for _ in range(rounds)), key=lambda p: p[1])
    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    nbytes = sum(pa.Table.from_pandas(b, schema=schema, preserve_index=False).nbytes for b in out)
    n = len(docs)
    traced.update(
        {
            "extraction.rowbuild_ms_per_doc": min(udf_s) * 1000 / n,
            "extraction.arrow_out_bytes_per_doc": nbytes / n,
        }
    )
    return traced
