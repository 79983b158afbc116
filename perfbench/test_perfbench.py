"""Tests of the benchmark's own checks. Run from the repository root:

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import corpus  # noqa: E402
import eventlog  # noqa: E402
import run  # noqa: E402

from delphi_pdf_parser_spark.pdfcore import extract_text  # noqa: E402


def _rows(docs):
    for url, pdf in docs:
        res = extract_text(pdf)
        text = res.text if res.status != "failed" else None
        yield url, res.status, corpus.sha256_text(text) if text is not None else None


def test_text_docs_extract_to_the_lines_written():
    rng = random.Random(7)
    for npages in (1, 2, 8):
        pdf, text = corpus.text_pdf(rng, npages)
        res = extract_text(pdf)
        assert (res.status, res.npages, res.text) == ("ok", npages, text)


def test_feature_variants_keep_the_goldens(tmp_path):
    """The trailing comment that makes each variant unique changes no
    case's text, status or page count."""
    cases = corpus._fixture_cases(str(tmp_path))
    assert len(cases) == 77
    for case in cases:
        base = extract_text(case["pdf"])
        var = extract_text(case["pdf"] + b"%bench-3-141\n")
        assert (var.status, var.npages, var.text) == (base.status, base.npages, base.text)
        want = corpus._expected(case["golden"])
        assert var.status in want["status"], case["case"]
        if want["sha256"]:
            assert corpus.sha256_text(var.text) == want["sha256"], case["case"]


def test_mismatch_check_fails_on_one_changed_digest():
    rng = random.Random(3)
    docs, expected = [], {}
    for i in range(6):
        pdf, text = corpus.text_pdf(rng, 1 + i % 3)
        url = f"u{i}"
        docs.append((url, pdf))
        expected[url] = corpus._expected(text)
    rows = list(_rows(docs))
    assert corpus.mismatches(expected, rows) == []

    changed = json.loads(json.dumps(expected))
    changed["u4"]["sha256"] = corpus.sha256_text("something else")
    assert corpus.mismatches(changed, rows) == ["u4"]

    assert corpus.mismatches(expected, rows[1:]) == ["u0"]  # missing row
    assert corpus.mismatches(expected, rows + rows[2:3]) == ["u2"]  # duplicate
    failed = [(u, "failed", None) if u == "u5" else (u, s, h) for u, s, h in rows]
    assert corpus.mismatches(expected, failed) == ["u5"]  # unexpected status


def test_pdfcore_layers_cover_extract_text(tmp_path):
    """The named pdfcore layers account for 90-110% of extract_text's
    time, on text docs and on the fixture cases (aesv3 left out: it is
    one slow case of crypt)."""
    import pdftrace

    rng = random.Random(5)
    text = [(f"t{i}", corpus.text_pdf(rng, 1 + i % 4)[0]) for i in range(12)]
    fixtures = [
        (c["case"], c["pdf"])
        for c in corpus._fixture_cases(str(tmp_path))
        if c["case"] not in corpus.FEATURE_LIGHT_CASES
    ]
    for sample in (text, fixtures):
        m = pdftrace.sample_passes(sample, batch_rows=8, rounds=1)
        assert 0.9 <= m["pdfcore.coverage"] <= 1.1, m
        assert m["extraction.rowbuild_ms_per_doc"] > 0
        assert m["pdfcore.font_loads"] > 0


def test_every_per_layer_metric_has_a_layer_map_entry():
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    declared = run._declared("per_layer")
    assert sorted(layers["metrics"]) == sorted(declared)
    assert sorted(layers["workloads"]) == sorted(corpus.WORKLOADS)


def test_cache_guard_reextracts_on_every_call(tmp_path):
    """extract_job caches its extracted frame and never unpersists it, so a
    second call on the same input in one session would read the first
    call's cache. timed_call clears Spark's cache first: each call's
    Python UDF returns a row per document."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(11)
    docs, expected = [], {}
    for i in range(24):
        pdf, text = corpus.text_pdf(rng, 1 + i % 4)
        docs.append((f"https://bench.example/guard/{i}.pdf", pdf))
        expected[docs[-1][0]] = corpus._expected(text)
    path = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"url": [u for u, _ in docs], "html": pa.array([d for _, d in docs], pa.binary())}),
        path,
    )
    meta = {"docs_path": path, "expected": expected, "call_docs": len(docs)}
    log = str(tmp_path / "eventlog")
    spark = run.start_session(2, str(tmp_path), log)
    try:
        for tag in ("first", "second"):
            call = run.timed_call(spark, meta, str(tmp_path / tag), None, tag=tag)
            assert call["mismatched"] == []
    finally:
        run.stop_session(spark)  # flushes the event log
    events = eventlog.read_events(log)
    for tag in ("first", "second"):
        m = eventlog.call_metrics(events, tag, len(docs), 0)
        assert m["extraction.py_rows_returned"] == len(docs), tag
