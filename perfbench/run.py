#!/usr/bin/env python3
"""Extraction benchmark: the production job ``jobs/extract_job.main`` on
seeded corpora, in a warm local Spark session.

One workload, one seed:

    python3 perfbench/run.py --workload pdf_whales --seed 1 --seconds 32 --trace 0

With ``--trace 0`` it makes one timed call per 8 s of ``--seconds`` and
prints the end-to-end metrics (medians over the calls); with ``--trace 1``
it makes one call with Spark's event log on and prints the per-layer
metrics. Every workload for one seed, untraced then traced, with a table
of every metric and the tracing overhead:

    python3 perfbench/run.py --seed 1

The last line of a single-workload run is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
is the run's record (settings, corpus size, host calibration, every call).
Run from the repository root. Scratch files go to ``.bench_work/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import eventlog  # noqa: E402

BENCH_FILE = os.path.join(ROOT, "BENCHMARK.json")
# rows per Arrow batch, as the engine's session factory sets it
BATCH_ROWS = 256
# docs in the single-process pdfcore / row-building sample
SAMPLE_DOCS = 64
# --seconds buys one timed call (with its output check) per this many
# seconds; a call takes 5-8 s on 4 vCPUs
CALL_SECONDS = 8
# how long leftover processes get to exit on SIGTERM before SIGKILL
REAP_GRACE_S = 10


def _parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=corpus.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=32)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parallelism", type=int, default=3, help="N of local[N]")
    return ap.parse_args(argv)


# --- host and process measurements -----------------------------------------


# A fixed pure-Python loop pinned to one vCPU; uses nothing of the repo.
SPIN = """
import os, sys, time
os.sched_setaffinity(0, {int(sys.argv[1])})
t0 = time.perf_counter()
acc = 0
for i in range(1_500_000):
    acc += i * i % 7
print(time.perf_counter() - t0)
"""


def calibrate() -> list[float]:
    """The spin loop's time on every vCPU at once, one interpreter each."""
    cpus = sorted(os.sched_getaffinity(0))
    procs = [
        subprocess.Popen([sys.executable, "-c", SPIN, str(c)], stdout=subprocess.PIPE, text=True)
        for c in cpus
    ]
    return [round(float(p.communicate()[0]), 4) for p in procs]


def become_subreaper() -> None:
    """Have orphaned descendants (the Python workers, once the JVM and the
    daemon have gone) re-parented to this process rather than to init, so
    that reap_descendants can wait for every one of them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_descendants() -> None:
    """Stop every process this one started, directly or not, and wait until
    each has ended: SIGTERM, then SIGKILL after REAP_GRACE_S. With this
    process a subreaper, having no children left means having no
    descendants left."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _children() -> dict:
    """pid -> parent pid for every process."""
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(pid)] = int(fields[1])
    return out


def _descendants(root: int) -> list[int]:
    parents = _children()
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def tree_cpu_s() -> float:
    """User+system CPU of this process's descendants (the JVM, the Python
    daemon and workers), including children they have reaped."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / ticks


def python_worker_peak_rss_mb() -> float:
    peak = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if status.get("Name", "").strip().startswith("python"):
            peak = max(peak, int(status.get("VmHWM", "0 kB").split()[0]))
    return peak / 1024


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


# --- the Spark side ---------------------------------------------------------


def start_session(n: int, run_dir: str, event_log: str | None):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the environment variable would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    from delphi_pdf_parser_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(BATCH_ROWS),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                # Spark 4 compresses with zstd by default; Python has no codec here
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM that PySpark launched and wait for it
    to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    try:
        spark.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            SparkContext._gateway = None
            SparkContext._jvm = None
            try:
                gateway.shutdown()
            finally:
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    gateway.proc.kill()
                    gateway.proc.wait()


def _job(argv: list[str]) -> None:
    from jobs.extract_job import main

    main(argv)


def check_output(spark, path: str, expected: dict) -> list[str]:
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(path)
        .select("url", "status", F.sha2("text", 256))
        .collect()
    )
    return corpus.mismatches(expected, (tuple(r) for r in rows))


def timed_call(spark, meta: dict, call_dir: str, prior: str | None, tag: str | None = None) -> dict:
    """One extract_job.main call with Spark's cache cleared just before it;
    ``tag`` marks the jobs it runs in the event log."""
    out = os.path.join(call_dir, "output")
    met = os.path.join(call_dir, "metrics")
    if prior:
        shutil.copytree(os.path.join(prior, "output"), out)
        shutil.copytree(os.path.join(prior, "metrics"), met)
    argv = ["--input", meta["docs_path"], "--output", out, "--metrics", met]
    if prior:
        argv.append("--resume")
    before = dir_bytes(call_dir)
    spark.catalog.clearCache()
    cpu0 = tree_cpu_s()
    sc = spark.sparkContext
    sc.setLocalProperty(eventlog.CALL_PROPERTY, tag)
    t0 = time.perf_counter()
    try:
        _job(argv)
    finally:
        job_s = time.perf_counter() - t0
        sc.setLocalProperty(eventlog.CALL_PROPERTY, None)
    cpu_s = tree_cpu_s() - cpu0
    written = dir_bytes(call_dir) - before
    bad = check_output(spark, out, meta["expected"])
    shutil.rmtree(call_dir)
    docs = meta["call_docs"]
    return {
        "job_s": job_s,
        "docs_per_s": docs / job_s,
        "cpu_ms_per_doc": cpu_s * 1000 / docs,
        "py_worker_peak_rss_mb": python_worker_peak_rss_mb(),
        "written_bytes_per_doc": written / docs,
        "match_share": 1 - len(bad) / len(meta["expected"]),
        "mismatched": bad,
    }


def make_prior(meta: dict, run_dir: str) -> str:
    """The prior state a --resume call starts from: the code under test
    extracts the corpus's done share into output and metrics."""
    prior = os.path.join(run_dir, "prior")
    _job(
        [
            "--input", meta["done_path"],
            "--output", os.path.join(prior, "output"),
            "--metrics", os.path.join(prior, "metrics"),
        ]
    )
    return prior


def noop_prefixes(spark, docs_path: str) -> dict:
    """The job's plan cut after the scan, after prefilter+salting and after
    extraction, each run into a noop sink."""
    from delphi_pdf_parser_spark.operators.extraction import (
        extract_documents_balanced,
        prefilter_pdfs,
        salt_by_size,
    )

    def timed(df) -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    docs = spark.read.parquet(docs_path)
    return {
        "sources.scan_s": timed(docs),
        "extraction.prefix_salt_s": timed(salt_by_size(prefilter_pdfs(docs))),
        "extraction.prefix_extract_s": timed(extract_documents_balanced(docs)),
    }


def pdfcore_sample(meta: dict, workload: str) -> list[tuple[str, bytes]]:
    """A fixed sample of the corpus: one doc of each fixture case for
    pdf_features_resume, else the first SAMPLE_DOCS docs below the whale
    size."""
    import pyarrow.parquet as pq

    rows = pq.read_table(meta["docs_path"]).to_pylist()
    if workload == "pdf_features_resume":
        by_case = {}
        for r in rows:
            by_case.setdefault(r["url"].split("/")[3], (r["url"], r["html"]))
        return [by_case[c] for c in sorted(by_case)]
    small = [(r["url"], r["html"]) for r in rows if len(r["html"]) < corpus.WHALE_MIN_BYTES]
    return small[:SAMPLE_DOCS]


# --- one workload -----------------------------------------------------------


def _versions(spark) -> dict:
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def run_workload(args) -> dict:
    t_imports = time.perf_counter() - T_START
    calib_before = calibrate()
    meta = corpus.build(args.workload, args.seed, os.path.join(WORK, "corpus"))
    whales = meta["whales"]
    meta["call_docs"] = meta["docs"] - meta["done_docs"]

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    t_setup = time.perf_counter()
    spark = start_session(args.parallelism, run_dir, event_log)
    session_s = time.perf_counter() - t_setup
    try:
        prior = make_prior(meta, run_dir) if meta["done_docs"] else None
        # one untimed call of the workload itself: it starts the Python
        # workers and leaves the JVM compiled for exactly what is timed
        timed_call(spark, meta, os.path.join(run_dir, "warm-up"), prior)
        setup_s = t_imports + time.perf_counter() - t_setup
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "master": f"local[{args.parallelism}]",
            "nproc": os.cpu_count(),
            "versions": _versions(spark),
            "corpus": {k: meta[k] for k in ("docs", "pages", "bytes")},
            "call_docs": meta["call_docs"],
        }
        if args.trace:
            metrics, failed, attempted = _traced(spark, args, meta, run_dir, prior, whales)
        else:
            metrics, failed, attempted, calls = _measured(spark, args, meta, run_dir, prior)
            metrics["setup_s"] = setup_s
            record["calls"] = calls
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    record["setup_s"] = setup_s
    record["session_s"] = session_s
    record["calibration_s"] = {"before": calib_before, "after": calibrate()}
    record["wall_s"] = time.perf_counter() - T_START
    return {"record": record, "metrics": metrics, "failed": failed, "attempted": attempted}


def _measured(spark, args, meta, run_dir, prior):
    # a fixed number of calls per run: a time-limited loop makes more calls
    # when the host is fast, and later calls run on a warmer JVM
    n = max(1, round(args.seconds / CALL_SECONDS))
    calls = [
        timed_call(spark, meta, os.path.join(run_dir, f"call-{i}"), prior)
        for i in range(n)
    ]
    names = [m for m in _declared("end_to_end") if m != "setup_s"]
    metrics = {m: statistics.median(c[m] for c in calls) for m in names}
    failed = sum(len(c["mismatched"]) for c in calls)
    attempted = meta["call_docs"] * len(calls)
    for c in calls:
        c["mismatched"] = c["mismatched"][:5]
    return metrics, failed, attempted, calls


def _traced(spark, args, meta, run_dir, prior, whales):
    import pdftrace

    call = timed_call(spark, meta, os.path.join(run_dir, "traced"), prior, tag="traced")
    metrics = {"trace.job_s": call["job_s"]}
    metrics.update(noop_prefixes(spark, meta["docs_path"]))
    spark.stop()
    events = eventlog.read_events(os.path.join(run_dir, "eventlog"))
    metrics.update(eventlog.call_metrics(events, "traced", meta["call_docs"], whales))
    shutil.rmtree(os.path.join(run_dir, "eventlog"))

    metrics.update(pdftrace.sample_passes(pdfcore_sample(meta, args.workload), BATCH_ROWS))

    # the cache guard: a call after clearCache() must extract every doc
    # that takes the main path, not read the previous call's cache
    main_path_docs = meta["call_docs"] - whales
    bad = list(call["mismatched"])
    if metrics["extraction.py_rows_returned"] != main_path_docs:
        bad.append(f"py_rows_returned={metrics['extraction.py_rows_returned']} != {main_path_docs}")
    if metrics.pop("_whales_counted") != whales:
        bad.append("whale count")
    names = _declared("per_layer")
    return {m: metrics[m] for m in names}, len(bad), meta["call_docs"]


def _declared(kind: str) -> dict:
    """name -> unit of the ``kind`` metrics in BENCHMARK.json."""
    with open(BENCH_FILE) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def run_one(args) -> int:
    try:
        import delphi_pdf_parser_spark  # noqa: F401
        import jobs.extract_job  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    res = run_workload(args)
    units = _declared("per_layer" if args.trace else "end_to_end")
    print(json.dumps({"record": res["record"]}))
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()
                },
            }
        )
    )
    return 0


def run_all(args) -> int:
    """Every workload for one seed, untraced then traced, one process each."""
    results = {}
    for w in corpus.WORKLOADS:
        for trace in (0, 1):
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--workload", w, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(trace),
                "--parallelism", str(args.parallelism),
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                sys.stderr.write(proc.stderr)
                print(f"{w} trace={trace}: exit {proc.returncode}")
                return 1
            results[w, trace] = (json.loads(lines[-2])["record"], json.loads(lines[-1]))
    for w in corpus.WORKLOADS:
        rec, res = results[w, 0]
        _, tres = results[w, 1]
        c = rec["corpus"]
        mismatch = res["failed"] / res["attempted"]
        print(
            f"\n== {w}  seed={args.seed}  {rec['master']}  spark {rec['versions']['spark']}"
            f"  pyspark {rec['versions']['pyspark']}  python {rec['versions']['python']}"
            f"\n   corpus: {c['docs']} docs, {c['pages']} pages, {c['bytes']} bytes;"
            f" {rec['call_docs']} docs per call, {len(rec['calls'])} calls;"
            f" correct={res['correct'] and tres['correct']} mismatch_share={mismatch:.4f}"
        )
        for name, m in {**res["metrics"], **tres["metrics"]}.items():
            print(f"   {name:40s} {m['value']:>14.4f} {m['unit']}")
        overhead = tres["metrics"]["trace.job_s"]["value"] - res["metrics"]["job_s"]["value"]
        print(f"   {'tracing overhead (trace.job_s - job_s)':40s} {overhead:>14.4f} s")
    return 0


def _terminated(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    cli = _parse_args()
    become_subreaper()
    signal.signal(signal.SIGTERM, _terminated)
    try:
        code = run_one(cli) if cli.workload else run_all(cli)
    finally:
        reap_descendants()
    sys.exit(code)
