"""Spark-layer metrics of one ``extract_job.main`` call, read from Spark's
own event log.

The session writes an uncompressed, non-rolling JSON event log. The call
runs with the local property ``perfbench.call`` set, which every job it
submits carries; that selects the call's jobs, SQL executions, stages and
tasks out of a log that also holds the warm-up.

SQL metrics are read per plan node: each node of the executed plan lists
the accumulator ids of its metrics, and task-end events carry their
updates. Nodes are told apart by plan shape:

- the extraction node is a ``MapInPandas`` with no ``ArrowEvalPython``
  below it; the whale chunk node is the ``MapInPandas`` above the
  page-count ``ArrowEvalPython``; the merge node is
  ``FlatMapGroupsInPandas``
- the salt exchange is the nearest ``Exchange`` below the extraction
  node; the chunk exchange is the nearest one below the chunk node
- the resume side is the ``LeftAnti`` join and everything below it
  except its first (documents) child
- a root SQL execution is a write when its plan inserts into a
  directory; the job names them ``--output`` and ``--metrics``, and the
  benchmark passes directories named ``output`` and ``metrics``
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

CALL_PROPERTY = "perfbench.call"

PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
ROWS = "number of output rows"
SHUFFLE_BYTES = "shuffle bytes written"
# the target directory in the physical plan text of a parquet write
_WRITE_TARGET = re.compile(r"InsertIntoHadoopFsRelationCommand\nInput: [^\n]*\nArguments: ([^,\s]+)")


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".crc"):
            with open(path) as f:
                events += [json.loads(line) for line in f if line.strip()]
    return events


def _short(event: dict) -> str:
    return event["Event"].rsplit(".", 1)[-1]


def _num(v) -> int:
    return int(float(v))


class _Node:
    __slots__ = ("name", "desc", "metrics", "children")

    def __init__(self, info: dict):
        self.name = info["nodeName"]
        self.desc = info.get("simpleString", "")
        self.metrics = {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])}
        self.children = [_Node(c) for c in info.get("children", [])]

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def has_below(self, name: str) -> bool:
        return any(n.name == name for c in self.children for n in c.walk())

    def nearest(self, name: str):
        for c in self.children:
            for n in c.walk():
                if n.name == name:
                    return n
        return None


def _roles(plans: list[_Node]) -> dict:
    """role -> list of nodes (deduplicated by their accumulator ids)."""
    roles: dict = {}
    seen = set()

    def add(role, node):
        if node is None:
            return
        key = (role, tuple(sorted(node.metrics.values())))
        if key not in seen:
            seen.add(key)
            roles.setdefault(role, []).append(node)

    for plan in plans:
        for node in plan.walk():
            if node.name == "MapInPandas":
                if node.has_below("ArrowEvalPython"):
                    add("chunk", node)
                    add("chunk_exchange", node.nearest("Exchange"))
                else:
                    add("extract", node)
                    add("salt_exchange", node.nearest("Exchange"))
            elif node.name == "ArrowEvalPython":
                add("count_pages", node)
            elif node.name == "FlatMapGroupsInPandas":
                add("merge", node)
            elif "LeftAnti" in node.desc and node.name.endswith("Join"):
                for side in node.children[1:]:
                    for n in side.walk():
                        add("resume", n)
                add("resume", node)
    return roles


def call_metrics(events: list[dict], call: str, docs: int, whales: int) -> dict:
    """Per-layer metrics of the call tagged ``call``; ``docs`` is the
    number of documents it extracted, ``whales`` how many of them took
    the chunked path."""
    jobs = {}  # job id -> stage ids
    executions = set()
    first = last = None
    for i, e in enumerate(events):
        kind = _short(e)
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get(CALL_PROPERTY) == call:
                jobs[e["Job ID"]] = e["Stage IDs"]
                if "spark.sql.execution.id" in props:
                    executions.add(int(props["spark.sql.execution.id"]))
                first = i if first is None else first
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            last = i
    if not jobs:
        raise ValueError(f"no jobs tagged {CALL_PROPERTY}={call} in the event log")
    stages = {s for ids in jobs.values() for s in ids}

    plans: list[_Node] = []
    exec_span: dict = {}
    exec_plan_text: dict = {}
    roots = set()
    driver_acc: dict = {}
    for e in events:
        kind = _short(e)
        xid = e.get("executionId")
        if xid not in executions:
            continue
        if kind == "SparkListenerSQLExecutionStart":
            plans.append(_Node(e["sparkPlanInfo"]))
            exec_span[xid] = [e["time"], None]
            exec_plan_text[xid] = e.get("physicalPlanDescription", "")
            if e.get("rootExecutionId", xid) == xid:
                roots.add(xid)
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            plans.append(_Node(e["sparkPlanInfo"]))
        elif kind == "SparkListenerSQLExecutionEnd":
            exec_span[xid][1] = e["time"]
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc, v in e["accumUpdates"]:
                driver_acc[acc] = driver_acc.get(acc, 0) + _num(v)

    acc_total = dict(driver_acc)
    stage_accs: dict = {}
    stage_span: dict = {}
    tasks = []  # (duration ms, {accumulator id: update})
    for e in events:
        kind = _short(e)
        if kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            info = e["Task Info"]
            updates = {
                a["ID"]: _num(a["Update"])
                for a in info.get("Accumulables", [])
                if a.get("Update") is not None
            }
            for acc, v in updates.items():
                acc_total[acc] = acc_total.get(acc, 0) + v
            stage_accs.setdefault(e["Stage ID"], set()).update(updates)
            tasks.append((info["Finish Time"] - info["Launch Time"], updates))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si["Stage ID"] in stages and "Submission Time" in si:
                stage_span[si["Stage ID"]] = si["Completion Time"] - si["Submission Time"]

    roles = _roles(plans)

    def metric(role, name) -> int:
        return sum(
            acc_total.get(n.metrics[name], 0)
            for n in roles.get(role, [])
            if name in n.metrics
        )

    def accs(role, name=None) -> set:
        return {
            acc
            for n in roles.get(role, [])
            for m, acc in n.metrics.items()
            if name is None or m == name
        }

    def stage_seconds(ids: set) -> float:
        return sum(ms for s, ms in stage_span.items() if stage_accs.get(s, set()) & ids) / 1000

    # tasks that ran the extraction or chunk UDF over at least one row
    udf_rows = accs("extract", ROWS) | accs("chunk", ROWS)
    py_tasks = sorted(
        ms for ms, updates in tasks if any(updates.get(a, 0) > 0 for a in udf_rows)
    )
    rows = metric("extract", ROWS)
    chunk_rows = metric("chunk", ROWS)
    counted = metric("count_pages", ROWS)

    def exec_seconds(target) -> float:
        """Duration of the call's root executions that write under a
        directory named ``target`` (None: that write nothing)."""
        total = 0.0
        for x, (start, end) in exec_span.items():
            m = _WRITE_TARGET.search(exec_plan_text[x])
            written = os.path.basename(m.group(1).rstrip("/")) if m else None
            if x in roots and end is not None and written == target:
                total += (end - start) / 1000
        return total

    cache = {}
    for e in events[first : last + 1]:
        if _short(e) == "SparkListenerBlockUpdated":
            b = e["Block Updated Info"]
            if b["Block ID"].startswith("rdd_"):
                cache[b["Block ID"]] = b["Memory Size"] + b["Disk Size"]

    per_doc = 1 / max(docs, 1)
    return {
        "extraction.salt_stage_s": stage_seconds(accs("salt_exchange", SHUFFLE_BYTES)),
        "extraction.salt_shuffle_bytes": metric("salt_exchange", SHUFFLE_BYTES),
        "extraction.py_run_s": metric("extract", PY_RUN) / 1000,
        "extraction.py_boot_s": metric("extract", PY_BOOT) / 1000,
        "extraction.py_init_s": metric("extract", PY_INIT) / 1000,
        "extraction.py_bytes_sent_per_doc": metric("extract", PY_SENT) * per_doc,
        "extraction.py_bytes_returned_per_doc": metric("extract", PY_RETURNED) * per_doc,
        "extraction.py_rows_returned": rows,
        "extraction.task_max_over_median": (
            py_tasks[-1] / max(statistics.median(py_tasks), 1) if py_tasks else 0.0
        ),
        "extract_job.actions": len(roots),
        "extract_job.output_write_s": exec_seconds("output"),
        "extract_job.metrics_write_s": exec_seconds("metrics"),
        "extract_job.status_count_s": exec_seconds(None),
        "extract_job.cache_bytes": sum(cache.values()),
        "extract_job.resume_read_s": stage_seconds(accs("resume")),
        "balanced.count_pages_py_s": metric("count_pages", PY_RUN) / 1000,
        "balanced.chunk_units": chunk_rows,
        "balanced.chunk_shuffle_bytes": metric("chunk_exchange", SHUFFLE_BYTES),
        "balanced.chunk_py_s": metric("chunk", PY_RUN) / 1000,
        "balanced.merge_py_s": metric("merge", PY_RUN) / 1000,
        "balanced.opens_per_whale": (counted + chunk_rows) / whales if whales else 0.0,
        "_whales_counted": counted,
    }
