"""Offline reader for a local Spark event log.

Groups task-end metrics by the job description the benchmark sets around
each call (``SparkContext.setJobDescription``) and tracks block updates,
so the storage memory still held after each labelled call can be read.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def _new_label():
    return {"tasks": 0, "task_s": [], "busy_tasks": 0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "py_sent_bytes": 0, "py_returned_bytes": 0,
            "storage_left_bytes": 0}


def read_log(log_dir: str) -> dict:
    """label -> aggregated metrics (see ``_new_label``) for every label
    found in the single application log under ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f)]
    if len(files) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, "
                                f"found {len(files)}")
    stage_label = {}
    job_label = {}
    blocks = {}
    out = defaultdict(_new_label)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                label = (ev.get("Properties") or {}).get(
                    "spark.job.description")
                job_label[ev["Job ID"]] = label
                for sid in ev.get("Stage IDs", []):
                    stage_label[sid] = label
            elif kind == "SparkListenerTaskEnd":
                label = stage_label.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if label is None or not m:
                    continue
                agg = out[label]
                agg["tasks"] += 1
                agg["task_s"].append(m["Executor Run Time"] / 1000.0)
                agg["gc_s"] += m["JVM GC Time"] / 1000.0
                agg["spill_bytes"] += m["Disk Bytes Spilled"]
                sw = m["Shuffle Write Metrics"]
                agg["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                sr = m["Shuffle Read Metrics"]
                agg["shuffle_read_bytes"] += (sr["Remote Bytes Read"]
                                              + sr["Local Bytes Read"])
                if sr["Total Records Read"] > 0:
                    agg["busy_tasks"] += 1
                for acc in ev["Task Info"].get("Accumulables", []):
                    name, upd = acc.get("Name"), acc.get("Update")
                    if name == PY_SENT:
                        agg["py_sent_bytes"] += int(upd)
                    elif name == PY_RETURNED:
                        agg["py_returned_bytes"] += int(upd)
            elif kind == "SparkListenerBlockUpdated":
                info = ev["Block Updated Info"]
                size = info["Memory Size"] + info["Disk Size"]
                if size:
                    blocks[info["Block ID"]] = size
                else:
                    blocks.pop(info["Block ID"], None)
            elif kind == "SparkListenerJobEnd":
                label = job_label.get(ev["Job ID"])
                if label is not None:
                    out[label]["storage_left_bytes"] = sum(blocks.values())
    return {k: _finish(v) for k, v in out.items()}


def _finish(agg: dict) -> dict:
    ts = agg.pop("task_s")
    agg["task_s_sum"] = sum(ts)
    agg["task_s_max"] = max(ts, default=0.0)
    med = statistics.median(ts) if ts else 0.0
    agg["task_s_max_over_median"] = agg["task_s_max"] / med if med else 0.0
    return agg
