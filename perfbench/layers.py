"""Per-layer metrics of a traced run, and the reconciliation table.

Spark-side layers come from the event log (``eventlog.read_log``) grouped
by the labels the traced pass sets; the parse, pdflike and tree layers come
from single-thread ``parse_payload`` over a seeded sample with span
recorders around the public stage functions (``spans.Tracer``).
"""

from __future__ import annotations

import contextlib
import time

import numpy as np

from spans import PDFLIKE_STAGES, ROOT, Tracer
from workloads import QUERIES, median

FORMATS = ("pdflike", "docxlike", "markdown", "plaintext", "xlsxlike",
           "pptxlike", "htmllike")


def per_layer_names() -> list:
    """Every per-layer metric a traced run reports, on every workload
    (a layer the workload does not exercise reports 0)."""
    names = ["session.build_s", "session.warmup_s", "scan.read_s"]
    for f in FORMATS:
        names += [f"parse.{f}.ms_per_turn", f"parse.{f}.share"]
    names += ["parse.turn_ms_p99", "parse.turn_ms_max"]
    names += [f"pdflike.{s}.share" for s in PDFLIKE_STAGES]
    names += ["pdflike.ms_per_page", "tree.to_markdown.ms_per_turn",
              "tree.to_json.ms_per_turn", "tree.json_bytes_per_turn",
              "handoff.bytes_to_python", "handoff.bytes_from_python",
              "extract.compute_s", "extract.shuffle_write_bytes",
              "manifest.turns_per_s", "manifest.task_s_sum",
              "manifest.task_s_max_over_median",
              "manifest.shuffle_write_bytes", "manifest.spill_bytes",
              "manifest.gc_s", "manifest.sink_bytes_per_turn",
              "manifest.resume_s", "manifest.resume_tasks",
              "manifest.resume_task_s_max", "manifest.lookup_ms"]
    for q in QUERIES:
        names += [f"ops.{q}.s", f"ops.{q}.task_s",
                  f"ops.{q}.shuffle_write_bytes", f"ops.{q}.spill_bytes"]
    names += ["ops.storage_left_bytes", "trace.overhead_s",
              "trace.span_overhead_s", "reconcile.remainder_share"]
    return names


def parse_sample(texts: list, tracer: Tracer = None):
    """Single-thread ``parse_payload`` over ``texts``, with ``tracer``'s
    spans around the stage functions when given. Returns (wall_s,
    [(fmt, seconds, domtree_json bytes, text)])."""
    from bella_domify_spark.parsers import dispatch

    recs = []
    with tracer.patch() if tracer else contextlib.nullcontext():
        t0 = time.perf_counter()
        for t in texts:
            with (tracer.span(f"parse.{dispatch.detect_format(t)}")
                  if tracer else contextlib.nullcontext()):
                s = time.perf_counter()
                r = dispatch.parse_payload(t)
                recs.append((r["fmt"], time.perf_counter() - s,
                             len(r["domtree_json"] or ""), t))
        return time.perf_counter() - t0, recs


def parse_layers(tr: Tracer, recs: list) -> dict:
    import json

    out = {}
    per_fmt = {}
    for fmt, sec, _, _ in recs:
        per_fmt.setdefault(fmt, []).append(sec)
    total = sum(sec for _, sec, _, _ in recs) or 1.0
    for f in FORMATS:
        xs = per_fmt.get(f, [])
        out[f"parse.{f}.ms_per_turn"] = 1000 * sum(xs) / len(xs) if xs else 0.0
        out[f"parse.{f}.share"] = sum(xs) / total
    ms = np.array([sec * 1000 for _, sec, _, _ in recs])
    out["parse.turn_ms_p99"] = float(np.percentile(ms, 99))
    out["parse.turn_ms_max"] = float(ms.max())
    selfs, totals = tr.self_times(), tr.totals()
    pdf_total = totals.get(ROOT, 0.0)
    for s in PDFLIKE_STAGES:
        out[f"pdflike.{s}.share"] = (selfs.get(s, 0.0) / pdf_total
                                     if pdf_total else 0.0)
    pages = sum(len(json.loads(t)["pages"]) for f, _, _, t in recs
                if f == "pdflike")
    out["pdflike.ms_per_page"] = 1000 * pdf_total / pages if pages else 0.0
    n = len(recs)
    out["tree.to_markdown.ms_per_turn"] = \
        1000 * selfs.get("tree.to_markdown", 0.0) / n
    out["tree.to_json.ms_per_turn"] = 1000 * selfs.get("tree.to_json", 0.0) / n
    out["tree.json_bytes_per_turn"] = sum(b for _, _, b, _ in recs) / n
    return out


def spark_layers(log: dict, kind: str, traced_pass: dict,
                 compute_s: float) -> dict:
    """Event-log metrics of the labelled traced pass."""
    out = {}
    if kind == "extract":
        c, cold = log.get("extract.compute", {}), log.get("manifest.cold", {})
        res = log.get("manifest.resume", {})
        out.update({
            "handoff.bytes_to_python": c.get("py_sent_bytes", 0),
            "handoff.bytes_from_python": c.get("py_returned_bytes", 0),
            "extract.compute_s": compute_s,
            "extract.shuffle_write_bytes": c.get("shuffle_write_bytes", 0),
            "manifest.turns_per_s": traced_pass["rows_per_s"],
            "manifest.task_s_sum": cold.get("task_s_sum", 0.0),
            "manifest.task_s_max_over_median":
                cold.get("task_s_max_over_median", 0.0),
            "manifest.shuffle_write_bytes": cold.get("shuffle_write_bytes", 0),
            "manifest.spill_bytes": cold.get("spill_bytes", 0),
            "manifest.gc_s": cold.get("gc_s", 0.0),
            "manifest.sink_bytes_per_turn":
                traced_pass["sink_bytes"] / max(traced_pass["rows"], 1),
            "manifest.resume_s": traced_pass["resume_s"],
            "manifest.resume_tasks": res.get("busy_tasks", 0),
            "manifest.resume_task_s_max": res.get("task_s_max", 0.0),
            "manifest.lookup_ms": 1000 * median(traced_pass["lookup_s"]),
        })
    else:
        for q in QUERIES:
            m = log.get(f"ops.{q}", {})
            out[f"ops.{q}.s"] = traced_pass["parts_s"][q]
            out[f"ops.{q}.task_s"] = m.get("task_s_sum", 0.0)
            out[f"ops.{q}.shuffle_write_bytes"] = \
                m.get("shuffle_write_bytes", 0)
            out[f"ops.{q}.spill_bytes"] = m.get("spill_bytes", 0)
        out["ops.storage_left_bytes"] = max(
            log.get(f"ops.{q}", {}).get("storage_left_bytes", 0)
            for q in QUERIES)
    return out


def reconcile(log: dict, cores: int, n_turns: int, st_ms_per_turn: float,
              selfs: dict, sample_wall: float, cold_wall: float,
              compute_wall: float) -> dict:
    """Layer self-times scaled by core count against the cold pass wall.

    parse: single-thread cost per turn x turns / cores, split by span self
    time. The rest of the cold pass's busy core-seconds / cores is the
    engine around it (scan, shuffle, JVM<->Python hand-off, sink, manifest
    commit). What the busy cores do not cover of the wall is the remainder
    (scheduling, stragglers, driver). The sinkless compute job is shown
    for reference: the cold wall beyond it estimates what the sink costs.
    """
    parse_s = st_ms_per_turn / 1000 * n_turns / cores
    busy = log.get("manifest.cold", {}).get("task_s_sum", 0.0) / cores
    rows = [("parse (single-thread x turns / cores)", parse_s)]
    scale = parse_s / sample_wall if sample_wall else 0.0
    for name in sorted(selfs, key=lambda k: -selfs[k]):
        rows.append((f"  of which {name} self", selfs[name] * scale))
    rows.append(("scan, shuffle, hand-off, sink, commit", busy - parse_s))
    remainder = cold_wall - busy
    return {"cold_wall_s": cold_wall, "cores": cores,
            "rows": [{"layer": n, "s": v} for n, v in rows],
            "explained_s": busy, "remainder_s": remainder,
            "remainder_share": remainder / cold_wall if cold_wall else 0.0,
            "compute_wall_s": compute_wall}
