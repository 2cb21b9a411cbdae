"""Seeded benchmark for extraction and dedup analytics.

    python3 perfbench/run.py --workload extract_mixed --seed 1 \
        --seconds 18 --trace 0

Run from the repository root. Workloads and metrics are declared in
BENCHMARK.json; the last line of standard output is one JSON object
{"correct", "attempted", "failed", "metrics"}. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (a separate run that
also enables the Spark event log). A human-readable detail file with the
host-noise record, every pass and, for traced runs, the reconciliation
table is written under ``.bench_cache/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time

N_SETUPS = 3
CACHE = ".bench_cache"


def cores() -> int:
    """Half the cores this process may run on: Spark's driver threads and
    the host's other load keep the rest busy, and a saturated host makes
    every wall time follow its neighbours."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def host_probe() -> float:
    """Fixed single-thread work (parse of fixed payloads): a swing between
    the before and after readings is the host, not the program."""
    from bella_domify_spark.parsers.dispatch import parse_payload
    from bella_domify_spark.synthdocs import _Rng, gen_markdown, gen_pdflike

    texts = [f(_Rng(9000 + i)) for i in range(8)
             for f in (gen_pdflike, gen_markdown)]
    t0 = time.perf_counter()
    for t in texts:
        parse_payload(t)
    return time.perf_counter() - t0


class RssSampler:
    """Peak summed RSS of this process and all its descendants, sampled
    from /proc every ``every`` seconds while running."""

    def __init__(self, every: float = 0.1):
        self.every, self.peak, self.peak_by_comm = every, 0, {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def _loop(self):
        while True:
            by_comm = tree_rss()
            if sum(by_comm.values()) > self.peak:
                self.peak, self.peak_by_comm = sum(by_comm.values()), by_comm
            if self._stop.wait(self.every):
                break


def _proc_table() -> dict:
    """pid -> (parent pid, RSS bytes, command name) for every readable
    process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        out[int(d)] = (int(stat[stat.rindex(")") + 2:].split()[1]), rss,
                       comm)
    return out


def descendants(table: dict, root: int) -> set:
    kids = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            if k not in out:
                out.add(k)
                todo.append(k)
    return out


def tree_rss() -> dict:
    """Summed RSS of this process and all its descendants, by command
    name (``java`` is the Spark driver JVM)."""
    table = _proc_table()
    me = os.getpid()
    out = {}
    for p in descendants(table, me) | {me}:
        if p in table:
            _, rss, comm = table[p]
            out[comm] = out.get(comm, 0) + rss
    return out


def wait_children(timeout: float = 60.0):
    """Wait until every process this one started has exited; kill what is
    left after ``timeout`` seconds."""
    import signal

    deadline = time.monotonic() + timeout
    while True:
        left = descendants(_proc_table(), os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)
        try:  # reap zombies of direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def declared(path: str = "BENCHMARK.json") -> dict:
    with open(path) as fh:
        spec = json.load(fh)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
            "workloads": [w["name"] for w in spec["workloads"]]}


def stop_jvm():
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    wait_children()


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False) -> tuple:
    """Returns (result JSON object, detail dict)."""
    import gen
    from workloads import WORKLOADS, median, typical

    spec = declared()
    if workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {workload!r}")
    n_cores = cores()
    detail = {"workload": workload, "seed": seed, "seconds": seconds,
              "trace": trace, "cores": n_cores,
              "loadavg_before": os.getloadavg(),
              "probe_before_s": host_probe()}
    phases = detail["phases_s"] = {}
    mark = [time.perf_counter()]

    def phase(name):
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    inputs = gen.ensure_inputs(CACHE, workload, seed, tiny=tiny)
    phase("generate")
    workdir = os.path.abspath(os.path.join(CACHE, f"work-{os.getpid()}"))
    # temporary files of this process and of the JVM and Python workers
    # it launches (they inherit TMPDIR) go under the work dir
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    w = WORKLOADS[workload](inputs, workdir, n_cores, seed)
    try:
        setups = [w.setup() for _ in range(N_SETUPS)]
        phase("setups")
        passes = []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            # stop when the next pass would end nearer after the deadline
            # than before it
            while (not passes or time.perf_counter() - t0
                   + passes[-1]["wall_s"] / 2 < seconds):
                passes.append(w.run_pass(len(passes)))
        phase("measure")
        detail.update({"setups": setups, "passes": passes,
                       "peak_rss_bytes": rss.peak_by_comm})
        if trace:
            # before the check, so that the check covers the traced pass
            metrics = traced(w, setups, passes, detail)
            phase("traced")
        attempted, failed, detail["check"] = w.check()
        phase("check")
        if not trace:
            typ = typical(passes)
            metrics = {
                "setup_s": median([sum(s.values()) for s in setups]),
                "pass_s": sum(typ.values()),
                "rows_per_s": median([p["rows"] for p in passes])
                / sum(typ[k] for k in w.RATE_PARTS),
                "peak_rss_mb": rss.peak / 2 ** 20,
                "ok_ratio": 1.0 - failed / attempted,
            }
        units = spec["per_layer" if trace else "end_to_end"]
    finally:
        w.close()
        stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    phase("stop")
    detail["probe_after_s"] = host_probe()
    detail["loadavg_after"] = os.getloadavg()
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(units))} "
                           "differ from BENCHMARK.json")
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": float(v), "unit": units[k]}
                          for k, v in metrics.items()}}
    return result, detail


def traced(w, setups, passes, detail) -> dict:
    """The traced part of a ``--trace 1`` run: one labelled pass on a
    session with the event log on, then the single-thread span sample."""
    import numpy as np
    import pandas as pd

    from eventlog import read_log
    from gen import sub_seed
    from layers import (parse_layers, parse_sample, per_layer_names,
                        reconcile, spark_layers)
    from spans import Tracer
    from workloads import Extraction, median

    out = dict.fromkeys(per_layer_names(), 0.0)
    out["session.build_s"] = median([s["build_s"] for s in setups])
    out["session.warmup_s"] = median([s["warmup_s"] for s in setups])
    out["scan.read_s"] = median([s["read_s"] for s in setups])

    log_dir = os.path.join(w.workdir, "eventlog")
    w.setup(event_log=log_dir)
    compute_s = 0.0
    if isinstance(w, Extraction):
        w.label("extract.compute")
        compute_s = w.compute_job()
    tp = w.run_pass(len(passes), label=w.label)
    w.close()  # flushes the event log
    log = read_log(log_dir)
    kind = "extract" if isinstance(w, Extraction) else "ops"
    out.update(spark_layers(log, kind, tp, compute_s))
    untraced = median([p["wall_s"] for p in passes])
    out["trace.overhead_s"] = tp["wall_s"] - untraced
    detail.update({"traced_pass": tp, "eventlog": log,
                   "trace_overhead_s": tp["wall_s"] - untraced})

    if isinstance(w, Extraction):
        df = pd.read_parquet(os.path.join(w.inputs, "input.parquet"))
        n = min(len(df), 800)
        pick = np.random.RandomState(sub_seed(w.seed, "sample")).choice(
            len(df), n, replace=False)
        texts = [t if isinstance(t, str) else None
                 for t in df["text"].iloc[np.sort(pick)]]
        plain_wall, _ = parse_sample(texts)
        tr = Tracer()
        span_wall, recs = parse_sample(texts, tr)
        out.update(parse_layers(tr, recs))
        out["trace.span_overhead_s"] = span_wall - plain_wall
        st_ms = 1000 * plain_wall / n
        rec = reconcile(log, w.cores, len(df), st_ms, tr.self_times(),
                        span_wall, tp["cold_s"], compute_s)
        out["reconcile.remainder_share"] = rec["remainder_share"]
        detail.update({"single_thread_ms_per_turn": st_ms,
                       "sample_turns": n, "reconcile": rec,
                       "span_overhead_s": span_wall - plain_wall})
    return out


def print_detail(detail: dict, result: dict):
    m = result["metrics"]
    width = max(len(k) for k in m)
    for k, v in m.items():
        print(f"{k:<{width}}  {v['value']:.6g} {v['unit']}")
    rec = detail.get("reconcile")
    if rec:
        print(f"reconciliation, cold pass on {rec['cores']} cores:")
        for r in rec["rows"]:
            print(f"  {r['layer']:<48} {r['s']:9.3f} s")
        print(f"  {'explained (busy core-seconds / cores)':<48} "
              f"{rec['explained_s']:9.3f} s")
        print(f"  {'end-to-end wall':<48} {rec['cold_wall_s']:9.3f} s")
        print(f"  {'unexplained remainder':<48} {rec['remainder_s']:9.3f} s"
              f" ({100 * rec['remainder_share']:.1f}%)")
        print(f"  {'compute job without sink (reference)':<48} "
              f"{rec['compute_wall_s']:9.3f} s")
    if "trace_overhead_s" in detail:
        print(f"tracing overhead: event log {detail['trace_overhead_s']:+.3f} s"
              f" per pass; spans {detail.get('span_overhead_s', 0.0):+.3f} s"
              " per sample")
    print(f"host: {detail['cores']} cores, loadavg "
          f"{detail['loadavg_before'][0]:.2f} -> "
          f"{detail['loadavg_after'][0]:.2f}, probe "
          f"{detail['probe_before_s']:.3f} -> {detail['probe_after_s']:.3f} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-test sizes (smoke runs)")
    args = ap.parse_args(argv)
    sys.path.insert(1, os.getcwd())  # the program, after perfbench/
    result, detail = run(args.workload, args.seed, args.seconds,
                         bool(args.trace), tiny=args.tiny)
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(CACHE, "results", name), "w") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1,
                  default=str)
    print_detail(detail, result)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
