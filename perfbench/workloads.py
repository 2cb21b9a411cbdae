"""The workloads, driven only through the program's public functions.

Each workload object owns one Spark session at a time and offers:

- ``setup(event_log=None)`` -> {"build_s", "read_s", "warmup_s"}
- ``run_pass(i, label=None)`` -> {"wall_s", "parts_s", "rows",
  "rows_per_s", ...}: one timed pass, its wall split into named parts
  (``RATE_PARTS`` name the ones ``rows`` are processed in); what the
  correctness check needs is kept on the object and checked after
  timing. ``label(text)``, when given, names the Spark
  jobs of each call for the event log.
- ``check()`` -> (attempted, failed, detail)
- ``close()``
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile
import time

import numpy as np
import pandas as pd

N_BUCKETS = 16
LOOKUPS_PER_PASS = 3
QUERIES = ("dedup_minhash_lsh", "ppjoin_pairs", "lpa_communities")
KEY = ["conv_id", "turn_idx"]
# committed-row columns a lookup must reproduce exactly
ROW_COLS = ["conv_id", "turn_idx", "role", "tool", "ts", "fmt",
            "extracted_text", "domtree_json", "n_nodes", "status"]


def driver_memory() -> str:
    """A tenth of the machine's memory, at most 1 GiB: the inputs are
    small. The JVM starts with its whole heap (``-Xms``), so peak RSS does
    not follow its heap-growth decisions: with a growing heap the JVM's
    RSS swung by a sixth between runs of the same work, with a fixed one
    by about 1%."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(512, min(1024, total_kb // 1024 // 10))}m"


class _Workload:
    def __init__(self, inputs: str, workdir: str, cores: int, seed: int):
        self.inputs, self.workdir, self.cores, self.seed = \
            inputs, workdir, cores, seed
        self.spark = None
        os.makedirs(workdir, exist_ok=True)

    def _session(self, event_log):
        from bella_domify_spark.engine.session import build_session

        # scratch space of the JVM and Spark stays inside the work dir
        mem = driver_memory()
        conf = {"spark.driver.memory": mem,
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tempfile.gettempdir()} -Xms{mem}",
                "spark.local.dir": os.path.join(self.workdir, "local"),
                "spark.ui.showConsoleProgress": "false"}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            })
        return build_session(app_name="perfbench", cores=self.cores,
                             shuffle_partitions=self.cores,
                             extra_conf=conf)

    def setup(self, event_log=None) -> dict:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self._session(event_log)
        t1 = time.perf_counter()
        self._read()
        t2 = time.perf_counter()
        self._warmup()
        t3 = time.perf_counter()
        return {"build_s": t1 - t0, "read_s": t2 - t1, "warmup_s": t3 - t2}

    def label(self, text):
        self.spark.sparkContext.setJobDescription(text)

    def close(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


class Extraction(_Workload):
    """Cold ``run_resumable`` into an empty directory, resume after a seeded
    1/8 of the committed buckets is deleted, then seeded ``lookup_turn``
    point reads of the committed layout."""

    RATE_PARTS = ("cold",)

    def __init__(self, *a):
        super().__init__(*a)
        self.expected = pd.read_parquet(os.path.join(self.inputs,
                                                     "expected.parquet"))
        self.keys = self.expected[KEY].to_numpy()
        self.out = os.path.join(self.workdir, "out")
        self.lookups = []   # (conv_id, turn_idx, [row dicts])
        self.summaries = []

    def _read(self):
        self.tdf = self.spark.read.parquet(
            os.path.join(self.inputs, "input.parquet")).cache()
        self.n_turns = self.tdf.count()

    def _warmup(self):
        from bella_domify_spark.engine.manifest import lookup_turn, run_resumable

        warm = os.path.join(self.workdir, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        # one full-size cold write and one point read, so the first timed
        # pass meets the same warm JVM and Python workers as the last
        run_resumable(self.tdf, warm, n_buckets=N_BUCKETS,
                      partitions=self.cores)
        row = committed(warm).iloc[0]
        lookup_turn(self.spark, warm, row["conv_id"],
                    int(row["turn_idx"])).collect()
        shutil.rmtree(warm, ignore_errors=True)

    def _drop_buckets(self, rng) -> int:
        """Delete a seeded 1/8 of the committed buckets (manifest + file);
        returns the rows they held."""
        names = sorted(n for n in os.listdir(os.path.join(self.out,
                                                          "_manifests"))
                       if n.startswith("bucket-"))
        gone = rng.choice(len(names), max(1, len(names) // 8), replace=False)
        rows = 0
        for i in sorted(gone):
            stem = names[i][:-len(".json")]
            data = os.path.join(self.out, stem + ".parquet")
            rows += pd.read_parquet(data, columns=["turn_idx"]).shape[0]
            os.remove(os.path.join(self.out, "_manifests", names[i]))
            os.remove(data)
        return rows

    def run_pass(self, i: int, label=None) -> dict:
        from bella_domify_spark.engine.manifest import lookup_turn, run_resumable

        from gen import sub_seed

        rng = np.random.RandomState(sub_seed(self.seed, "pass", i))
        shutil.rmtree(self.out, ignore_errors=True)
        lab = label or (lambda _: None)
        lab("manifest.cold")
        t0 = time.perf_counter()
        cold = run_resumable(self.tdf, self.out, n_buckets=N_BUCKETS,
                             partitions=self.cores)
        t1 = time.perf_counter()
        dropped = self._drop_buckets(rng)
        lab("manifest.resume")
        t2 = time.perf_counter()
        resume = run_resumable(self.tdf, self.out, n_buckets=N_BUCKETS,
                               partitions=self.cores)
        t3 = time.perf_counter()
        picks = self.keys[rng.choice(len(self.keys), LOOKUPS_PER_PASS,
                                     replace=False)]
        lab("manifest.lookup")
        got, lookup_s = [], []
        for conv_id, turn_idx in picks:
            s = time.perf_counter()
            rows = lookup_turn(self.spark, self.out, str(conv_id),
                               int(turn_idx)).collect()
            lookup_s.append(time.perf_counter() - s)
            got.append((str(conv_id), int(turn_idx), rows))
        lab(None)
        self.lookups += [(c, t, [r.asDict() for r in rows])
                         for c, t, rows in got]
        self.summaries.append((cold["rows"], self.n_turns,
                               resume["rows"], dropped))
        cold_s, resume_s = t1 - t0, t3 - t2
        return {"wall_s": cold_s + resume_s + sum(lookup_s),
                "parts_s": {"cold": cold_s, "resume": resume_s,
                            "lookup": sum(lookup_s)},
                "cold_s": cold_s, "resume_s": resume_s,
                "lookup_s": lookup_s, "rows": cold["rows"],
                "rows_per_s": cold["rows"] / cold_s,
                "sink_bytes": cold["bytes"]}

    def check(self):
        got = committed(self.out)
        att, bad, detail = check_turns(self.expected, got)
        la, lb = check_lookups(got, self.lookups)
        sa = len(self.summaries) * 2
        sb = sum((c != n) + (r != d) for c, n, r, d in self.summaries)
        detail.update({"lookups": la, "lookups_failed": lb,
                       "pass_counts_failed": sb})
        return att + la + sa, bad + lb + sb, detail

    def compute_job(self) -> float:
        """``extract_transcripts`` without the sink, forced through the
        parse UDF (``count`` alone would skip it)."""
        from pyspark.sql import functions as F

        from bella_domify_spark.engine.extract import extract_transcripts

        t0 = time.perf_counter()
        extract_transcripts(self.tdf, partitions=self.cores) \
            .agg(F.sum(F.length("extracted_text"))).collect()
        return time.perf_counter() - t0


def committed(out_dir: str) -> pd.DataFrame:
    """Every committed bucket file of ``out_dir``, read without Spark."""
    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(out_dir)
                   if f.startswith("bucket-") and f.endswith(".parquet"))
    return pd.concat([pq.read_table(os.path.join(out_dir, f)).to_pandas()
                      for f in files], ignore_index=True)


def check_turns(expected: pd.DataFrame, got: pd.DataFrame):
    """Per-turn equality of the committed rows against the oracle: a turn
    fails when missing, duplicated, with an ``error:*`` status, or when its
    text or status differs from the oracle's."""
    dup = int(got.duplicated(KEY).sum())
    m = expected.merge(got.drop_duplicates(KEY)[
        KEY + ["extracted_text", "status"]], on=KEY, how="left",
        suffixes=("", "_got"), indicator=True)
    missing = m["_merge"] != "both"
    wrong_text = ~missing & (m["extracted_text"] != m["extracted_text_got"])
    wrong_status = ~missing & (m["status"] != m["status_got"])
    errors = m["status_got"].fillna("").str.startswith("error:")
    failed = missing | wrong_text | wrong_status | errors
    extra = len(got.drop_duplicates(KEY)) - int((~missing).sum())
    detail = {"turns": len(expected), "missing": int(missing.sum()),
              "duplicated": dup, "extra": extra,
              "text_mismatch": int(wrong_text.sum()),
              "status_mismatch": int(wrong_status.sum()),
              "error_status": int(errors.sum()),
              "status_counts": got["status"].str.split(":").str[0]
              .value_counts().to_dict()}
    return len(expected), int(failed.sum()) + dup + max(extra, 0), detail


def _same_row(got: dict, want: pd.Series) -> bool:
    """A collected Spark row against the committed parquet row (``ts`` is
    a naive timestamp on both sides: datetime vs pandas Timestamp)."""
    for c in ROW_COLS:
        g, w = got[c], want[c]
        if c == "ts":
            g = pd.Timestamp(g)
        elif isinstance(w, np.integer):
            w = int(w)
        if g != w:
            return False
    return True


def check_lookups(committed: pd.DataFrame, lookups) -> tuple:
    """Each lookup must return exactly the one committed row of its key."""
    idx = committed.set_index(KEY)
    bad = 0
    for conv_id, turn_idx, rows in lookups:
        want = idx.loc[[(conv_id, turn_idx)]].reset_index()
        if not (len(rows) == 1 and len(want) == 1
                and _same_row(rows[0], want.iloc[0])):
            bad += 1
    return len(lookups), bad


class Analytics(_Workload):
    """Three dedup/graph queries of ``queries()`` back to back, collected
    to the Spark driver; correctness by exact value hash against
    ``oracle_sql()`` on DuckDB."""

    RATE_PARTS = QUERIES

    def __init__(self, *a):
        super().__init__(*a)
        self.hashes = []   # (query, row count, hash)
        docs = pd.read_parquet(os.path.join(self.inputs, "documents.parquet"))
        self.n_docs = len(docs)
        # warm-up input: a small slice in its own sf directory
        self.warm_dir = os.path.join(self.workdir, "warm")
        os.makedirs(self.warm_dir, exist_ok=True)
        docs.head(32).to_parquet(os.path.join(self.warm_dir,
                                              "documents.parquet"),
                                 index=False)

    def _read(self):
        self.spark.read.parquet(
            os.path.join(self.inputs, "documents.parquet")).count()

    def _warmup(self):
        import __spark_entry__ as entry

        qs = entry.queries()
        for q in QUERIES:
            qs[q](self.spark, self.warm_dir).toPandas()

    def run_pass(self, i: int, label=None) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        lab = label or (lambda _: None)
        per, results = {}, []
        for q in QUERIES:
            lab(f"ops.{q}")
            t0 = time.perf_counter()
            pdf = qs[q](self.spark, self.inputs).toPandas()
            per[q] = time.perf_counter() - t0
            results.append((q, pdf))
        lab(None)
        for q, pdf in results:
            self.hashes.append((q,) + result_hash(pdf))
        wall = sum(per.values())
        return {"wall_s": wall, "parts_s": per,
                "rows": self.n_docs * len(QUERIES),
                "rows_per_s": self.n_docs * len(QUERIES) / wall}

    def oracle(self) -> dict:
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            path = os.path.join(self.inputs, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            return {q: result_hash(con.execute(sql[q]).df()) for q in QUERIES}
        finally:
            con.close()

    def check(self):
        want = self.oracle()
        bad = check_hashes(want, self.hashes)
        detail = {"queries_run": len(self.hashes), "hash_mismatch": bad,
                  "rows": {q: n for q, (n, _) in want.items()}}
        return len(self.hashes), bad, detail


def result_hash(pdf: pd.DataFrame) -> tuple:
    """(row count, exact value hash) as ``tools/check_oracle.py`` computes
    them."""
    from tools.check_oracle import normalize, value_hash

    rows = normalize(pdf)
    return len(rows), value_hash(rows)


def check_hashes(want: dict, got) -> int:
    return sum((n, h) != want[q] for q, n, h in got)


WORKLOADS = {"extract_mixed": Extraction, "analytics_dedup": Analytics}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def typical(passes) -> dict:
    """Each part's median over the passes: summed, a pass time that one
    part slowed by the host in one pass does not move."""
    return {k: median([p["parts_s"][k] for p in passes])
            for k in passes[0]["parts_s"]}
