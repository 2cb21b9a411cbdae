"""Checkpointed, resumable extraction runs with per-bucket lineage manifests.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference's analogue is its md5-keyed S3 result
cache (/root/reference/services/parse_manager.py:99-112) — skip work whose
output already exists.

Design (plain PySpark, no custom Catalyst):

- **Work unit = bucket**, not Spark task: ``pid = pmod(xxhash64(conv_id,
  turn_idx), n_buckets)`` is computed as a Catalyst expression at scan time,
  so it is deterministic across runs and cluster sizes.
- **Resume filters BEFORE the parse**: rows of already-manifested buckets
  are dropped by a pushdown-friendly ``filter`` ahead of the shuffle and the
  Arrow parse stage — resumed runs do not re-parse completed work (unlike a
  sink-side skip, which would still feed the Python workers).
- ``repartition(P, "pid") + sortWithinPartitions("pid")`` routes each bucket
  wholly into one task and clusters its rows, so the Arrow sink can stream
  batches into one ``pyarrow.parquet.ParquetWriter`` per bucket and commit
  each bucket atomically with a manifest JSON carrying lineage + metrics
  (run id, rows, bytes, wall ms).
- **Storage-agnostic**: ``out_dir`` may be a plain local path or any URI
  pyarrow.fs can open (``file://``, ``s3://``, ``hdfs://``) — required for a
  real multi-executor cluster where executors do not share the driver's
  disk. Commit protocol per bucket: data file first, manifest LAST — the
  manifest's existence IS the commit marker. On rename-capable filesystems
  (plain local paths, ``file://``, ``hdfs://``) the manifest write is
  additionally tmp+move so a mid-write crash can never leave a truncated
  manifest under its committed name; on object stores a single-object PUT
  is already atomic, and rename doesn't exist.
- At 100 TB: buckets are the idempotent commit granule (the same role as
  Iceberg file groups); n_buckets scales with data volume, parallelism P
  scales with the cluster — they are independent knobs.
"""

from __future__ import annotations

import json
import numbers
import os
from typing import Iterator, List, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# resume-filter strategy switch: up to this many completed buckets the
# filter is a literal NOT IN (pushed into the scan); beyond it, a
# broadcast anti-join keeps the plan O(1) (see run_resumable)
RESUME_ISIN_LIMIT = 1000

_SUMMARY_TYPE = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("rows", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("wall_ms", T.DoubleType()),
])


class BucketStore:
    """Minimal filesystem facade for the sink + resume bookkeeping.

    Local paths (no scheme) use os/file APIs with tmp+rename commits; URI
    paths route through ``pyarrow.fs.FileSystem.from_uri`` so the same code
    runs against file://, hdfs:// or s3:// from every executor. Constructed
    from a string, so shipping it into a task only captures ``out_dir``.
    """

    #: URI schemes whose filesystems support an (effectively) atomic rename;
    #: manifests there get the same tmp+move commit as plain local paths.
    #: Object stores (s3, gcs, ...) are excluded — a single-object PUT is
    #: already atomic and "rename" would be a non-atomic copy+delete.
    RENAME_SCHEMES = ("file", "local", "hdfs", "viewfs")

    #: subset of RENAME_SCHEMES with POSIX replace-on-rename semantics.
    #: HDFS-style renames FAIL when the destination exists, so commits
    #: there must delete-then-move (see _move_commit).
    POSIX_RENAME_SCHEMES = ("file", "local")

    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.is_uri = "://" in out_dir
        if self.is_uri:
            import pyarrow.fs as pafs

            self.scheme = out_dir.split("://", 1)[0].lower()
            self.fs, self.base = pafs.FileSystem.from_uri(out_dir)
        else:
            self.scheme = None
            self.fs, self.base = None, out_dir

    # -- paths -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        return "/".join([self.base.rstrip("/"), *parts])

    # -- setup / listing ---------------------------------------------------
    def makedirs(self) -> None:
        if self.is_uri:
            self.fs.create_dir(self.path("_manifests"), recursive=True)
        else:
            os.makedirs(self.path("_manifests"), exist_ok=True)

    def clean_tmp(self) -> int:
        """Remove orphaned attempt-temp files (crashed/killed attempts
        leave uniquely-named ``*.tmp`` litter nothing else deletes).
        Called at job start, when no attempt can be live — never during a
        run. Returns the number removed."""
        removed = 0
        for sub in ("", "_manifests"):
            d = self.path(sub) if sub else self.base.rstrip("/")
            if self.is_uri:
                import pyarrow.fs as pafs

                infos = self.fs.get_file_info(
                    pafs.FileSelector(d, allow_not_found=True))
                for i in infos:
                    if i.base_name.endswith(".tmp"):
                        self.fs.delete_file(i.path)
                        removed += 1
            elif os.path.isdir(d):
                for n in os.listdir(d):
                    if n.endswith(".tmp"):
                        os.remove(os.path.join(d, n))
                        removed += 1
        return removed

    def manifest_names(self) -> List[str]:
        mdir = self.path("_manifests")
        if self.is_uri:
            import pyarrow.fs as pafs

            try:
                infos = self.fs.get_file_info(
                    pafs.FileSelector(mdir, allow_not_found=True))
            except FileNotFoundError:
                return []
            return sorted(i.base_name for i in infos
                          if i.base_name.endswith(".json"))
        if not os.path.isdir(mdir):
            return []
        return sorted(n for n in os.listdir(mdir) if n.endswith(".json"))

    def completed(self) -> set:
        """Committed bucket ids: one listing of ``_manifests/``, no
        manifest is opened (its existence is the commit marker)."""
        # parse the FULL id: names are bucket-%05d.json, but %05d widens
        # past 99,999 (B=2^20 is the recommended web-scale bucket count) —
        # a fixed [7:12] slice would silently mis-parse bucket 123456 as
        # 12345 and corrupt the resume set
        return {int(n[len("bucket-"):n.index(".")])
                for n in self.manifest_names() if n.startswith("bucket-")}

    def read_json(self, *parts: str) -> dict:
        p = self.path(*parts)
        if self.is_uri:
            with self.fs.open_input_stream(p) as f:
                return json.loads(f.read().decode())
        with open(p) as f:
            return json.load(f)

    # -- sink-side writes --------------------------------------------------
    @staticmethod
    def _tmp_name(final: str) -> str:
        """Attempt-unique temp path. A FIXED suffix would let two live
        attempts of the same task (speculative execution, or a zombie task
        surviving a driver-side retry) interleave writes into one temp
        file and then rename garbage into place; with a unique name each
        attempt renames its own complete file and the last rename wins
        whole. Ends in .tmp so manifest/bucket listings never pick it up."""
        import uuid

        return f"{final}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"

    def _move_commit(self, tmp: str, final: str) -> None:
        """Commit ``tmp`` to ``final`` on a rename-capable URI filesystem.

        POSIX-rename schemes (file://) replace an existing destination, so
        a plain move is the whole protocol. HDFS/viewfs rename does NOT
        overwrite: after a crash that committed a bucket data file but not
        its manifest, the resume run re-parses the bucket and its
        re-commit move fails on the orphan — accept the existing complete
        ``final`` as committed (every attempt writes the same
        deterministic content, so whichever attempt landed is equally
        valid) and drop our temp. Never delete ``final`` first: a
        speculative attempt killed between a delete and its move would
        permanently destroy an already-committed bucket whose manifest
        (the commit marker) exists — silent data loss no resume would
        repair."""
        import pyarrow.fs as pafs

        if self.scheme in self.POSIX_RENAME_SCHEMES:
            self.fs.move(tmp, final)
            return
        try:
            self.fs.move(tmp, final)
        except OSError:
            if self.fs.get_file_info(final).type == pafs.FileType.File:
                try:
                    self.fs.delete_file(tmp)
                except (FileNotFoundError, OSError):
                    pass
                return
            raise

    def parquet_writer(self, rel: str, schema):
        """(writer, commit) pair; ``commit()`` finalizes the bucket file."""
        import pyarrow.parquet as pq

        final = self.path(rel)
        if self.is_uri:
            if self.scheme in self.RENAME_SCHEMES:
                # file://, hdfs://: streams interleave in place, so commit
                # via attempt-unique temp + move exactly like write_json
                tmp = self._tmp_name(final)
                writer = pq.ParquetWriter(tmp, schema, filesystem=self.fs)
                return writer, lambda: self._move_commit(tmp, final)
            # object stores: single-PUT on close is atomic and concurrent
            # attempts each PUT a complete object (last write wins whole)
            writer = pq.ParquetWriter(final, schema, filesystem=self.fs)
            return writer, lambda: None
        tmp = self._tmp_name(final)
        writer = pq.ParquetWriter(tmp, schema)
        return writer, lambda: os.replace(tmp, final)

    def write_json(self, rel: str, obj: dict) -> None:
        """Commit a manifest. The manifest's *existence* marks the bucket
        done, so a truncated manifest must never appear under its final
        name: rename-capable filesystems (local, file://, hdfs://) get
        tmp+move; object stores rely on single-PUT atomicity."""
        p = self.path(rel)
        data = json.dumps(obj).encode()
        if self.is_uri:
            if self.scheme in self.RENAME_SCHEMES:
                tmp = self._tmp_name(p)
                with self.fs.open_output_stream(tmp) as f:
                    f.write(data)
                self._move_commit(tmp, p)
            else:
                with self.fs.open_output_stream(p) as f:
                    f.write(data)
            return
        tmp = self._tmp_name(p)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, p)

    def parquet_schema(self, rel: str):
        """Arrow schema from a parquet file's footer (no data pages)."""
        import pyarrow.parquet as pq

        return pq.read_schema(self.path(rel), filesystem=self.fs)

    def file_size(self, rel: str) -> int:
        p = self.path(rel)
        if self.is_uri:
            return int(self.fs.get_file_info(p).size)
        return os.path.getsize(p)


def completed_buckets(out_dir: str) -> set:
    return BucketStore(out_dir).completed()


RUN_PARAMS_NAME = "_run_params.json"


def _pin_run_params(store: BucketStore, done: set,
                    ocr_provider: Optional[str], n_buckets: int,
                    custom_bucket: bool = False) -> None:
    """Parse-affecting parameters must be IDENTICAL across every run that
    shares one out_dir: resuming with a different ``ocr_provider`` would
    mix provider and provider-less buckets into one silently inconsistent
    dataset, and a different ``n_buckets`` remaps rows into already-"done"
    bucket ids (skipped = silent data loss). The first run pins them in
    ``_manifests/_run_params.json``; resumes verify and fail loud.
    ``custom_bucket`` records that a caller-supplied bucket_expr routed
    this layout — point reads (lookup_turn) refuse such layouts rather
    than silently probing the wrong bucket with the default hash."""
    params = {"ocr_provider": ocr_provider, "n_buckets": int(n_buckets),
              "custom_bucket": bool(custom_bucket)}
    try:
        recorded = store.read_json("_manifests", RUN_PARAMS_NAME)
    except Exception:  # noqa: BLE001 — missing/unreadable = not recorded
        recorded = None
    # defaults for keys a pre-upgrade layout never recorded: a missing
    # key must diff as its default, or a legacy layout could be resumed
    # with e.g. a custom bucket_expr without tripping the guard — rows
    # would remap into already-committed bucket ids (silent data loss,
    # exactly what the pin exists to prevent)
    legacy_defaults = {"custom_bucket": False}
    if recorded is not None:
        mism = {k: {"recorded": recorded.get(k, legacy_defaults.get(k)),
                    "requested": v}
                for k, v in params.items()
                if recorded.get(k, legacy_defaults.get(k)) != v}
        if mism:
            raise ValueError(
                f"resume parameter mismatch for {store.out_dir}: {mism} — "
                f"{len(done)} buckets are committed under the recorded "
                "parameters; rerun with them or use a fresh output dir")
        return
    if done and ocr_provider is not None:
        raise ValueError(
            f"{store.out_dir} has {len(done)} committed buckets but no "
            f"{RUN_PARAMS_NAME} (pre-params layout): cannot prove they "
            f"were parsed with ocr_provider={ocr_provider!r} — use a "
            "fresh output dir")
    store.write_json(f"_manifests/{RUN_PARAMS_NAME}", params)


def read_manifests(out_dir: str) -> List[dict]:
    store = BucketStore(out_dir)
    return [store.read_json("_manifests", n) for n in store.manifest_names()
            if n.startswith("bucket-")]


def with_bucket(df: DataFrame, n_buckets: int,
                bucket_expr=None) -> DataFrame:
    """Deterministic work-unit id — also the salt that spreads a long
    conversation across buckets (skew handling per north_rule).
    ``bucket_expr`` (optional Column in 0..n_buckets-1) overrides the
    default xxhash64 pid — used by oracle-mirrored lineage audits that
    need an md5-family bucket both engines can compute; the default
    path is byte-identical to before."""
    pid = (bucket_expr if bucket_expr is not None
           else F.pmod(F.xxhash64("conv_id", "turn_idx"),
                       F.lit(n_buckets)))
    return df.withColumn("pid", pid.cast("int"))


# Spark's XXH64 (catalyst expressions/XXH64.java) is the standard XXH64
# over each column's bytes — UTF-8 for strings, 4 little-endian bytes for
# INT, 8 for BIGINT — chained: each column's signed result seeds the next,
# and the first seed is 42
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_XXH_SEED = 42
_M64 = (1 << 64) - 1
#: integer key dtype → bytes Spark hashes (= the value's width)
_INT_KEY_BYTES = {"int": 4, "bigint": 8}


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _XXH_P2) & _M64, 31) * _XXH_P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """Standard XXH64 of ``data`` (unsigned 64-bit result)."""
    n, i = len(data), 0

    def lane(j: int) -> int:
        return int.from_bytes(data[j:j + 8], "little")

    if n >= 32:
        v = [(seed + _XXH_P1 + _XXH_P2) & _M64, (seed + _XXH_P2) & _M64,
             seed & _M64, (seed - _XXH_P1) & _M64]
        while i + 32 <= n:
            v = [_xxh64_round(v[k], lane(i + 8 * k)) for k in range(4)]
            i += 32
        h = (_rotl64(v[0], 1) + _rotl64(v[1], 7) + _rotl64(v[2], 12)
             + _rotl64(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh64_round(0, x)) * _XXH_P1 + _XXH_P4) & _M64
    else:
        h = (seed + _XXH_P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl64(h ^ _xxh64_round(0, lane(i)), 27) * _XXH_P1
             + _XXH_P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _XXH_P1 & _M64
        h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _M64
        i += 4
    for b in data[i:]:
        h = _rotl64(h ^ (b * _XXH_P5 & _M64), 11) * _XXH_P1 & _M64
    h = (h ^ (h >> 33)) * _XXH_P2 & _M64
    h = (h ^ (h >> 29)) * _XXH_P3 & _M64
    return h ^ (h >> 32)


def bucket_of(conv_id, turn_idx, n_buckets: int, key_types) -> int:
    """Driver-side mirror of ``with_bucket``'s default pid, i.e.
    ``pmod(xxhash64(conv_id, turn_idx), n_buckets)`` for non-null keys
    already in their columns' domains (``key_types``: the Spark dtypes
    of conv_id and turn_idx — the hash input depends on them). Lets a
    point read route without a Spark job; a test pins it equal to
    ``with_bucket``."""
    h = _XXH_SEED
    for v, dt in zip((conv_id, turn_idx), key_types):
        t = dt.simpleString()
        data = (v.encode("utf-8") if t == "string"
                else int(v).to_bytes(_INT_KEY_BYTES[t], "little",
                                     signed=True))
        h = _xxh64(data, h)
    return (h - (1 << 64) if h >> 63 else h) % n_buckets


def _key_value(name: str, v, dtype):
    """``v`` as a value of key column type ``dtype``, or None when no row
    of that type can equal it (an int outside the column's range). Keys
    are str for a string column and int for an int/bigint one; anything
    else raises TypeError, because it would hash as another type and
    route to an arbitrary bucket."""
    t = dtype.simpleString()
    if t == "string" and isinstance(v, str):
        return v
    if (t in _INT_KEY_BYTES and isinstance(v, numbers.Integral)
            and not isinstance(v, bool)):
        v, bits = int(v), 8 * _INT_KEY_BYTES[t]
        return v if -(1 << bits - 1) <= v < 1 << bits - 1 else None
    raise TypeError(f"lookup_turn: {name}={v!r} does not fit its {t} key "
                    "column (str for string, int for int/bigint)")


def _bucket_file(pid: int) -> str:
    return f"bucket-{pid:05d}.parquet"


def run_resumable(df: DataFrame, out_dir: str, n_buckets: int = 64,
                  partitions: Optional[int] = None, run_id: str = "run",
                  ocr_provider: Optional[str] = None,
                  bucket_expr=None) -> dict:
    """Full resumable extraction: bucket → resume-filter → shuffle → parse →
    per-bucket atomic sink. ``df`` is the raw transcript table; ``out_dir``
    is a local path or a pyarrow-compatible URI.

    The parse runs INSIDE the sink's Arrow stage: one Python worker set
    and one JVM↔Python crossing for the fat result columns, instead of
    parse-worker → JVM → sink-worker (~1.5-2× pipeline throughput at high
    core counts).

    One driver per ``out_dir`` at a time: the resume set is read once at
    start and orphaned attempt-temps are swept then (safe because no task
    attempt can be live). Concurrent DRIVERS against one out_dir would
    race both; resubmit sequentially instead — speculative/retried task
    attempts WITHIN a run are fully supported (attempt-unique temps,
    manifest-last commit).

    Returns {buckets_total, buckets_done_before, buckets_written, rows,
    bytes, wall_ms}.
    """
    _store = BucketStore(out_dir)
    _store.makedirs()
    _store.clean_tmp()  # orphans from crashed attempts; no attempt is live

    done = _store.completed()
    _pin_run_params(_store, done, ocr_provider, n_buckets,
                    custom_bucket=bucket_expr is not None)
    df = with_bucket(df, n_buckets, bucket_expr)
    if done and len(done) <= RESUME_ISIN_LIMIT:
        # literal NOT IN pushes into the scan stage (rows of completed
        # buckets are dropped at the source)
        df = df.filter(~F.col("pid").isin(*[int(b) for b in done]))
    elif done:
        # a web-scale resume can carry 10^5-10^6 completed buckets — that
        # many literals blow up the Catalyst expression tree/codegen, so
        # switch to a broadcast anti-join: map-side, no shuffle of the big
        # table, plan size O(1)
        done_df = df.sparkSession.createDataFrame(
            [(int(b),) for b in sorted(done)], "pid int")
        df = df.join(F.broadcast(done_df), "pid", "left_anti")

    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(min(p, n_buckets), "pid").sortWithinPartitions("pid")

    def sink(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import time

        import pyarrow as pa

        store = BucketStore(out_dir)
        out_schema = pa.schema([("bucket", pa.int32()), ("rows", pa.int64()),
                                ("bytes", pa.int64()), ("wall_ms", pa.float64())])

        def parse(batch: "pa.RecordBatch") -> "pa.RecordBatch":
            """Raw transcript batch → parsed batch (the extract_transcripts
            columns plus pid)."""
            from bella_domify_spark.context import image_provider
            from bella_domify_spark.parsers.dispatch import parse_payload

            prov = image_provider(ocr_provider)
            texts = batch.column("text").to_pylist()
            recs = [parse_payload(t if isinstance(t, str) else None,
                                  image_provider=prov)
                    for t in texts]
            cols, names = [], []
            for name in ("conv_id", "turn_idx", "role", "tool", "ts"):
                if name in batch.schema.names:
                    cols.append(batch.column(name))
                    names.append(name)
            for fname, patype in (("fmt", pa.string()),
                                  ("extracted_text", pa.string()),
                                  ("domtree_json", pa.string()),
                                  ("n_nodes", pa.int32()),
                                  ("status", pa.string())):
                cols.append(pa.array([r[fname] for r in recs], type=patype))
                names.append(fname)
            cols.append(batch.column("pid"))
            names.append("pid")
            return pa.RecordBatch.from_arrays(cols, names=names)

        cur_pid, writer, commit, rows, t0 = None, None, None, 0, 0.0
        results = []

        def close_current():
            nonlocal writer, commit, rows, cur_pid, t0
            if writer is None:
                return
            writer.close()
            commit()
            fname = _bucket_file(cur_pid)
            wall_ms = (time.monotonic() - t0) * 1000.0
            nbytes = store.file_size(fname)
            manifest = {"bucket": cur_pid, "run_id": run_id, "rows": rows,
                        "bytes": nbytes, "wall_ms": round(wall_ms, 2),
                        "file": fname}
            # manifest write LAST = commit marker (atomic on local via
            # rename, single PUT on object stores)
            store.write_json(f"_manifests/bucket-{cur_pid:05d}.json", manifest)
            results.append({"bucket": cur_pid, "rows": rows, "bytes": nbytes,
                            "wall_ms": wall_ms})
            writer, rows = None, 0

        for batch in batches:
            batch = parse(batch)
            pids = batch.column("pid").to_pylist()
            data = batch.drop_columns(["pid"])
            # split the batch at pid boundaries (rows are pid-sorted)
            start = 0
            for i in range(1, len(pids) + 1):
                if i == len(pids) or pids[i] != pids[start]:
                    pid = pids[start]
                    if pid != cur_pid:
                        close_current()
                        cur_pid = pid
                        t0 = time.monotonic()
                        writer, commit = store.parquet_writer(
                            _bucket_file(pid), data.schema)
                    writer.write_batch(data.slice(start, i - start))
                    rows += i - start
                    start = i
        close_current()
        yield pa.RecordBatch.from_pylist(results, schema=out_schema)

    summaries = df.mapInArrow(sink, _SUMMARY_TYPE).collect()
    return {
        "buckets_total": n_buckets,
        "buckets_done_before": len(done),
        "buckets_written": len(summaries),
        "rows": sum(r["rows"] for r in summaries),
        "bytes": sum(r["bytes"] for r in summaries),
        "wall_ms": max((r["wall_ms"] for r in summaries), default=0.0),
    }


def lookup_turn(spark, out_dir: str, conv_id, turn_idx) -> DataFrame:
    """Point lookup of one extracted turn WITHOUT scanning the dataset —
    the serving-side payoff of deterministic bucket routing (the Hive/
    Iceberg bucket-pruning read): recompute the row's bucket from the
    pinned ``n_buckets`` (``_run_params.json``), read ONLY that one
    parquet file, and filter inside it.

    Per call: one read of ``_run_params.json``, one listing of
    ``_manifests/`` (no manifest is opened) and one parquet footer read
    on the driver, then exactly ONE Spark job when the returned frame is
    collected — building it runs none, and a new key compiles no
    code. Key-column dtypes come from a
    committed bucket's footer because xxhash64 is type-sensitive:
    hashing turn_idx as INT when the writer hashed BIGINT routes to the
    wrong bucket (silently empty results), so the contract is pinned to
    the written files, not to caller guesses. The bucket itself is
    computed by ``bucket_of``, the driver-side mirror of ``with_bucket``
    (a test pins the two equal), and the read gets the footer's schema
    so Spark infers nothing.

    Keys are ``str`` for a string key column and ``int`` for an
    int/bigint one (``TypeError`` otherwise). Returns a DataFrame
    (possibly empty) with the bucket-file schema; a key the key columns
    cannot hold (e.g. 2**40 on an INT turn_idx) or one routing to a
    never-committed bucket yields an empty frame.
    """
    from pyspark.sql.pandas.types import from_arrow_schema

    store = BucketStore(out_dir)
    params = store.read_json("_manifests", RUN_PARAMS_NAME)
    if params.get("custom_bucket"):
        raise ValueError(
            f"{out_dir} was written with a caller-supplied bucket_expr; "
            "lookup_turn's default-hash routing would probe the wrong "
            "bucket — read the layout with spark.read.parquet instead")
    n_buckets = int(params["n_buckets"])
    done = store.completed()
    if not done:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    schema = from_arrow_schema(
        store.parquet_schema(_bucket_file(min(done))),
        prefer_timestamp_ntz=True)
    key_types = (schema["conv_id"].dataType, schema["turn_idx"].dataType)
    keys = (_key_value("conv_id", conv_id, key_types[0]),
            _key_value("turn_idx", turn_idx, key_types[1]))
    pid = None if None in keys else bucket_of(*keys, n_buckets, key_types)
    if pid not in done:
        return spark.createDataFrame([], schema)
    # keys compare as strings: an integer literal is inlined into the
    # generated code, so every distinct turn_idx would compile the stage
    # anew (two Janino compiles, ~70 ms a lookup), while a string literal
    # is passed by reference. A string conv_id keeps its pushed-down
    # equality (Spark drops the no-op cast).
    conv_eq, turn_eq = (F.col(c).cast("string") == str(v)
                        for c, v in zip(("conv_id", "turn_idx"), keys))
    return (spark.read.schema(schema)
            .parquet(f"{out_dir.rstrip('/')}/{_bucket_file(pid)}")
            .filter(conv_eq & turn_eq))
