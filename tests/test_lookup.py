"""Point-lookup read path (engine/manifest.py lookup_turn): bucket-pruned
single-file reads against the resumable sink's output, equal to a full
scan + filter, touching exactly one bucket file in exactly one Spark job,
routed by a driver-side mirror of with_bucket."""

from __future__ import annotations

import random
import shutil
import uuid

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sink_out(spark, tmp_path_factory):
    from fixtures.gen_corpus import write_corpus
    from bella_domify_spark.engine.manifest import run_resumable

    root = tmp_path_factory.mktemp("lookup")
    corpus = str(root / "corpus")
    out = str(root / "out")
    write_corpus(corpus, n_convs=8)
    df = spark.read.parquet(f"{corpus}/transcripts.parquet")
    run_resumable(df, out, n_buckets=16, partitions=4)
    yield out, f"{corpus}/transcripts.parquet"
    shutil.rmtree(str(root), ignore_errors=True)


class TestLookupTurn:
    def test_equals_full_scan_and_reads_one_file(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, corpus_path = sink_out
        keys = [r.asDict() for r in spark.read.parquet(corpus_path)
                .select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx")
                .limit(5).collect()]
        full = spark.read.parquet(f"{out}/bucket-*.parquet")
        for k in keys:
            got = lookup_turn(spark, out, k["conv_id"], k["turn_idx"])
            # bucket pruning: the frame reads exactly ONE bucket file
            assert len(got.inputFiles()) == 1
            rows = got.collect()
            want = (full.filter((F.col("conv_id") == k["conv_id"])
                                & (F.col("turn_idx") == k["turn_idx"]))
                        .collect())
            assert len(rows) == len(want) == 1
            assert rows[0]["extracted_text"] == want[0]["extracted_text"]

    def test_missing_key_is_empty(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        assert lookup_turn(spark, out, "no-such-conv", 0).count() == 0
        assert lookup_turn(spark, out, "conv0", 10 ** 9).count() == 0

    def test_no_committed_buckets_raises(self, spark, tmp_path):
        from bella_domify_spark.engine.manifest import lookup_turn

        with pytest.raises(FileNotFoundError):
            lookup_turn(spark, str(tmp_path), "conv0", 0)


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran). Jobs are tagged with a fresh
    job group; the status tracker is fed by the asynchronous listener
    bus, so it is drained before counting."""
    sc = spark.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _string_keys(rng, n):
    """Key classes the routing must agree on: empty, ASCII, multi-byte
    unicode, emoji (4-byte UTF-8), and strings past XXH64's 32-byte
    stripe at every tail length (8-byte words, 4-byte word, bytes)."""
    alphabet = ["a", "Z", "0", "-", "ü", "中", "😀", " ", "é", "\u0000"]
    keys = ["", "a", "conv0", "ü", "中文", "😀", "😀" * 9, "x" * 31,
            "x" * 32, "x" * 33, "y" * 64, "z" * 100]
    while len(keys) < n:
        keys.append("".join(rng.choice(alphabet)
                            for _ in range(rng.randrange(0, 80))))
    return keys


def _int_keys(rng, n, bits):
    lo, hi = -(1 << bits - 1), (1 << bits - 1) - 1
    keys = [0, 1, -1, lo, hi, lo + 1, hi - 1]
    while len(keys) < n:
        keys.append(rng.choice([rng.randrange(-1000, 1000),
                                rng.randrange(lo, hi + 1)]))
    return keys


class TestBucketMirror:
    N_BUCKETS = (1, 7, 16, 64, 2 ** 20)

    @pytest.mark.parametrize("schema", [
        "conv_id string, turn_idx int",
        "conv_id string, turn_idx bigint",
        "conv_id bigint, turn_idx int",
    ])
    def test_mirror_equals_with_bucket(self, spark, schema):
        from pyspark.sql import types as T

        from bella_domify_spark.engine.manifest import bucket_of, with_bucket

        rng = random.Random(20261018)
        st = T._parse_datatype_string(schema)
        conv_t, turn_t = (f.dataType for f in st.fields)
        n = 3000
        convs = (_string_keys(rng, n) if conv_t == T.StringType()
                 else _int_keys(rng, n, 64))
        turns = _int_keys(rng, n, 64 if turn_t == T.LongType() else 32)
        df = spark.createDataFrame(list(zip(convs, turns)), st)
        for nb in self.N_BUCKETS:
            df = with_bucket(df, nb).withColumnRenamed("pid", f"p{nb}")
        rows = df.collect()
        assert len(rows) == n
        for r in rows:
            for nb in self.N_BUCKETS:
                got = bucket_of(r["conv_id"], r["turn_idx"], nb,
                                (conv_t, turn_t))
                assert got == r[f"p{nb}"], (r["conv_id"], r["turn_idx"], nb)


class TestLookupReadPath:
    def _committed_key(self, spark, out):
        r = (spark.read.parquet(f"{out}/bucket-*.parquet")
             .select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx")
             .first())
        return r["conv_id"], r["turn_idx"]

    def test_one_job_per_lookup_and_none_to_build(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        conv_id, turn_idx = self._committed_key(spark, out)
        frame, build_jobs = _count_jobs(
            spark, lambda: lookup_turn(spark, out, conv_id, turn_idx))
        rows, read_jobs = _count_jobs(spark, frame.collect)
        assert (build_jobs, read_jobs) == (0, 1)
        assert len(rows) == 1

    def test_new_key_compiles_no_code(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        # the two largest turn_idx values: ones no other test looks up
        rows = (spark.read.parquet(f"{out}/bucket-*.parquet")
                .groupBy("turn_idx").agg(F.min("conv_id").alias("conv_id"))
                .orderBy(F.desc("turn_idx")).limit(2).collect())
        codegen = spark.sparkContext._jvm.org.apache.spark.metrics \
            .source.CodegenMetrics.METRIC_COMPILATION_TIME()
        lookup_turn(spark, out, rows[1]["conv_id"],
                    rows[1]["turn_idx"]).collect()
        before = codegen.getCount()
        got = lookup_turn(spark, out, rows[0]["conv_id"],
                          rows[0]["turn_idx"]).collect()
        # the key's literals reach generated code by reference, so a
        # turn_idx never seen before reuses the compiled scan stage
        assert codegen.getCount() == before
        assert len(got) == 1

    def test_schema_equals_inferred_bucket_schema(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        conv_id, turn_idx = self._committed_key(spark, out)
        got = lookup_turn(spark, out, conv_id, turn_idx)
        (bucket_file,) = got.inputFiles()
        assert got.schema == spark.read.parquet(bucket_file).schema
        # a key routing to no committed bucket keeps the same schema
        assert (lookup_turn(spark, out, conv_id, 2 ** 40).schema
                == got.schema)

    def test_file_uri_layout(self, spark, sink_out, tmp_path):
        from bella_domify_spark.engine.manifest import (lookup_turn,
                                                        run_resumable)

        _, corpus_path = sink_out
        df = spark.read.parquet(corpus_path).limit(40)
        out = f"file://{tmp_path / 'uri_out'}"
        run_resumable(df, out, n_buckets=8, partitions=2)
        want = (spark.read.parquet(f"{tmp_path / 'uri_out'}/bucket-*.parquet")
                .orderBy("conv_id", "turn_idx").first())
        got = lookup_turn(spark, out, want["conv_id"], want["turn_idx"])
        assert len(got.inputFiles()) == 1
        rows = got.collect()
        assert [r.asDict() for r in rows] == [want.asDict()]

    def test_out_of_range_key_is_empty(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        conv_id, _ = self._committed_key(spark, out)
        # turn_idx is an INT column: no row can hold 2**40, and the read
        # must not reach an ANSI cast overflow
        assert lookup_turn(spark, out, conv_id, 2 ** 40).collect() == []
        assert lookup_turn(spark, out, conv_id, -2 ** 40).collect() == []

    @pytest.mark.parametrize("bad", [1.5, None, b"conv0", True])
    def test_non_str_int_key_raises(self, spark, sink_out, bad):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        with pytest.raises(TypeError):
            lookup_turn(spark, out, bad, 0)
        with pytest.raises(TypeError):
            lookup_turn(spark, out, "conv0", bad)

    def test_key_kind_must_match_column(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        # conv_id is a string column, turn_idx an int one: no implicit cast
        with pytest.raises(TypeError):
            lookup_turn(spark, out, 7, 0)
        with pytest.raises(TypeError):
            lookup_turn(spark, out, "conv0", "0")
