"""Self-tests of the benchmark: ``python3 -m pytest coldbench -q``."""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import time
import uuid
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import fingerprint as fp  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _result_dir(tmp_path: Path, table: pa.Table, name: str) -> Path:
    out = tmp_path / name
    out.mkdir()
    pq.write_table(table.slice(0, 2), out / "part-00000.parquet")
    pq.write_table(table.slice(2), out / "part-00001.parquet")
    (out / "_SUCCESS").write_bytes(b"")
    return out


def test_corrupted_result_fails_fingerprint_check(tmp_path):
    table = pa.table(
        {"k": [3, 1, 2, 4], "v": [0.5, 1.25, None, 2.0], "s": ["c", "a", "b", "d"]}
    )
    want = fp.fingerprint_parquet(_result_dir(tmp_path, table, "good"))
    # row order and file split do not matter
    shuffled = table.take([2, 0, 3, 1])
    assert fp.fingerprint_parquet(_result_dir(tmp_path, shuffled, "shuffled")) == want
    # one changed cell, a lost row, an int read as a float: all fail
    corrupt = table.set_column(1, "v", pa.array([0.5, 1.26, None, 2.0]))
    assert fp.fingerprint_parquet(_result_dir(tmp_path, corrupt, "corrupt")) != want
    assert fp.fingerprint_parquet(_result_dir(tmp_path, table.slice(0, 3), "short")) != want
    as_float = table.set_column(0, "k", pa.array([3.0, 1.0, 2.0, 4.0]))
    assert fp.fingerprint_parquet(_result_dir(tmp_path, as_float, "float")) != want


def test_expected_covers_every_query():
    expected = workloads.expected()
    for wl in workloads.WORKLOADS.values():
        names = workloads.queries(wl)
        assert set(names) <= set(expected)
        assert all(expected[n]["rows"] > 0 for n in names)


def test_stream_inputs_follow_the_seed(tmp_path):
    sizes = {"batches": 3, "event_rows": 50}

    def digest(seed, sub):
        d = tmp_path / f"{sub}-{seed}"
        datagen.write_stream_inputs(d, seed, **sizes)
        return {
            p.relative_to(d).as_posix(): fp.fingerprint_arrow(pq.read_table(p))
            for p in sorted(d.rglob("*.parquet"))
        }

    assert digest(1, "a") == digest(1, "b")
    assert digest(1, "a") != digest(2, "a")
    mtimes = [p.stat().st_mtime for p in sorted((tmp_path / "a-1" / "events").iterdir())]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


@pytest.mark.parametrize("workload", ["match_etl", "corpus_curation"])
def test_second_seed_changes_order_not_fingerprints(workload):
    """A seed permutes the query order and changes the stream inputs; the
    tables do not depend on it, so each query's fingerprint must still
    equal the recorded one. Two cold passes over three queries, in two
    seeds' orders."""
    wl = workloads.WORKLOADS[workload]
    # three queries: one fixed first, two the seed permutes
    small = {"first": workloads.queries(wl)[:1], "rest": wl["rest"][:2]}
    sf_dir = datagen.SF_DIR
    expected = workloads.expected()
    other = next(
        s for s in range(2, 100)
        if workloads.run_order(small, s) != workloads.run_order(small, 1)
    )
    orders = []
    for seed in (1, other):
        order = workloads.run_order(small, seed)
        orders.append(order)
        pass_dir = run.STATE / "runs" / f"selftest-{uuid.uuid4().hex[:8]}"
        spec = {
            "workload": workload, "cpus": run.CPUS, "run_id": "selftest",
            "ops": order, "sf_dir": str(sf_dir), "expected": expected,
            "trace": False, "parent_span": None,
        }
        try:
            report = run.run_pass(spec, pass_dir, time.monotonic() + 600)
        finally:
            shutil.rmtree(pass_dir, ignore_errors=True)
        assert [op["name"] for op in report["ops"]] == order
        for op in report["ops"]:
            assert op["ok"], op.get("error")
            assert op["fingerprint"] == expected[op["name"]]
    assert orders[0] != orders[1]


def test_tables_are_the_recorded_copy():
    sums = (datagen.SF_DIR / "SHA256SUMS").read_text().split("\n")
    want = dict(reversed(line.split()) for line in sums if line)
    assert sorted(want) == sorted(p.name for p in datagen.SF_DIR.glob("*.parquet"))
    for name, digest in want.items():
        assert hashlib.sha256((datagen.SF_DIR / name).read_bytes()).hexdigest() == digest


@pytest.mark.xfail(
    strict=True,
    reason="two_phase_upsert is batching-dependent: it coalesces the stored row "
    "before the same-phase hash tie-break, so contested claims in different "
    "micro-batches can end differently from one latest_wins_merge",
)
def test_upsert_stream_equals_one_shot_merge(tmp_path):
    """Why ``match_etl`` runs no upsert stream: two gatherers that claim
    the same phase of a match with different results, one file each, end
    in a store that differs from the one-shot merge of all claims."""
    from pyspark.sql import types as T

    from lol_data_collection_system_spark.session import get_spark
    from lol_data_collection_system_spark.streaming.upsert import (
        latest_wins_merge,
        two_phase_upsert,
    )

    n = 200
    schema = T.StructType([
        T.StructField("match_id", T.LongType()),
        T.StructField("region", T.StringType()),
        T.StructField("phase", T.IntegerType()),
        T.StructField("tier", T.StringType()),
        T.StructField("result_json", T.StringType()),
    ])
    ids = pa.array(range(n), pa.int64())

    def rows(phase, tier, result):
        return pa.table({
            "match_id": ids,
            "region": ["euw"] * n,
            "phase": pa.array([phase] * n, pa.int32()),
            "tier": pa.array([tier] * n, pa.string()),
            "result_json": pa.array(
                [None if result is None else f'{{"win": {result}, "m": {i}}}' for i in range(n)],
                pa.string(),
            ),
        })

    (tmp_path / "store").mkdir()
    (tmp_path / "claims").mkdir()
    pq.write_table(rows(1, "GOLD", None), tmp_path / "store" / "part-00000.parquet")
    for b, result in enumerate(("true", "false")):
        path = tmp_path / "claims" / f"b{b}.parquet"
        pq.write_table(rows(2, None, result), path)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    spark = get_spark(app_name="coldbench-upsert", master="local[2]", shuffle_partitions=2)
    try:
        keys = ["match_id", "region"]
        read = spark.read.schema(schema)
        want = latest_wins_merge(
            read.parquet(str(tmp_path / "store")), read.parquet(str(tmp_path / "claims")),
            keys, "phase",
        ).localCheckpoint()
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            str(tmp_path / "claims")
        )
        two_phase_upsert(
            stream, str(tmp_path / "store"), keys, "phase", str(tmp_path / "ckpt")
        ).awaitTermination()
        got = read.parquet(str(tmp_path / "store"))
        assert got.exceptAll(want).union(want.exceptAll(got)).isEmpty()
    finally:
        spark.stop()


def test_parser_reads_spark_event_log(tmp_path):
    from pyspark.sql import functions as F

    from lol_data_collection_system_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        app_name="coldbench-selftest",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    try:
        assert spark.version.startswith("4.")
        src = tmp_path / "src"
        spark.range(5000).write.parquet(str(src))

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc = spark.sparkContext
        sc.setJobGroup("b:q", "q")
        df = (
            spark.read.parquet(str(src))
            .withColumn("y", plus_one("id"))
            .groupBy((F.col("id") % 7).alias("k"))
            .agg(F.sum("y").alias("s"))
            .persist()
        )
        df.count()
        sc.setJobGroup("s:q", "q")
        df.join(df.withColumnRenamed("s", "s2"), "k").write.parquet(str(tmp_path / "out"))
        # the benchmark's own reads after the timed region: a file scan,
        # a Python UDF and a cache scan that must not count
        sc.setJobGroup("check", "check")
        spark.read.parquet(str(src)).withColumn("y", plus_one("id")).write.parquet(
            str(tmp_path / "check")
        )
        df.collect()
        app_id = sc.applicationId
    finally:
        spark.stop()

    (log,) = [p for p in log_dir.iterdir() if p.name.startswith(app_id)]
    events = list(eventlog.read_events(log))
    got = eventlog.summarize(events)
    # the log cut before the first check job gives the same counts
    first_check = next(
        i for i, e in enumerate(events)
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get("spark.jobGroup.id") == "check"
    )
    assert eventlog.summarize(events[:first_check]) == got
    assert got["build_jobs"] >= 1 and got["exec_jobs"] >= 1
    assert got["exec_stages"] >= 1 and got["exec_tasks"] >= got["exec_stages"]
    assert got["python_rows"] == 5000
    assert got["python_bytes"] > 0
    assert got["cache_scans"] >= 2
    assert got["file_bytes_read"] > 0
    assert got["shuffle_write_bytes"] >= 0 and got["executor_cpu_s"] > 0
