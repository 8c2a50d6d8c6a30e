"""One cold pass of a workload, in a fresh process.

Usage: ``python3 coldbench/worker.py SPEC.json`` — the spec names the
workload, its operations in run order, the input and run directories
and whether to trace; the pass writes its report to ``spec["report"]``.
``run.py`` starts this with ``PYTHONPATH`` at the checkout under test and
with an empty ``SPARK_GRAFT_SUMMARY_CACHE`` and ``SPARK_LOCAL_DIRS``.

Timing is taken around the benchmark's own calls into each layer's
public functions: ``session.get_spark``, the registered query functions,
the parquet sink write, and the ``streaming`` entry points. Outputs are
fingerprinted after the timed region.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import fingerprint as fp  # noqa: E402
import workloads  # noqa: E402


class Spans:
    """In-memory spans (name, start, end, parent, run id), handed to
    ``run.py``, which writes them out when the run ends. Records nothing
    when tracing is off."""

    def __init__(self, run_id: str, parent: str | None, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.rows: list[dict] = []
        self.stack: list[str | None] = [parent]

    def add(self, name: str, start: float, end: float | None) -> dict:
        row = {"id": f"{os.getpid()}-{len(self.rows)}", "name": name,
               "start": start, "end": end, "parent": self.stack[-1],
               "run": self.run_id}
        self.rows.append(row)
        return row

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        row = self.add(name, time.time(), None)
        self.stack.append(row["id"])
        try:
            yield row
        finally:
            self.stack.pop()
            row["end"] = time.time()


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cache_state(spark) -> tuple[int, int]:
    """(persisted DataFrames in the CacheManager, bytes the block manager
    holds for persisted and checkpointed RDDs)."""
    jss = spark._jsparkSession
    frames = int(jss.sharedState().cacheManager().cachedData().size())
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return frames, int(sum(i.memSize() + i.diskSize() for i in infos))


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _assert_cold(spark, summary_dir: Path) -> None:
    jsc = spark.sparkContext._jsc
    if jsc.getPersistentRDDs().size() != 0:
        raise RuntimeError("persisted RDDs exist before the first call")
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        raise RuntimeError("the CacheManager is not empty before the first call")
    if any(summary_dir.iterdir()):
        raise RuntimeError(f"summary cache {summary_dir} is not empty")


class Streams:
    """The ingest stream: its file source, its store and its batch twin."""

    def __init__(self, spark, inputs: Path, run_dir: Path):
        from pyspark.sql import types as T

        self.spark, self.inputs, self.run_dir = spark, inputs, run_dir
        self.events_schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        self.rollup = run_dir / "rollup_store"

    def start(self):
        """Start the stream through its public ``streaming`` entry point."""
        from lol_data_collection_system_spark.streaming import hourly_rollup_stream

        events = (
            self.spark.readStream.schema(self.events_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(self.inputs / "events"))
        )
        return hourly_rollup_stream(
            events.select("event_id", "ts", "value", "event_type"),
            str(self.rollup), str(self.run_dir / "ckpt_rollup"),
        )

    def check(self) -> str | None:
        """The mismatch, or None: the store must hold what the stream's
        batch twin computes from all inputs at once."""
        from lol_data_collection_system_spark.streaming.rollup import (
            finalize_hourly,
            hourly_partial,
            read_rollup,
        )

        events = self.spark.read.schema(self.events_schema).parquet(
            str(self.inputs / "events")
        )
        want = finalize_hourly(hourly_partial(events))
        got = finalize_hourly(read_rollup(self.spark, str(self.rollup)))
        # an empty symmetric multiset difference: equal stores
        if got.exceptAll(want).union(want.exceptAll(got)).isEmpty():
            return None
        return f"store {self.rollup} != batch twin"

    def bytes(self) -> int:
        return _dir_bytes(self.rollup) if self.rollup.exists() else 0


def _batches(q, name: str) -> list[dict]:
    """Per micro-batch timings from ``StreamingQuery.recentProgress``."""
    out = []
    for p in q.recentProgress:
        if p["numInputRows"] == 0:
            continue
        d = p["durationMs"]
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append(
            {
                "stream": name,
                "start": start,
                "rows": p["numInputRows"],
                "s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            }
        )
    return out


def run_ops(spark, spec, spans, report) -> None:
    """Run the workload's operations in order, timed, then check them."""
    import __spark_entry__ as entry

    queries = entry.queries()
    streams = None
    if spec.get("stream_inputs"):
        streams = Streams(spark, Path(spec["stream_inputs"]), Path(spec["run_dir"]))
    sink_root = Path(spec["run_dir"]) / "sink"
    sc = spark.sparkContext
    ops = []
    t_first = time.time()
    for name in spec["ops"]:
        op = {"name": name, "ok": False}
        try:
            if name in workloads.STREAMS:
                t0 = time.perf_counter()
                with spans.span(f"stream:{name}") as row:
                    q = streams.start()
                    q.awaitTermination()
                op["s"] = time.perf_counter() - t0
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                op["batches"] = _batches(q, name)
                if row is not None:
                    # batch spans come from the stream's own progress clock
                    spans.stack.append(row["id"])
                    for b in op["batches"]:
                        spans.add("batch", b["start"], b["start"] + b["s"])
                    spans.stack.pop()
            else:
                with spans.span(f"query:{name}"):
                    sc.setJobGroup(f"b:{name}", name)
                    with spans.span("build"):
                        t0 = time.perf_counter()
                        df = queries[name](spark, spec["sf_dir"])
                        t1 = time.perf_counter()
                    sc.setJobGroup(f"s:{name}", name)
                    with spans.span("sink"):
                        df.write.mode("overwrite").parquet(str(sink_root / name))
                        t2 = time.perf_counter()
                op.update(build_s=t1 - t0, sink_s=t2 - t1, s=t2 - t0)
            op["ok"] = True
        except Exception:  # noqa: BLE001 — count the failure, run the rest
            op["error"] = traceback.format_exc(limit=3)[-2000:]
        if spec["trace"]:
            op["cache"] = _cache_state(spark)
        ops.append(op)
    report["job_s"] = time.time() - t_first
    sc.setJobGroup("check", "check")

    # ---- outside the timed region: check every output ----
    expected = spec["expected"]
    rows_out = 0
    for op in ops:
        if not op["ok"]:
            continue
        if op["name"] in workloads.STREAMS:
            error = streams.check()
            rows_out += sum(b["rows"] for b in op["batches"])
        else:
            op["fingerprint"] = fp.fingerprint_parquet(sink_root / op["name"])
            rows_out += op["fingerprint"]["rows"]
            want = expected.get(op["name"])
            error = None
            if op["fingerprint"] != want:
                error = f"fingerprint {op['fingerprint']} != expected {want}"
        if error:
            op["ok"], op["error"] = False, error
    report["ops"] = ops
    report["rows_out"] = rows_out
    report["store_bytes"] = streams.bytes() if streams else 0
    report["bytes_out"] = report["store_bytes"] + (
        _dir_bytes(sink_root) if sink_root.exists() else 0
    )


def main() -> None:
    spec = json.loads(Path(sys.argv[1]).read_text())
    report: dict = {}
    spans = Spans(spec["run_id"], spec.get("parent_span"), spec["trace"])
    with spans.span("setup"):
        from lol_data_collection_system_spark.session import get_spark

        import __spark_entry__  # noqa: F401 — module import is part of setup

        conf = {"spark.ui.showConsoleProgress": "false"}
        if spec["trace"]:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": Path(spec["event_log_dir"]).as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"coldbench-{spec['workload']}",
            master=f"local[{spec['cpus']}]",
            shuffle_partitions=spec["cpus"],
            extra_conf=conf,
        )
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        spark.sparkContext.setJobGroup("warmup", "warmup")
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
    report["t_ready"] = time.time()
    report["get_spark_s"], report["warmup_s"] = t1 - t0, t2 - t1

    _assert_cold(spark, Path(os.environ["SPARK_GRAFT_SUMMARY_CACHE"]))
    if not spec.get("setup_only"):
        run_ops(spark, spec, spans, report)

    jvm_pid = spark.sparkContext._gateway.proc.pid
    report["rss_kb"] = _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)
    report["spans"] = spans.rows
    if spec["trace"]:
        spark.stop()  # flushes and closes the event log
    Path(spec["report"]).write_text(json.dumps(report))
    # run.py kills this process group (JVM, Python workers) after exit; an
    # untraced pass has nothing to flush, so it skips the JVM shutdown
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
