"""Cold, layered benchmark of the Spark engine.

    python3 coldbench/run.py --workload match_etl --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. A run starts fresh ``worker.py``
processes, one cold pass of the workload each, until ``--seconds`` of
wall time is used (at least ``MIN_PASSES``). Every pass gets its own
empty summary cache and Spark local directory and ``PYTHONPATH`` at the
checkout, so nothing a pass persists or memoizes reaches the next.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
alternates untraced and traced passes; the traced ones turn on Spark's
event log, which ``eventlog.py`` reads, and the run writes its spans to
``.coldbench/traces/``. See ``README.md`` for the metrics and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import eventlog  # noqa: E402
import workloads  # noqa: E402

CPUS = 4
MIN_PASSES = 1
SETUP_PROBES = 2
#: A run must end well inside 180 s; no pass may start a wait beyond this.
RUN_DEADLINE_S = 165.0
STATE = ROOT / ".coldbench"


def _kill_group(pgid: int) -> None:
    """Kill what a pass left behind (Python workers, a stuck JVM) and wait
    until the process group is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_pass(spec: dict, pass_dir: Path, deadline: float) -> dict:
    """Start one worker process for ``spec`` and return its report, with
    ``setup_s`` measured from the moment the process was started."""
    pass_dir.mkdir(parents=True)
    (pass_dir / "summary_cache").mkdir()
    (pass_dir / "local").mkdir()
    (pass_dir / "eventlog").mkdir()
    (pass_dir / "tmp").mkdir()
    spec = dict(
        spec,
        run_dir=str(pass_dir),
        report=str(pass_dir / "report.json"),
        event_log_dir=str(pass_dir / "eventlog"),
    )
    spec_path = pass_dir / "spec.json"
    spec_path.write_text(json.dumps(spec))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        SPARK_GRAFT_SUMMARY_CACHE=str(pass_dir / "summary_cache"),
        SPARK_LOCAL_DIRS=str(pass_dir / "local"),
        SPARK_GRAFT_CPUS=str(CPUS),
        # keep temporary files inside the pass directory; a JVM killed at
        # the end of a pass would otherwise leave its perf-data file in /tmp
        TMPDIR=str(pass_dir / "tmp"),
        JAVA_TOOL_OPTIONS=" ".join(
            o for o in (
                os.environ.get("JAVA_TOOL_OPTIONS", ""),
                f"-Djava.io.tmpdir={pass_dir / 'tmp'}",
                "-XX:-UsePerfData",
            ) if o
        ),
    )
    log = open(pass_dir / "worker.log", "wb")
    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(spec_path)],
        cwd=str(ROOT), env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        _kill_group(proc.pid)
        proc.wait()
        log.close()
    if rc != 0:
        tail = (pass_dir / "worker.log").read_text(errors="replace")[-3000:]
        raise RuntimeError(
            f"pass {'timed out' if rc is None else f'exited {rc}'}:\n{tail}"
        )
    report = json.loads((pass_dir / "report.json").read_text())
    report["setup_s"] = report["t_ready"] - t_spawn
    report["summary_materializations"] = len(
        list((pass_dir / "summary_cache").rglob("*.meta.json"))
    )
    report["summary_bytes_written"] = sum(
        p.stat().st_size for p in (pass_dir / "summary_cache").rglob("*") if p.is_file()
    )
    if spec["trace"]:
        logs = [p for p in (pass_dir / "eventlog").iterdir() if p.is_file()]
        if len(logs) != 1:
            raise RuntimeError(f"expected one event log, found {logs}")
        report["eventlog"] = eventlog.summarize(eventlog.read_events(logs[0]))
    return report


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def end_to_end(passes: list[dict], probes: list[dict], input_bytes: float) -> dict:
    med = statistics.median
    op_s = [
        x for p in passes for op in p["ops"]
        for x in ([b["s"] for b in op["batches"]] if "batches" in op else [op.get("s")])
        if x is not None
    ]
    deciles = statistics.quantiles(op_s, n=10, method="inclusive")
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for op in p["ops"] if not op["ok"])
    return {
        "setup_s": (med(p["setup_s"] for p in passes + probes), "s"),
        "job_s": (med(p["job_s"] for p in passes), "s"),
        "op_p50_s": (deciles[4], "s"),
        "op_p90_s": (deciles[8], "s"),
        "rows_per_s": (med(p["rows_out"] / p["job_s"] for p in passes), "1/s"),
        "store_bytes_per_input_byte": (med(p["bytes_out"] for p in passes) / input_bytes, "ratio"),
        "ok_ops_frac": (1.0 - failed / attempted, "ratio"),
    }


def per_layer(plain: list[dict], traced: list[dict], stream_input_bytes: float) -> dict:
    """Per-layer metrics from the traced passes (medians over passes);
    ``trace.overhead_frac`` compares their ``job_s`` with the untraced
    passes of the same run."""
    med = statistics.median

    def m(fn):
        return med(fn(p) for p in traced)

    def ev(key):
        return m(lambda p: p["eventlog"][key])

    def cache(p):
        return [op["cache"] for op in p["ops"] if "cache" in op]

    def created(p):
        frames = [0] + [c[0] for c in cache(p)]
        return sum(max(0, b - a) for a, b in zip(frames, frames[1:]))

    def batches(p):
        return [b for op in p["ops"] for b in op.get("batches", ())]

    return {
        "session.get_spark_s": (m(lambda p: p["get_spark_s"]), "s"),
        "session.warmup_s": (m(lambda p: p["warmup_s"]), "s"),
        "process.peak_rss_mb": (m(lambda p: p["rss_kb"]) / 1024.0, "MB"),
        "plans.build_s": (m(lambda p: sum(op.get("build_s", 0.0) for op in p["ops"])), "s"),
        "plans.build_jobs": (ev("build_jobs"), "count"),
        "engine.exec_s": (m(lambda p: sum(op.get("sink_s", 0.0) for op in p["ops"])), "s"),
        "engine.jobs": (ev("exec_jobs"), "count"),
        "engine.stages": (ev("exec_stages"), "count"),
        "engine.tasks": (ev("exec_tasks"), "count"),
        "engine.shuffle_read_bytes": (ev("shuffle_read_bytes"), "B"),
        "engine.shuffle_write_bytes": (ev("shuffle_write_bytes"), "B"),
        "engine.spill_bytes": (ev("spill_bytes"), "B"),
        "engine.executor_cpu_s": (ev("executor_cpu_s"), "s"),
        "engine.jvm_gc_s": (ev("jvm_gc_s"), "s"),
        "udf.python_rows": (ev("python_rows"), "count"),
        "udf.python_bytes": (ev("python_bytes"), "B"),
        "cache.persisted_frames_peak": (m(lambda p: max([c[0] for c in cache(p)] or [0])), "count"),
        "cache.persisted_bytes_peak": (m(lambda p: max([c[1] for c in cache(p)] or [0])), "B"),
        "cache.persisted_bytes_end": (m(lambda p: ([0] + [c[1] for c in cache(p)])[-1]), "B"),
        "cache.scan_hits": (ev("cache_scans"), "count"),
        "cache.hits_per_persist": (
            m(lambda p: p["eventlog"]["cache_scans"] / max(1, created(p))), "ratio"
        ),
        "sources.input_bytes": (ev("file_bytes_read"), "B"),
        "sources.summary_materializations": (m(lambda p: p["summary_materializations"]), "count"),
        "sources.summary_bytes_written": (m(lambda p: p["summary_bytes_written"]), "B"),
        "streaming.add_batch_s": (m(lambda p: sum(b["add_batch_s"] for b in batches(p))), "s"),
        "streaming.planning_s": (m(lambda p: sum(b["planning_s"] for b in batches(p))), "s"),
        "streaming.commit_s": (m(lambda p: sum(b["commit_s"] for b in batches(p))), "s"),
        "streaming.bytes_written_per_input_byte": (
            m(lambda p: p["eventlog"]["stream_bytes_written"] / stream_input_bytes
              if stream_input_bytes else 0.0),
            "ratio",
        ),
        "streaming.store_bytes": (m(lambda p: p["store_bytes"]), "B"),
        "trace.overhead_frac": (
            m(lambda p: p["job_s"]) / med(p["job_s"] for p in plain) - 1.0, "ratio"
        ),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its workers (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("__spark_entry__.py", "lol_data_collection_system_spark"):
        if not (ROOT / need).exists():
            print(f"no {need} in {ROOT}: run from a checkout", file=sys.stderr)
            return 2

    wl = workloads.WORKLOADS[args.workload]
    run_id = uuid.uuid4().hex[:12]
    run_dir = STATE / "runs" / f"{args.workload}-{args.seed}-{run_id}"
    t_run = time.time()
    deadline = time.monotonic() + RUN_DEADLINE_S
    spec = {
        "workload": args.workload,
        "cpus": CPUS,
        "run_id": run_id,
        "expected": workloads.expected(),
    }
    try:
        run_dir.mkdir(parents=True)
        spec.update(ops=workloads.run_order(wl, args.seed), sf_dir=str(datagen.SF_DIR))
        input_bytes = float(sum(p.stat().st_size for p in datagen.SF_DIR.glob("*.parquet")))
        stream_input_bytes = 0.0
        if "stream_gen" in wl:
            # the stream inputs follow the seed; generating them is not timed
            stream_input_bytes = float(datagen.write_stream_inputs(
                run_dir / "inputs", args.seed, **wl["stream_gen"]
            ))
            spec["stream_inputs"] = str(run_dir / "inputs")
            input_bytes += stream_input_bytes

        # Set-up is timed in every process. An untraced run adds
        # SETUP_PROBES processes that only set up, so that setup_s is a
        # median over several cold starts without paying for more passes.
        probes = [
            run_pass(dict(spec, setup_only=True, trace=False), run_dir / f"probe{i}", deadline)
            for i in range(0 if args.trace else SETUP_PROBES)
        ]
        t_measure = time.monotonic()
        passes: list[dict] = []
        while True:
            # a traced run alternates untraced and traced passes
            trace = bool(args.trace) and len(passes) % 2 == 1
            pass_dir = run_dir / f"pass{len(passes)}"
            p = run_pass(
                dict(spec, trace=trace, parent_span=f"workload-{run_id}"), pass_dir, deadline
            )
            shutil.rmtree(pass_dir, ignore_errors=True)
            p["traced"] = trace
            passes.append(p)
            used = time.monotonic() - t_measure
            enough = len(passes) >= (2 if args.trace else MIN_PASSES)
            if enough and used + used / len(passes) > args.seconds:
                break

        plain = [p for p in passes if not p["traced"]]
        if args.trace:
            traced = [p for p in passes if p["traced"]]
            metrics = per_layer(plain, traced, stream_input_bytes)
            _write_spans(args, run_id, t_run, passes)
        else:
            metrics = end_to_end(plain, probes, input_bytes)
        errors = [
            f"{op['name']}: {op['error']}" for p in passes for op in p["ops"] if not op["ok"]
        ]
        for e in errors:
            print(e, file=sys.stderr)
        attempted = sum(len(p["ops"]) for p in passes)
        print(json.dumps({
            "correct": not errors,
            "attempted": attempted,
            "failed": len(errors),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _write_spans(args, run_id: str, t_run: float, passes: list[dict]) -> None:
    """Write the run's spans as JSON lines: the run and workload spans
    here, the per-pass setup, query/stream and build/sink/batch spans as
    the traced workers recorded them."""
    out = STATE / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    out.parent.mkdir(parents=True, exist_ok=True)
    run_span = {"id": f"run-{run_id}", "name": "run", "start": t_run,
                "end": time.time(), "parent": None, "run": run_id}
    wl_span = {"id": f"workload-{run_id}", "name": f"workload:{args.workload}",
               "start": t_run, "end": run_span["end"], "parent": run_span["id"],
               "run": run_id}
    rows = [run_span, wl_span]
    rows += [s for p in passes for s in p["spans"]]
    out.write_text("".join(json.dumps(r) + "\n" for r in rows))


if __name__ == "__main__":
    sys.exit(main())
