"""The repo benchmark: one command, three workloads, end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload live-ref --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

- ``live-ref``: the reference loop, an open loop of 5 PageEvents/s into
  ``CountStore`` with a 1 s trigger and one SSE client on
  ``AnalyticsServer``.
- ``stream-saturate``: a closed loop of 1,000,000-row micro-batches over
  20,000 pages, triggers back to back, no serving.
- ``batch-mix``: a fixed list of registry queries at sf0.1 into a noop
  sink, after an untimed pass checked against the DuckDB oracles.

The measured run happens in a child process (``worker.py``) so that its
set-up starts from a fresh process, the JVM's log lines can be read, and
every process can be stopped. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Every record, with its run metadata, is also kept under
``.perfbench_work/results``.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import check_metrics, median, tail  # noqa: E402

PACKAGE = "kafka_streams_spring_cloud_stream_tp1_spark"
# BENCHMARK.json gates live-ref and batch-mix; stream-saturate runs the
# same way but is left out of the gated set (see README.md)
WORKLOADS = ("live-ref", "batch-mix", "stream-saturate")
WORK_DIR = ".perfbench_work"
TIMEOUT_S = 170
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR |^Exception in thread ")
MARKER = re.compile(r"^perfbench-marker (\S+) ")


def spawn(args, work: str, data: str, trace_file: str, cpus: str) -> tuple[dict, list[str]]:
    """Run worker.py; return its record and its stderr lines."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": cpus,
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONUNBUFFERED": "1",
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    log_path = os.path.join(work, "worker-stderr.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--data", data, "--trace-file", trace_file,
    ]
    with open(log_path, "w") as log:
        spawn_time = time.time()
        proc = subprocess.Popen(cmd + ["--spawn-time", repr(spawn_time)], stdout=subprocess.PIPE,
                                stderr=log, start_new_session=True, env=env)
        try:
            stdout, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stdout = b""
        finally:
            stop_group(proc)
    with open(log_path, errors="replace") as f:
        lines = f.read().splitlines()
    if proc.returncode != 0 or not stdout.strip():
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"worker failed with code {proc.returncode}")
    return json.loads(stdout.decode().strip().splitlines()[-1]), lines


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group (the JVM)
    and wait until every member has gone."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def nproc() -> int:
    """The cores this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or None


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0


def classify_errors(lines: list[str]) -> tuple[int, int]:
    """(error lines logged before the worker's stopping marker, error
    lines logged after it). Neither is a failed operation by itself: a
    failed trigger, frame, query or check is counted where it happens."""
    stopping, before, after = False, 0, 0
    for line in lines:
        m = MARKER.match(line)
        if m:
            stopping = stopping or m.group(1) == "stopping"
        elif ERROR_LINE.match(line):
            after += stopping
            before += not stopping
    return before, after


def _p50(xs) -> float:
    return median(xs) if xs else 0.0


def latency_ms(rec: dict) -> float:
    """The median latency sample. A run without one has already failed
    (see ``outcome``); it reports the worker's stand-in, a wait no event
    of the run could have beaten, so a broken path never reads fast."""
    xs = rec["latency_ms"]
    return median(xs) if xs else rec["latency_censor_ms"]


def end_to_end(rec: dict) -> dict:
    return {
        "setup_s": {"value": rec["setup_s"], "unit": "s"},
        "latency_ms": {"value": latency_ms(rec), "unit": "ms"},
        "cpu_ms_per_op": {"value": rec["cpu_ms_per_op"], "unit": "ms"},
    }


def outcome(rec: dict) -> tuple[bool, int, int]:
    """(correct, attempted, failed). Operations are the window's
    triggers and SSE frames (missed ones too), the timed queries and the
    correctness checks, one of which is that the window yielded a
    latency sample. A query that died inside the window fails too. The
    run is correct when nothing failed."""
    g = rec.get
    no_samples = not rec["latency_ms"]
    attempted = (g("triggers", 0) + g("frames", 0) + g("missed_frames", 0) + g("queries_run", 0)
                 + rec["checks"] + 1)
    failed = (g("failed_triggers", 0) + g("frame_errors", 0) + g("missed_frames", 0)
              + rec["checks_failed"] + no_samples + (1 if g("window_exception") else 0))
    return failed == 0, attempted, failed


def per_layer(rec: dict, workload: str, error_lines: int, stop_errors: int) -> dict:
    """Every per-layer metric on every workload; a layer the workload
    does not exercise reads 0."""
    from worker import BATCH_QUERIES, FAMILIES

    g = rec.get
    live = workload == "live-ref"
    store_ms = g("store_ms") if live else []
    store_pct, store_tail, _ = tail(store_ms)
    sse_pct, sse_tail, _ = tail(g("latency_ms") if live else [])
    m = {
        "session.get_spark_s": (g("get_spark_s"), "s"),
        "session.error_log_lines": (error_lines, "count"),
        "session.peak_rss_mb": (g("peak_rss_mb"), "MB"),
        "sources.input_rows_per_trigger": (g("input_rows_per_trigger", 0), "rows"),
        "sources.latest_offset_ms_p50": (g("latestOffset_ms_p50", 0), "ms"),
        "sources.get_batch_ms_p50": (g("getBatch_ms_p50", 0), "ms"),
        "sources.lag_slope_ms_per_s": (g("lag_slope_ms_per_s", 0), "ms/s"),
        "streaming.triggers": (g("triggers", 0), "count"),
        "streaming.start_to_first_trigger_s": (g("start_to_first_trigger_s", 0), "s"),
        "streaming.trigger_ms_p50": (g("triggerExecution_ms_p50", 0), "ms"),
        "streaming.add_batch_ms_p50": (g("addBatch_ms_p50", 0), "ms"),
        "streaming.query_planning_ms_p50": (g("queryPlanning_ms_p50", 0), "ms"),
        "streaming.wal_commit_ms_p50": (g("walCommit_ms_p50", 0), "ms"),
        "streaming.commit_offsets_ms_p50": (g("commitOffsets_ms_p50", 0), "ms"),
        "streaming.cadence_miss_ratio": (g("cadence_miss_ratio", 0), "ratio"),
        "streaming.state_rows": (g("state_rows", 0), "rows"),
        "streaming.state_bytes": (g("state_bytes", 0), "bytes"),
        "streaming.state_rows_updated_per_trigger": (_p50(g("state_rows_updated")), "rows"),
        "streaming.state_update_ms_p50": (_p50(g("state_update_ms")), "ms"),
        "streaming.state_remove_ms_p50": (_p50(g("state_remove_ms")), "ms"),
        "streaming.state_commit_ms_p50": (_p50(g("state_commit_ms")), "ms"),
        "streaming.state_partitions": (g("state_partitions", 0), "count"),
        "streaming.rows_dropped_by_watermark": (g("rows_dropped_by_watermark", 0), "rows"),
        "streaming.stop_errors": (stop_errors + (1 if g("stop_exception") else 0), "count"),
        "sinks.upsert_ms_p50": (_p50(g("upsert_ms")), "ms"),
        "sinks.changelog_rows_per_trigger": (_p50(g("changelog_rows")), "rows"),
        "sinks.store_keys": (g("store_keys", 0), "count"),
        "sinks.foreach_batch_rest_ms_p50": (_p50(g("foreach_batch_rest_ms")), "ms"),
        "sinks.event_to_store_ms_p50": (_p50(store_ms), "ms"),
        "sinks.event_to_store_ms_tail": (store_tail or 0.0, "ms"),
        "sinks.event_to_store_tail_pct": (store_pct or 0, "pct"),
        "serving.fetch_ms_p50": (_p50(g("fetch_ms")), "ms"),
        "serving.frames": (g("frames", 0), "count"),
        "serving.frame_errors": (g("frame_errors", 0), "count"),
        "serving.missed_frames": (g("missed_frames", 0), "count"),
        "serving.sse_interval_ms_p50": (_p50(g("sse_interval_ms")), "ms"),
        "serving.event_to_sse_ms_tail": (sse_tail or 0.0, "ms"),
        "serving.event_to_sse_tail_pct": (sse_pct or 0, "pct"),
    }
    plans = g("plans") or {}
    fam_s = dict.fromkeys(FAMILIES, 0.0)
    for name, fam in BATCH_QUERIES:
        q = plans.get(name, {})
        m[f"plans.{name}.build_s"] = (q.get("build_s", 0.0), "s")
        m[f"plans.{name}.exec_s"] = (q.get("exec_s", 0.0), "s")
        m[f"plans.{name}.stages"] = (q.get("stages", 0), "count")
        m[f"plans.{name}.tasks"] = (q.get("tasks", 0), "count")
        fam_s[fam] += q.get("build_s", 0.0) + q.get("exec_s", 0.0)
    for fam in FAMILIES:
        m[f"operators.{fam}_s"] = (fam_s[fam], "s")
    m["trace.spans"] = (g("spans", 0), "count")
    m["trace.record_ms"] = (g("trace_record_ms", 0.0), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def report_lines(rec: dict, workload: str, failed: int, attempted: int) -> list[str]:
    """Each workload's own named metrics (event_to_store_ms_*, batch_s,
    ...), by name with unit and sample count."""
    out = [f"# {workload}: {json.dumps(rec['meta'], sort_keys=True)}"]

    def show(name, value, unit, n=None):
        out.append(f"{name} {value:.4f} {unit}" + (f" (n={n})" if n is not None else ""))

    def pct(name, xs, unit="ms"):
        if xs:
            show(f"{name}_p50", median(xs), unit, len(xs))
            p, v, n = tail(xs)
            if p is not None and p > 50:
                show(f"{name}_p{p}", v, unit, n)

    show("setup_s", rec["setup_s"], "s")
    if workload == "live-ref":
        pct("event_to_store_ms", rec["store_ms"])
        pct("event_to_sse_ms", rec["latency_ms"])
        pct("sse_interval_ms", rec["sse_interval_ms"])
    elif workload == "stream-saturate":
        show("stream_rows_per_s", rec["rows_per_busy_s"], "1/s", rec["triggers"])
    else:
        show("batch_s", rec["pass_s"], "s", rec["queries_run"])
    show("failed_ratio", failed / attempted, "ratio", attempted)
    show("peak_rss_mb", rec["peak_rss_mb"], "MB")
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", default=str(nproc()),
                    help="SPARK_GRAFT_CPUS for the run (default: the cores this process may use)")
    args = ap.parse_args()
    # a terminated run still stops its worker and the worker's JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        raise SystemExit(f"{PACKAGE} not found under {root}; run from the root of a checkout")
    work = os.path.join(root, WORK_DIR)
    os.makedirs(work, exist_ok=True)
    # one run at a time per checkout: runs share the work directory
    lock = open(os.path.join(work, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    for sub in ("tmp", "spark-local", "checkpoints", "warehouse"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.cpus != str(nproc()):
        tag += f"-cpus{args.cpus}"

    data = ""
    if args.workload == "batch-mix":
        import datagen
        from worker import BATCH_SF

        data_root = os.path.join(work, "data")
        data = datagen.ensure(data_root, BATCH_SF, args.seed)
        for old in os.listdir(data_root):  # keep one data set on disk
            if os.path.join(data_root, old) != data:
                shutil.rmtree(os.path.join(data_root, old), ignore_errors=True)

    trace_file = os.path.join(work, "results", f"{tag}.spans.jsonl")
    cpu0 = cpu_times()
    rec, lines = spawn(args, work, data, trace_file, args.cpus)
    rec["meta"]["commit"] = git_commit(root)
    # share of the host's CPU time stolen by other guests during the run:
    # a noisy-neighbour flag for comparing results
    rec["meta"]["host_steal_pct"] = steal_pct(cpu0, cpu_times())
    error_lines, stop_errors = classify_errors(lines)

    correct, attempted, failed = outcome(rec)
    metrics = per_layer(rec, args.workload, error_lines, stop_errors) if args.trace else end_to_end(rec)
    problems = check_metrics(metrics)
    if problems:
        raise SystemExit("; ".join(problems))

    for line in report_lines(rec, args.workload, failed, attempted):
        print(line)
    for p in rec.get("check_problems", []):
        print(f"check failed: {p}")
    if not rec["latency_ms"]:
        print("check failed: no latency sample inside the window")
    if rec.get("missed_frames"):
        print(f"missed SSE frames: {rec['missed_frames']}")
    if rec.get("window_exception"):
        print(f"query died inside the window: {rec['window_exception']}")
    if error_lines:
        print(f"error log lines before stop (no operation failed with them): {error_lines}")
    if rec.get("stop_exception") or stop_errors:
        print(f"stop-time errors (not counted as failures): {stop_errors} log lines; "
              f"query.exception() = {rec.get('stop_exception')}")
    if args.trace:
        traced = latency_ms(rec)
        print(f"tracing: {rec['spans']} spans, {rec['trace_record_ms']:.3f} ms spent recording; "
              f"traced latency_ms {traced:.4f} ms")
        untraced = os.path.join(work, "results", f"{tag.replace('-trace1', '-trace0')}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["result"]["metrics"]["latency_ms"]["value"]
            print(f"tracing overhead vs the untraced run of this seed: "
                  f"{(traced - base) / base * 100:+.1f}% latency_ms")
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    with open(os.path.join(work, "results", f"{tag}.json"), "w") as f:
        json.dump({"meta": rec["meta"], "error_lines": error_lines, "stop_errors": stop_errors,
                   "result": result, "raw": rec}, f, default=str)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
