"""Benchmark of the S3 → decode → transform → PutRecords adapter, run
from the root of a checkout:

    python3 perfbench/run.py --workload kinesis_backlog --seed 1 --seconds 20 --trace 0

It generates the workload's inputs from ``--seed``, sets up (speed probe,
emulator, Spark session, registry, first call or first batch), warms up,
measures operations for ``--seconds`` seconds, checks every output, and
prints one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run also turns on
the Spark event log, a streaming progress listener and per-request
emulator spans, reports the per-layer metrics, and writes its spans to
``.bench_work/traces/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

# setup_s counts from here, before the imports below
BENCH_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("kinesis_backlog", "kinesis_paced")
BENCH_DIR = ROOT / ".bench_work"
EMULATOR_PORT = 5123  # the port kinesis_adapter_spark.sources.aws serves on
STREAM_SHARDS = 4  # both Kinesis workloads write 4-shard streams


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description="S3→Kinesis adapter benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: Path, trace: bool) -> Path:
    """Keep Spark's and Python's scratch files inside the checkout, and turn
    on the uncompressed, non-rolling event log for a traced run."""
    tmp = work / "tmp"
    event_log = work / "eventlog"
    for d in (tmp, event_log, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None  # recompute from TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    confs = ["spark.ui.showConsoleProgress=false"]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{event_log}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    args = " ".join(f"--conf {c}" for c in confs)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    return event_log


def vm_hwm_mb(pid: int) -> float:
    """High-water resident set of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """Steal time of all the VM's CPUs so far (proc(5), /proc/stat)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def share(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(res, tracer, listener, jobs, session_s, registry_s, setup_s) -> dict:
    from perfbench.trace import mean, spark_summary

    wall = sum(e - s for s, e in res.windows)
    ops = max(res.ops, 1)
    acts = res.emulator["actions"]
    put = acts.get("PutRecords", {})
    get = acts.get("GetRecords", {})
    put_busy = put.get("busy_us", 0) / 1e6

    per_stream: dict[str, list[int]] = {}
    for key, n in res.emulator["shard_records"].items():
        per_stream.setdefault(key.split("/")[0], []).append(n)
    # every stream here has STREAM_SHARDS shards; shards that got nothing count
    skews = [max(v) / (sum(v) / STREAM_SHARDS) for v in per_stream.values()]

    in_window = [
        p for p in listener.progress if any(lo <= p["start"] <= hi for lo, hi in res.windows)
    ]
    dur = [p["durationMs"] for p in in_window]
    sink_s = sum(d.get("addBatch", 0) for d in dur) / 1000  # addBatch is the foreachBatch call
    sp = spark_summary(jobs, res.windows)

    m = {
        "session.build_s": (session_s, "s"),
        "registry.load_s": (registry_s, "s"),
        "staging.first_call_s": (res.first_call_s, "s"),
        "aws.puts_per_op": (put.get("calls", 0) / ops, "count"),
        "aws.records_per_put": (share(put.get("records", 0), put.get("calls", 0)), "count"),
        "aws.bytes_per_put": (share(put.get("data_bytes", 0), put.get("calls", 0)), "B"),
        "aws.put_busy_share": (share(put_busy, wall), "ratio"),
        "aws.put_rejected": (put.get("rejected", 0), "count"),
        "aws.errors": (sum(c.get("errors", 0) for c in acts.values()), "count"),
        "aws.get_busy_share": (share(get.get("busy_us", 0) / 1e6, wall), "ratio"),
        "aws.shard_skew": (mean(skews), "ratio"),
        "aws.create_stream_setup_share": (share(res.create_stream_s, setup_s), "ratio"),
        "sink.calls_per_op": (len(dur) / ops, "count"),
        "sink.busy_share": (share(sink_s, wall), "ratio"),
        "sink.non_put_share": (share(sink_s - put_busy, sink_s), "ratio"),
        "stream.batches_per_op": (len(dur) / ops, "count"),
        "stream.rows_per_batch": (mean(p["rows"] for p in in_window), "count"),
    }
    for part in ("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning",
                 "addBatch", "triggerExecution"):
        m[f"stream.{part}_ms"] = (mean(d.get(part, 0) for d in dur), "ms")
    m["stream.floor_ms_per_batch"] = (
        mean(d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur), "ms"
    )
    for group in ("driver", "jvm", "workers"):
        m[f"cpu.{group}_norm_ms_per_record"] = (res.cpu_ms_per_record.get(group, 0.0), "ms")
    m["source.lag_objects_max"] = (res.lag_objects_max, "count")
    m["gen.late_max_share"] = (res.late_max_share, "ratio")
    m.update({
        "spark.jobs_per_op": (sp["jobs"] / ops, "count"),
        "spark.tasks_per_op": (sp["tasks"] / ops, "count"),
        "spark.task_run_s": (sp["run_s"] / ops, "s"),
        "spark.cpu_share": (share(sp["cpu_s"], sp["run_s"]), "ratio"),
        "spark.gc_share": (share(sp["gc_s"], sp["run_s"]), "ratio"),
        "spark.deser_share": (share(sp["deser_s"], sp["run_s"]), "ratio"),
        "spark.fetch_wait_share": (share(sp["fetch_wait_s"], sp["run_s"]), "ratio"),
        "spark.shuffle_read_bytes": (sp["shuffle_read_bytes"] / ops, "B"),
        "spark.spill_bytes": (sp["spill_bytes"] / ops, "B"),
        "spark.driver_only_s": (sp["driver_only_s"] / ops, "s"),
        "trace.spans": (len(tracer.spans), "count"),
        # wall-clock views of the run, which move with the host's load
        # G1 sizes the JVM's heap adaptively, so its high-water mark moves
        # by a quarter between runs of the same code
        "mem.jvm_peak_rss_mb": (res.peak_rss_mb["jvm"], "MB"),
        "mem.peak_rss_mb": (sum(res.peak_rss_mb.values()), "MB"),
        "wall.setup_s": (setup_s, "s"),
        "wall.records_per_s": (res.records_per_s, "1/s"),
        "wall.latency_p50_s": (res.latencies[0] if res.latencies else 0.0, "s"),
        "wall.latency_p90_s": (res.latencies[1] if res.latencies else 0.0, "s"),
    })
    return m


def attach_spans(tracer, res, listener, log: dict | None, run_span: int) -> None:
    """Micro-batch, emulator-request and Spark job/stage spans, each under
    the innermost span that encloses it: a micro-batch, else a call, else a
    phase, else the run."""

    def parent(start: float, end: float, levels: tuple[str, ...]) -> int:
        for level in levels:
            sid = tracer.enclosing(start, end, level)
            if sid is not None:
                return sid
        return run_span

    for p in listener.progress:
        end = p["start"] + p["durationMs"].get("triggerExecution", 0) / 1000
        tracer.add(f"batch:{p['name'] or p['query'][:8]}:{p['batch']}", p["start"], end,
                   parent(p["start"], end, ("call", "phase")),
                   level="batch", rows=p["rows"], durationMs=p["durationMs"])
    for action, start, end, code, records in res.emulator["spans"]:
        tracer.add(f"aws:{action}", start, end, parent(start, end, ("batch", "call", "phase")),
                   level="request", status=code, records=records)
    if log is None:
        return
    job_span = {}
    for jid, j in sorted(log["jobs"].items()):
        if j["end"] is None:
            continue
        job_span[jid] = tracer.add(f"job:{jid}", j["start"], j["end"],
                                   parent(j["start"], j["end"], ("batch", "call", "phase")),
                                   level="job", tasks=j["tasks"], task_run_s=j["run_s"],
                                   task_cpu_s=j["cpu_s"])
    for sid, s in sorted(log["stages"].items()):
        if s["job"] in job_span and s["end"]:
            tracer.add(f"stage:{sid}", s["start"], s["end"], job_span[s["job"]], level="stage",
                       tasks=s["tasks"])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kinesis_adapter_spark").is_dir():
        print(f"no kinesis_adapter_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_id = uuid.uuid4().hex[:12]
    bench_dir = BENCH_DIR
    work = bench_dir / f"run-{run_id}"
    event_log = configure_env(work, bool(args.trace))

    from perfbench.trace import Tracer, make_progress_listener, read_event_log
    from perfbench import workloads as W

    tracer = Tracer(run_id)
    run_span = tracer.add("run", time.time(), 0.0, None, level="run", workload=args.workload,
                          seed=args.seed, trace=args.trace)
    emu = probe = spark = wl = None
    try:
        t = time.perf_counter()
        if args.workload == "kinesis_backlog":
            wl = W.KinesisBacklog(work, args.seed)
        else:
            wl = W.KinesisPaced(work, args.seed, args.seconds)
        gen_s = time.perf_counter() - t
        res = W.Result()

        with tracer.span("setup", run_span, level="phase") as setup_span:
            from perfbench.emulator import Emulator
            from perfbench.speed import REFERENCE_S, SpeedProbe

            probe = SpeedProbe()
            probe.start()
            emu = Emulator(EMULATOR_PORT, bool(args.trace), work / "emulator.log")
            emu.start()
            t = time.perf_counter()
            from kinesis_adapter_spark.session import build_spark

            spark = build_spark(app_name=f"perfbench-{args.workload}")
            session_s = time.perf_counter() - t
            t = time.perf_counter()
            from kinesis_adapter_spark.plans.registry import load_all_modules

            load_all_modules()
            registry_s = time.perf_counter() - t
            listener = make_progress_listener()
            if args.trace:
                spark.streams.addListener(listener)
            ctx = W.Context(spark, tracer, emu, probe, args.seconds, setup_span)
            wl.setup(ctx, res)
        setup_s = time.perf_counter() - BENCH_START - gen_s
        res.details["probe_setup"] = probe.summary(tracer.spans[setup_span]["start"], time.time())
        # set-up is CPU-bound (JVM launch, imports, a cold first call): scaled
        # like the CPU times, it reads as the set-up time on the reference host
        norm_setup_s = setup_s * REFERENCE_S / res.details["probe_setup"]["loop_s"]

        steal0 = steal_s()
        with tracer.span("measure", run_span, level="phase") as ctx.phase_span:
            wl.measure(ctx, res)
        # CPU time the host took from the VM while it measured, for diagnosis
        res.details["steal_s"] = steal_s() - steal0
        if args.trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            spark.streams.removeListener(listener)
        res.peak_rss_mb = {
            "driver": vm_hwm_mb(os.getpid()),
            "jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
        }
        spark.stop()
        spark = None
        log = read_event_log(event_log) if args.trace else None
        jobs = log["jobs"] if log else {}

        if not res.records:
            res.problems.append("no timed operation completed")
        e2e = {
            "setup_s": (norm_setup_s, "s"),
            "driver_peak_rss_mb": (res.peak_rss_mb["driver"], "MB"),
            "norm_cpu_ms_per_record": (res.cpu_ms_per_record.get("total", 0.0), "ms"),
        }
        tracer.spans[run_span]["end"] = time.time()
        if args.trace:
            attach_spans(tracer, res, listener, log, run_span)
            metrics = per_layer(res, tracer, listener, jobs, session_s, registry_s, setup_s)
        else:
            metrics = e2e
        correct = res.failed == 0 and not res.problems

        summary = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "correct": correct, "problems": res.problems,
            "end_to_end": {k: v for k, (v, _) in e2e.items()},
            "per_layer": {k: v for k, (v, _) in metrics.items()} if args.trace else None,
            "details": res.details, "gen_s": gen_s, "ops": res.ops,
        }
        report_overhead(bench_dir, summary)
        if args.trace:
            path = bench_dir / "traces" / f"{args.workload}-seed{args.seed}-{run_id}.json"
            tracer.write(path, {"summary": summary})
            print(f"spans written to {path}", file=sys.stderr)
        for p in res.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        print(json.dumps({
            "correct": correct,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if wl is not None:
            try:
                wl.cleanup()
            except Exception:
                traceback.print_exc()
        if spark is not None:
            spark.stop()
        stop_gateway()
        if emu is not None:
            emu.stop()
        if probe is not None:
            probe.stop()
        shutil.rmtree(work, ignore_errors=True)


def stop_gateway() -> None:
    """Shut down the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def report_overhead(bench_dir: Path, summary: dict) -> None:
    """Keep this run's end-to-end numbers; when the run with the other
    --trace value exists for the same workload, seed and length, print the
    tracing overhead (traced minus untraced, as a share of untraced)."""
    results = bench_dir / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{summary['workload']}-seed{summary['seed']}-s{summary['seconds']:g}"
    (results / f"{stem}-trace{summary['trace']}.json").write_text(json.dumps(summary, indent=1))
    other = results / f"{stem}-trace{1 - summary['trace']}.json"
    if not other.exists():
        return
    runs = {summary["trace"]: summary, 1 - summary["trace"]: json.loads(other.read_text())}
    overhead = {
        k: share(runs[1]["end_to_end"][k] - v, v)
        for k, v in runs[0]["end_to_end"].items()
    }
    summary["tracing_overhead"] = overhead
    print("tracing overhead (traced vs untraced): "
          + ", ".join(f"{k} {v:+.1%}" for k, v in overhead.items()), file=sys.stderr)


if __name__ == "__main__":
    # a terminated run still stops its emulator and JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    sys.exit(code)
