"""The benchmark's workloads, each driving the program through its public
functions only.

- ``kinesis_backlog``: closed loop, one caller, repeated calls of the
  packaged pipeline ``QUERIES["stream_to_kinesis_e2e"]`` on a generated
  ``events.parquet``; each call delivers the whole backlog into a fresh
  4-shard stream.
- ``kinesis_paced``: open loop; one generator thread publishes small
  NDJSON objects on a fixed schedule into a watched directory, which a
  ``processingTime`` query delivers through ``KinesisForeachBatchSink``.

A workload returns every timed operation's window and the raw numbers
``run.py`` turns into metrics. Outputs are checked outside the timed
windows, and every failed check is counted.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import gen
from perfbench.speed import REFERENCE_S

FIRST_BATCH_OBJECTS = 2  # published alone, so the first micro-batch's cost is set-up
PACED_WARMUP_S = 8.0  # untimed traffic before the measured objects
TICK_LEAD_S = 0.05  # the paced schedule starts this long after a trigger
LATE_TICK_S = 0.1  # a CPU sample this late is dropped
BACKLOG_WARMUP_CALLS = 1  # untimed calls after the first, while the JIT warms up
DELIVERY_TIMEOUT_S = 60.0


@dataclass
class Context:
    spark: object
    tracer: object
    emulator: object  # perfbench.emulator.Emulator
    probe: object  # perfbench.speed.SpeedProbe
    seconds: float
    phase_span: int | None = None

    def cpu(self) -> dict[str, float]:
        return program_cpu_s({self.emulator.pid, self.probe.pid})


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    # wall-clock [start, end] of every timed operation
    windows: list[tuple[float, float]] = field(default_factory=list)
    ops: int = 0
    records: int = 0  # delivered in the timed operations
    # normalized program CPU per delivered record, by process group and in
    # total (see norm_cpu_ms_per_record)
    cpu_ms_per_record: dict[str, float] = field(default_factory=dict)
    records_per_s: float = 0.0  # wall clock
    latencies: list[float] = field(default_factory=list)  # wall clock p50, p90
    first_call_s: float = 0.0
    peak_rss_mb: dict[str, float] = field(default_factory=dict)  # per process
    emulator: dict = field(default_factory=lambda: {"actions": {}, "shard_records": {}, "spans": []})
    lag_objects_max: int = 0
    late_max_share: float = 0.0
    create_stream_s: float = 0.0
    details: dict = field(default_factory=dict)

    def fail(self, n: int, what: str) -> None:
        if n:
            self.failed += n
            if len(self.problems) < 20:
                self.problems.append(what)


def p50(xs: list[float]) -> float:
    return statistics.median(xs)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


CLK_TCK = os.sysconf("SC_CLK_TCK")


def program_cpu_s(helpers: set[int]) -> dict[str, float]:
    """CPU seconds, user plus system, used so far by the program's
    processes: this (driver) process, the JVM it launched, and the JVM's
    descendants (Python workers), each including what it reaped of its own
    children. The benchmark's helper processes (``helpers``: the emulator
    and the speed probe) are left out with their subtrees. The kernel
    leaves out the time the host took the VM's CPUs away (steal), but not
    the slowdown of CPUs shared with other tenants; see perfbench/speed.py."""
    stat: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            raw = Path(f"/proc/{d}/stat").read_text()
        except OSError:  # the process ended since the listing
            continue
        f = raw[raw.rindex(")") + 2:].split()
        # fields 4 (ppid) and 14-17 (utime, stime, cutime, cstime) of proc(5)
        stat[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stat.items():
        children.setdefault(ppid, []).append(pid)
    me = os.getpid()
    ticks = {"driver": stat[me][1], "jvm": 0, "workers": 0}
    todo = [(c, "jvm") for c in children.get(me, ()) if c not in helpers]
    while todo:
        pid, group = todo.pop()
        ticks[group] += stat[pid][1]
        todo.extend((c, "workers") for c in children.get(pid, ()))
    return {g: t / CLK_TCK for g, t in ticks.items()}


def cpu_delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {g: after[g] - before[g] for g in after}


def norm_cpu_ms_per_record(cpu: dict[str, float], loop_s: float, records: int) -> dict[str, float]:
    """Program CPU ms per delivered record, per process group and in total,
    scaled to a host that runs the speed probe's loop in ``REFERENCE_S``;
    ``loop_s`` is the loop's median CPU time over the measured phase."""
    scale = REFERENCE_S / loop_s
    out = {g: 1000 * v * scale / records for g, v in cpu.items()}
    out["total"] = sum(out.values())
    return out


def trimmed_mean(xs: list[float]) -> float:
    """Mean without the lowest and the highest value (of three or more)."""
    xs = sorted(xs)
    return statistics.fmean(xs[1:-1] if len(xs) >= 3 else xs)


def merge_emulator(acc: dict, delta: dict) -> None:
    for a, c in delta["actions"].items():
        tgt = acc["actions"].setdefault(a, {})
        for k, v in c.items():
            tgt[k] = tgt.get(k, 0) + v
    for s, n in delta["shard_records"].items():
        acc["shard_records"][s] = acc["shard_records"].get(s, 0) + n
    acc["spans"].extend(delta["spans"])


def drop_derived(sf_dir: Path) -> None:
    """Remove the program's staging cache entry for ``sf_dir`` (keyed by its
    basename), so every run starts with the same cold cache."""
    from kinesis_adapter_spark.sources.scans import DERIVED_ROOT

    shutil.rmtree(DERIVED_ROOT / sf_dir.name, ignore_errors=True)


def check_delivery(res: Result, records: list[dict], expected: dict[int, tuple[str, int]],
                   label: str) -> dict[int, float]:
    """Every expected event arrives exactly once with equal fields; returns
    event_id → arrival time of the events that did."""
    seen: dict[int, float] = {}
    dups = mismatched = unknown = 0
    for r in records:
        p = json.loads(r["Data"])
        eid = p["event_id"]
        if eid in seen:
            dups += 1
            continue
        want = expected.get(eid)
        if want is None:
            unknown += 1
            continue
        if (p["event_type"], p["user_id"]) != want or set(p) != {"event_id", "event_type", "user_id"}:
            mismatched += 1
        seen[eid] = r["ApproximateArrivalTimestamp"].timestamp()
    missing = len(expected) - len(seen)
    res.attempted += len(expected)
    res.fail(missing, f"{label}: {missing} events missing")
    res.fail(dups, f"{label}: {dups} duplicate deliveries")
    res.fail(mismatched, f"{label}: {mismatched} payloads differ")
    res.fail(unknown, f"{label}: {unknown} unexpected events")
    return seen


def _stream_names(kin) -> set[str]:
    names, kw = set(), {}
    while True:
        resp = kin.list_streams(**kw)
        names.update(resp["StreamNames"])
        if not resp.get("HasMoreStreams"):
            return names
        kw = {"ExclusiveStartStreamName": resp["StreamNames"][-1]}


class KinesisBacklog:
    name = "kinesis_backlog"

    def __init__(self, work: Path, seed: int):
        n = gen.TRAFFIC[self.name]["events"].records
        # derived_dir keys staging on the basename alone: make it unique to seed and size
        self.sf_dir = gen.backlog_events(seed, work / f"pbk_s{seed}_n{n}")
        self.expected = gen.expected_payloads(self.sf_dir / "events.parquet")
        self.objects = gen.TRAFFIC[self.name]["objects"]

    def _call(self, ctx: Context, res: Result, label: str) -> float | None:
        from kinesis_adapter_spark.plans.registry import QUERIES
        from kinesis_adapter_spark.sources import aws

        kin = aws.client("kinesis")
        before_streams = _stream_names(kin)
        before = ctx.emulator.stats()
        with ctx.tracer.span(label, ctx.phase_span, level="call", key="stream_to_kinesis_e2e") as sid:
            cpu0 = ctx.cpu()
            start = time.time()
            try:
                rows = QUERIES["stream_to_kinesis_e2e"](ctx.spark, str(self.sf_dir)).collect()
            except Exception as exc:  # a failed call is counted, and the run goes on
                rows = None
                error = repr(exc)
            end = time.time()
            cpu = cpu_delta(ctx.cpu(), cpu0)
        after = ctx.emulator.stats()
        new = sorted(_stream_names(kin) - before_streams)
        if rows is None or len(new) != 1:
            res.attempted += len(self.expected)
            res.fail(len(self.expected), f"{label}: call failed ({error if rows is None else new})")
            return None
        from perfbench.emulator import stats_delta

        res.windows.append((start, end))
        merge_emulator(res.emulator, stats_delta(after, before))
        records = aws.read_all_records(new[0])
        kin.delete_stream(StreamName=new[0], EnforceConsumerDeletion=True)
        seen = check_delivery(res, records, self.expected, label)
        if len(rows) != len(self.expected):
            res.fail(1, f"{label}: pipeline returned {len(rows)} rows")
        ctx.tracer.spans[sid]["records"] = len(seen)
        if seen:
            lat = sorted(t - start for t in seen.values())
            res.details.setdefault("calls", []).append(
                {"wall_s": end - start, "cpu_s": cpu, "records": len(seen), "p50_s": p50(lat),
                 "p90_s": p90(lat)}
            )
        return end - start

    def setup(self, ctx: Context, res: Result) -> None:
        drop_derived(self.sf_dir)
        first = self._call(ctx, res, "first_call")
        if first is None:
            raise RuntimeError(f"the first pipeline call failed: {res.problems}")
        res.windows.clear()  # the staging call is set-up, not a timed operation
        res.emulator = {"actions": {}, "shard_records": {}, "spans": []}
        res.details["first_call_wall_s"] = first
        res.details.pop("calls", None)

    def measure(self, ctx: Context, res: Result) -> None:
        # Untimed warm-up, neither set-up nor measured: the first calls after
        # the staging call still spend CPU on JIT compilation.
        with ctx.tracer.span("warm_up", ctx.phase_span, level="call"):
            for k in range(BACKLOG_WARMUP_CALLS):
                if self._call(ctx, res, f"warm_up{k}") is None:
                    return
        res.windows.clear()
        res.emulator = {"actions": {}, "shard_records": {}, "spans": []}
        res.details["warm_up_calls"] = res.details.pop("calls", [])
        measured = 0.0
        while measured < ctx.seconds or not res.windows:
            wall = self._call(ctx, res, f"call{len(res.windows)}")
            if wall is None:
                break
            measured += wall
        calls = res.details.get("calls", [])
        res.ops = len(calls)
        if calls:
            res.records = sum(c["records"] for c in calls)
            lo, hi = res.windows[0][0], res.windows[-1][1]
            loop_s = ctx.probe.loop_s(lo, hi)
            per_call = [norm_cpu_ms_per_record(c["cpu_s"], loop_s, c["records"]) for c in calls]
            res.details["probe"] = ctx.probe.summary(lo, hi)
            res.cpu_ms_per_record = {g: p50([c[g] for c in per_call]) for g in per_call[0]}
            res.records_per_s = p50([c["records"] / c["wall_s"] for c in calls])
            # per-record latency from the call start, when the whole backlog is due
            res.latencies = [p50([c["p50_s"] for c in calls]), p50([c["p90_s"] for c in calls])]
            res.first_call_s = res.details["first_call_wall_s"] - p50([c["wall_s"] for c in calls])
        res.lag_objects_max = self.objects  # every object is published before the call starts

    def cleanup(self) -> None:
        drop_derived(self.sf_dir)


class KinesisPaced:
    name = "kinesis_paced"

    def __init__(self, work: Path, seed: int, seconds: float):
        cfg = gen.TRAFFIC[self.name]
        self.rate = cfg["objects_per_s"]
        self.trigger_s = cfg["trigger_s"]
        self.count = math.ceil(seconds * self.rate)
        # first-batch objects, then untimed traffic at the measured rate, then
        # the measured objects; the schedule runs on without a gap
        self.first = FIRST_BATCH_OBJECTS
        self.warm = round(PACED_WARMUP_S * self.rate)
        self.objects = gen.paced_objects(seed, self.first + self.warm + self.count)
        self.watch = work / "paced_in"
        self.tmp = work / "paced_tmp"
        self.ckpt = work / "paced_ckpt"
        self.stream = f"pb-paced-{seed}"
        self.query = None

    def _publish(self, i: int) -> float:
        tmp = self.tmp / f"obj-{i:06d}.json.tmp"
        tmp.write_text(self.objects[i][0])
        tmp.replace(self.watch / f"obj-{i:06d}.json")
        return time.time()

    def _open_loop(self, indices: range, t0: float, sample=None):
        """Publish ``indices`` from a generator thread, object k due at
        t0 + k / rate whether or not the pipeline keeps up. Returns the due
        and publish times and, when ``sample`` is given, ``(time,
        sample())`` taken just before each trigger fires while the
        generator runs."""
        due = [t0 + k / self.rate for k in range(len(indices))]
        published = [0.0] * len(indices)
        errors: list[BaseException] = []

        def generator():
            try:
                for k, i in enumerate(indices):
                    delay = due[k] - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    published[k] = self._publish(i)
            except BaseException as exc:  # surfaced by the caller after join
                errors.append(exc)

        th = threading.Thread(target=generator, name="paced-generator")
        th.start()
        ticks = []
        if sample is not None:
            # t0 sits TICK_LEAD_S after a trigger; the previous micro-batch
            # has long finished when the next one is about to fire
            tick = t0 - TICK_LEAD_S - 0.02 + self.trigger_s
            while tick <= due[-1] + self.trigger_s / 2 or len(ticks) < 2:
                time.sleep(max(0.0, tick - time.time()))
                # a sample taken late (the host stalled the VM) holds no
                # whole batch: it is marked None
                ticks.append((tick, sample() if time.time() - tick < LATE_TICK_S else None))
                tick += self.trigger_s
        th.join()
        if errors:
            raise errors[0]
        return due, published, ticks

    def _wait_delivered(self, ctx: Context, n: int, timeout_s: float) -> bool:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.query.exception() is not None:
                raise RuntimeError(f"paced query failed: {self.query.exception()}")
            put = ctx.emulator.stats()["actions"].get("PutRecords", {}).get("records", 0)
            if put >= n:
                return True
            time.sleep(0.05)
        return False

    def setup(self, ctx: Context, res: Result) -> None:
        from pyspark.sql import functions as F

        from kinesis_adapter_spark.sources import aws
        from kinesis_adapter_spark.sources.scans import EVENTS_JSON_SCHEMA
        from kinesis_adapter_spark.streaming.kinesis_sink import KinesisForeachBatchSink

        for d in (self.watch, self.tmp):
            d.mkdir(parents=True, exist_ok=True)
        t = time.perf_counter()
        aws.create_stream(self.stream, shards=4)
        res.create_stream_s = time.perf_counter() - t
        sink = KinesisForeachBatchSink(
            stream=self.stream,
            endpoint=aws.endpoint_url(),
            aws_kw=aws.AWS_KW,
            ledger_dir=str(self.ckpt / "ledger"),
        )
        # the transform of QUERIES["stream_to_kinesis_e2e"]
        out = (
            ctx.spark.readStream.schema(EVENTS_JSON_SCHEMA).json(str(self.watch))
            .filter(F.col("event_type") != "error")
            .select("event_id", "event_type", "user_id",
                    (F.col("user_id") % 4).cast("string").alias("pk"))
        )
        self.query = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(self.ckpt))
            .trigger(processingTime=f"{self.trigger_s:g} seconds")
            .start()
        )
        first = sum(len(self.objects[i][1]) for i in range(self.first))
        start = time.time()
        for i in range(self.first):
            self._publish(i)
        if not self._wait_delivered(ctx, first, DELIVERY_TIMEOUT_S):
            raise TimeoutError("first-batch objects were not delivered")
        res.details["first_batch_s"] = time.time() - start

    def measure(self, ctx: Context, res: Result) -> None:
        from kinesis_adapter_spark.sources import aws
        from perfbench.emulator import stats_delta

        # Untimed warm-up, neither set-up nor measured. processingTime
        # triggers fire on multiples of the interval since the epoch;
        # starting the schedule at a fixed phase of that grid keeps the
        # trigger wait the same from run to run.
        with ctx.tracer.span("warm_up", ctx.phase_span, level="call"):
            warm_t0 = math.ceil(time.time() / self.trigger_s) * self.trigger_s + TICK_LEAD_S
            self._open_loop(range(self.first, self.first + self.warm), warm_t0)
        idx = range(self.first + self.warm, len(self.objects))
        before = ctx.emulator.stats()
        t0 = warm_t0 + self.warm / self.rate
        total = sum(len(o[1]) for o in self.objects)
        with ctx.tracer.span("open_loop", ctx.phase_span, level="call") as sid:
            due, published, ticks = self._open_loop(idx, t0, sample=ctx.cpu)
            delivered_all = self._wait_delivered(ctx, total, DELIVERY_TIMEOUT_S)
            end = time.time()
        self.query.stop()
        self.query.awaitTermination(60)
        res.windows.append((t0, end))
        merge_emulator(res.emulator, stats_delta(ctx.emulator.stats(), before))
        if not delivered_all:
            res.problems.append("not every record was delivered within the timeout")

        records = aws.read_all_records(self.stream)
        owner = {e: k for k, i in enumerate(idx) for e in self.objects[i][1]}
        untimed = [r for r in records if json.loads(r["Data"])["event_id"] not in owner]
        timed = [r for r in records if json.loads(r["Data"])["event_id"] in owner]
        check_delivery(res, untimed, {e: v for o in self.objects[: idx.start] for e, v in o[1].items()},
                       "first and warm-up objects")
        seen = check_delivery(res, timed, {e: v for i in idx for e, v in self.objects[i][1].items()},
                              "paced")
        last = [0.0] * self.count
        for eid, t in seen.items():
            last[owner[eid]] = max(last[owner[eid]], t)
        complete = [k for k in range(self.count) if all(e in seen for e in self.objects[idx[k]][1])]
        lat = [last[k] - due[k] for k in complete]
        res.ops = self.count
        ctx.tracer.spans[sid]["objects"] = self.count
        if lat and any(c0 and c1 for (_, c0), (_, c1) in zip(ticks, ticks[1:])):
            res.records = len(seen)
            # Each interval between two ticks holds one whole micro-batch of
            # the objects published over one trigger interval, and the idle
            # time until the next: the CPU price of keeping a paced stream
            # delivered. The mean over intervals without the highest and the
            # lowest is robust to the odd GC or JIT burst.
            per_batch = self.rate * self.trigger_s * gen.TRAFFIC[self.name]["events"].records
            loop_s = ctx.probe.loop_s(t0, end)
            intervals = [
                cpu_delta(c1, c0) for (_, c0), (_, c1) in zip(ticks, ticks[1:]) if c0 and c1
            ]
            per_tick = [norm_cpu_ms_per_record(c, loop_s, per_batch) for c in intervals]
            res.cpu_ms_per_record = {g: trimmed_mean([c[g] for c in per_tick]) for g in per_tick[0]}
            res.details["interval_cpu_s"] = intervals
            res.details["probe"] = ctx.probe.summary(t0, end)
            res.latencies = [p50(lat), p90(lat)]
            # the offered rate is fixed, so this is the schedule's rate unless
            # the pipeline falls behind
            res.records_per_s = len(seen) / (max(last) - t0)
            res.first_call_s = res.details["first_batch_s"] - res.latencies[0]
        # objects published but not yet delivered, sampled at each due time
        res.lag_objects_max = max(
            sum(1 for j in range(k + 1) if last[j] == 0.0 or last[j] > due[k])
            for k in range(self.count)
        )
        res.late_max_share = max(p - d for p, d in zip(published, due)) * self.rate
        res.details.update(objects=self.count, warm_objects=self.warm, rate_per_s=self.rate,
                           trigger_s=self.trigger_s, complete_objects=len(complete),
                           cpu_intervals=len(res.details.get("interval_cpu_s", ())),
                           late_ticks=sum(c is None for _, c in ticks))

    def cleanup(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
