"""Seeded input generators for the Kinesis workloads.

Events take the column layout, physical types and value domains of the
adapter's ``events`` fixture (FIXTURES.md): ``ts`` as ``timestamp[us]``,
``user_id`` uniform over 0..149, ``event_type`` uniform over the five
types of which ``error`` is one, and ``props`` a one-key JSON object
``{"k": n}``. The program therefore reads the generated data through the
same code paths as its own fixtures. The same seed always gives
byte-identical tables and objects.

``TRAFFIC`` records, per workload, the value of each traffic dimension
and why it was chosen.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "purchase", "signup", "view")  # plus "error"
DAY_US = 86_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


@dataclass(frozen=True)
class EventTraffic:
    """Traffic dimensions of a generated event stream."""

    records: int  # non-error records per stream (backlog) or per object (paced)
    error_share: float = 0.2  # the fixture's: one of its five event types
    users: int = 150  # the fixture's user_id domain, 0..149, drawn uniformly


FIXTURE_DOMAINS = (
    "user_id uniform over 0..149, event_type uniform over five types (so 20% "
    "errors, dropped by the transform) and props '{\"k\": n}', all as in the "
    "events fixture (FIXTURES.md); the error count is exact, so the delivered "
    "count is fixed per seed"
)

TRAFFIC = {
    "kinesis_backlog": {
        "events": EventTraffic(records=6_300),
        "objects": 42,
        "objects_per_trigger": 6,
        "why": {
            "records": "6300 records into one fresh 4-shard stream per call: the sink is "
            "about 80% of each micro-batch, and a call takes 5-7 s on 4 cores, so a "
            "20 s run holds 3-4 calls to take a median over",
            "objects": "42 day-objects paced by maxFilesPerTrigger=6 give 7 micro-batches "
            "of 900 records: the per-batch floor is present but small next to the sink",
            "payload": "the Kinesis payload is the pipeline's 3-column projection "
            "(about 60 bytes), far under moto's 1 MiB-per-record and 5 MiB-per-request "
            "caps, so count-only chunking stays valid",
            "domains": FIXTURE_DOMAINS,
            "shards": "the transform's partition key is user_id % 4, and all four values "
            "hash into the same shard of a 4-shard stream, so shard load is fully skewed "
            "(aws.shard_skew = 4) whatever the user distribution",
        },
    },
    "kinesis_paced": {
        "events": EventTraffic(records=12),
        "objects_per_s": 10.0,
        "trigger_s": 2.0,
        "why": {
            "records": "12 delivered records per object: many tiny batches, so the "
            "per-micro-batch driver floor dominates and the put path does little",
            "rate": "10 objects/s (120 records/s) is about 10% of the backlog capacity "
            "measured on 4 cores, so the backlog does not grow; a 20 s run has 200 "
            "objects, 20 of them beyond p90",
            "objects_per_trigger": "a fixed 2 s processingTime trigger takes the 20 "
            "objects that arrived since the last one; a batch takes 0.5-1 s, so even "
            "on a slow host batches do not merge and each costs the same",
            "payload": "same projection as the backlog workload",
            "domains": FIXTURE_DOMAINS,
        },
    },
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(ord(c) * 131**i for i, c in enumerate(stream)) % 2**32])


def _event_columns(rng, n: int, t: EventTraffic, first_id: int, t0_us: int, span_us: int):
    n_err = round(n * t.error_share / (1 - t.error_share))
    total = n + n_err
    types = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), total)]
    types[rng.choice(total, size=n_err, replace=False)] = "error"
    # whole days get equal shares of the events, so every day-object holds
    # the same number of records whatever the seed
    days = max(1, span_us // DAY_US)
    day = np.arange(total) * days // total
    ts = np.sort(t0_us + day * DAY_US + rng.integers(0, min(span_us, DAY_US), total))
    return {
        "event_id": np.arange(first_id, first_id + total, dtype=np.int64),
        "ts_us": ts,
        "user_id": rng.integers(0, t.users, total, dtype=np.int64),
        "event_type": types,
        "value": np.round(rng.uniform(0.01, 490.02, total), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, total)],
    }


def _events_table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(cols["event_id"], pa.int64()),
            "ts": pa.array(cols["ts_us"], pa.timestamp("us")),
            "user_id": pa.array(cols["user_id"], pa.int64()),
            "event_type": pa.array(cols["event_type"], pa.string()),
            "value": pa.array(cols["value"], pa.float64()),
            "props": pa.array(cols["props"], pa.string()),
        }
    )


def backlog_events(seed: int, out_dir: Path) -> Path:
    """``events.parquet`` for the backlog workload: the configured number of
    non-error events spread over one UTC day per object, which the pipeline
    stages as one NDJSON object per day."""
    cfg = TRAFFIC["kinesis_backlog"]
    t = cfg["events"]
    span_us = cfg["objects"] * DAY_US
    cols = _event_columns(_rng(seed, "backlog"), t.records, t, 0, EPOCH_2024_US, span_us)
    out_dir.mkdir(parents=True, exist_ok=True)
    pq.write_table(_events_table(cols), out_dir / "events.parquet")
    return out_dir


def expected_payloads(events_parquet: Path) -> dict[int, tuple[str, int]]:
    """event_id → (event_type, user_id) of every event the transform keeps."""
    t = pq.read_table(events_parquet, columns=["event_id", "event_type", "user_id"]).to_pydict()
    return {
        i: (e, u)
        for i, e, u in zip(t["event_id"], t["event_type"], t["user_id"])
        if e != "error"
    }


def paced_objects(seed: int, count: int) -> list[tuple[str, dict[int, tuple[str, int]]]]:
    """``count`` NDJSON objects in the adapter's event-object layout, each
    with the configured number of non-error records plus its share of error
    records, and the payloads the transform keeps from each."""
    t = TRAFFIC["kinesis_paced"]["events"]
    rng = _rng(seed, "paced")
    out = []
    next_id = 0
    for i in range(count):
        c = _event_columns(rng, t.records, t, next_id, EPOCH_2024_US + i * 1_000_000, 1_000_000)
        next_id += len(c["event_id"])
        lines, keep = [], {}
        for eid, ts, uid, et, val, props in zip(
            c["event_id"], c["ts_us"], c["user_id"], c["event_type"], c["value"], c["props"]
        ):
            ts_iso = np.datetime64(int(ts), "us").astype(str)
            lines.append(
                json.dumps(
                    {
                        "event_id": int(eid),
                        "ts_iso": ts_iso,
                        "ts_ns": int(ts) * 1000,
                        "user_id": int(uid),
                        "event_type": str(et),
                        "value": float(val),
                        "props": props,
                    }
                )
            )
            if et != "error":
                keep[int(eid)] = (str(et), int(uid))
        out.append(("\n".join(lines) + "\n", keep))
    return out
