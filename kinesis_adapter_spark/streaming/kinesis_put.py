"""Executor side of Kinesis delivery: the one PutRecords loop.

Spark ships :func:`put_partition` to its Python workers by value
(``kinesis_sink`` registers this module with cloudpickle), because the
workers cannot import ``kinesis_adapter_spark``. So this module imports
the standard library and boto3 only.
"""

from __future__ import annotations

import contextlib
import fcntl
import re
import time

import boto3

# Kinesis PutRecords limits. Both byte caps count Data plus PartitionKey.
MAX_RECORDS_PER_PUT = 500
MAX_BYTES_PER_PUT = 5 * 1024 * 1024
MAX_BYTES_PER_RECORD = 1024 * 1024
MAX_RETRIES = 5
BACKOFF_S = 0.05


def lock_path(stream: str) -> str:
    """The put-lock file of ``stream`` on the local emulator."""
    return f"/tmp/kas_moto_put.{re.sub(r'[^A-Za-z0-9_.-]', '_', stream)}.lock"


@contextlib.contextmanager
def _put_lock(endpoint: str | None, stream: str):
    """Serialize puts to one stream of the LOCAL emulator: moto's
    in-memory Kinesis drops records under concurrent puts (measured:
    7998/8000 with 8 writer threads). flock reaches across the Python
    workers of a local session; real Kinesis is concurrent-safe and
    runs unlocked, and unrelated streams never contend."""
    if not (endpoint and "127.0.0.1" in endpoint):
        yield
        return
    with open(lock_path(stream), "w") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def put_all(kin, stream: str, records: list[dict]) -> int:
    """PutRecords ``records`` to ``stream`` in order; return the count.

    Requests hold at most 500 records and 5 MiB. A call can succeed
    while single records fail (throttling): only those are resent, with
    exponential backoff, and RuntimeError is raised once a chunk still
    fails after MAX_RETRIES retries. Chunks sent before that stay
    delivered. A record over 1 MiB raises ValueError before any put."""
    sizes = [len(r["Data"]) + len(r["PartitionKey"].encode()) for r in records]
    for i, size in enumerate(sizes):
        if size > MAX_BYTES_PER_RECORD:
            raise ValueError(
                f"Kinesis record {i} is {size} bytes, over the "
                f"{MAX_BYTES_PER_RECORD}-byte record cap"
            )
    endpoint = getattr(getattr(kin, "meta", None), "endpoint_url", None)
    delivered = 0
    start = 0
    while start < len(records):
        end, chunk_bytes = start, 0
        while (
            end < len(records)
            and end - start < MAX_RECORDS_PER_PUT
            and chunk_bytes + sizes[end] <= MAX_BYTES_PER_PUT
        ):
            chunk_bytes += sizes[end]
            end += 1
        chunk = records[start:end]
        start = end
        attempt = 0
        while chunk:
            with _put_lock(endpoint, stream):
                resp = kin.put_records(StreamName=stream, Records=chunk)
            if not resp.get("FailedRecordCount"):
                delivered += len(chunk)
                break
            retry = [rec for rec, st in zip(chunk, resp["Records"]) if "ErrorCode" in st]
            delivered += len(chunk) - len(retry)
            chunk = retry
            attempt += 1
            if attempt > MAX_RETRIES:
                raise RuntimeError(
                    f"{len(chunk)} Kinesis records failed after {MAX_RETRIES} retries"
                )
            time.sleep(BACKOFF_S * (2**attempt))
    return delivered


def put_partition(rows, stream: str, endpoint: str | None, aws_kw: dict) -> None:
    """``foreachPartition`` body: rows are (JSON payload, partition key)."""
    kin = boto3.client("kinesis", endpoint_url=endpoint, **aws_kw)
    put_all(
        kin, stream, [{"Data": data.encode(), "PartitionKey": pk} for data, pk in rows]
    )
