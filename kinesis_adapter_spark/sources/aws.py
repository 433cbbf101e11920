"""Local AWS emulation plumbing (moto server) for S3/Kinesis paths.

The reference is an S3→Kinesis adapter; this environment has no
network and no hadoop-aws/kinesis JVM connectors (SURVEY.md §0.3), so
AWS APIs are served by a moto ThreadedMotoServer on 127.0.0.1 and all
clients talk to it via ``endpoint_url``.

Why a *server* and not ``mock_aws()``: Spark's Python workers are
separate processes — an in-process mock patches only the driver. An
HTTP endpoint works from every worker, which keeps the production
shape (each partition writes its own batches) testable locally. In
production the same code runs with the endpoint_url removed.
"""

from __future__ import annotations

import atexit
import socket
import time

import boto3

_PORT = 5123
_server = None

AWS_KW = dict(
    region_name="us-east-1",
    aws_access_key_id="testing",
    aws_secret_access_key="testing",
)


def endpoint_url() -> str:
    return f"http://127.0.0.1:{_PORT}"


def ensure_moto_server() -> str:
    """Start the singleton moto server if not already running."""
    global _server
    if _server is None:
        # Another process (e.g. previous pytest worker) may own the port.
        with socket.socket() as s:
            if s.connect_ex(("127.0.0.1", _PORT)) == 0:
                return endpoint_url()
        import logging

        from moto.server import ThreadedMotoServer

        logging.getLogger("werkzeug").setLevel(logging.ERROR)  # silence request spam
        server = ThreadedMotoServer(ip_address="127.0.0.1", port=_PORT, verbose=False)
        try:
            server.start()
        except OSError:
            # Check-then-start race (ADVICE r01): another process bound
            # the port between our probe and start(). Re-probe and use
            # the winner's instance.
            for _ in range(50):
                with socket.socket() as s:
                    if s.connect_ex(("127.0.0.1", _PORT)) == 0:
                        return endpoint_url()
                time.sleep(0.1)
            raise
        _server = server
        atexit.register(_server.stop)
        time.sleep(0.2)
    return endpoint_url()


def client(service: str):
    ensure_moto_server()
    return boto3.client(service, endpoint_url=endpoint_url(), **AWS_KW)


def create_stream(name: str, shards: int = 4):
    """Idempotently create a Kinesis stream and wait until ACTIVE."""
    kin = client("kinesis")
    try:
        kin.create_stream(StreamName=name, ShardCount=shards)
    except kin.exceptions.ResourceInUseException:
        pass  # stream already exists — idempotent create, fall through to wait
    for _ in range(50):
        desc = kin.describe_stream_summary(StreamName=name)
        if desc["StreamDescriptionSummary"]["StreamStatus"] == "ACTIVE":
            break
        time.sleep(0.1)
    return kin


def read_all_records(stream: str) -> list[dict]:
    """Drain every shard of a stream (TRIM_HORIZON → empty)."""
    kin = client("kinesis")
    out: list[dict] = []
    desc = kin.describe_stream(StreamName=stream)
    for shard in desc["StreamDescription"]["Shards"]:
        it = kin.get_shard_iterator(
            StreamName=stream,
            ShardId=shard["ShardId"],
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        empties = 0
        while it:
            resp = kin.get_records(ShardIterator=it, Limit=10000)
            out.extend(resp["Records"])
            if resp["Records"]:
                empties = 0
            else:
                # An empty page does NOT mean end-of-shard: Kinesis can
                # return no records with a valid NextShardIterator while
                # data remains further along. Only stop once the iterator
                # is caught up (MillisBehindLatest == 0) or after several
                # consecutive empty pages (bounded, for emulators that
                # omit the field).
                if resp.get("MillisBehindLatest", 0) == 0:
                    break
                empties += 1
                if empties >= 5:
                    break
            it = resp.get("NextShardIterator")
    return out
