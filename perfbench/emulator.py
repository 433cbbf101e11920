"""Moto Kinesis emulator hosted in a child process, behind a counting
WSGI middleware.

The adapter's ``aws.ensure_moto_server`` reuses whatever already listens
on its port, so starting this server first keeps the emulator's CPU out
of the benchmark's driver process and lets every request be counted at
the HTTP boundary: calls, bytes, busy time and errors per action
(``X-Amz-Target``), records per shard, and, when asked, one span per
request.

Limits of the emulator that the numbers inherit:

- it never throttles: ``FailedRecordCount`` is always 0, so the sink's
  per-record retry path is never exercised;
- a put costs O(records already in the shard), because moto finds the
  next sequence number by listing the shard (``kinesis/models.py``,
  ``Shard.put_record``), and a GetRecords call scans the shard from the
  start;
- it enforces the 5 MiB-per-request and 1 MiB-per-record caps
  (``KinesisBackend.put_records``).

Run standalone: ``python3 perfbench/emulator.py --port 5123 [--spans]``.
The parent reads counters from ``GET /_perfbench/stats``.
"""

from __future__ import annotations

import argparse
import io
import json
import logging
import socket
import subprocess
import sys
import threading
import time
import urllib.request
from collections import Counter, defaultdict
from pathlib import Path

STATS_PATH = "/_perfbench/stats"
MAX_SPANS = 200_000


class _CountAfterResponse:
    """The response body, with the counting deferred to ``close()``, which
    the server calls once the response is sent: the client does not wait
    for the request and response to be parsed."""

    def __init__(self, out: bytes, count):
        self.out = out
        self.count = count

    def __iter__(self):
        return iter([self.out])

    def close(self):
        self.count()


class CountingMiddleware:
    """Counts every request the wrapped WSGI app serves, per action."""

    def __init__(self, app, keep_spans: bool):
        self.app = app
        self.keep_spans = keep_spans
        self.cond = threading.Condition()
        self.pending = 0  # requests served but not yet counted
        self.actions: dict[str, Counter] = defaultdict(Counter)
        self.shard_records: Counter = Counter()
        self.spans: list[list] = []

    def __call__(self, environ, start_response):
        if environ.get("PATH_INFO") == STATS_PATH:
            return self._serve_stats(start_response)
        target = environ.get("HTTP_X_AMZ_TARGET", "")
        action = target.rsplit(".", 1)[-1] if target else environ.get("REQUEST_METHOD", "?")
        length = int(environ.get("CONTENT_LENGTH") or 0)
        body = environ["wsgi.input"].read(length) if length else b""
        environ["wsgi.input"] = io.BytesIO(body)
        status: list[str] = []

        def recording_start_response(st, headers, exc_info=None):
            status.append(st)
            return start_response(st, headers, exc_info)

        with self.cond:
            self.pending += 1
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = b"".join(self.app(environ, recording_start_response))
        except BaseException:
            self._done()
            raise
        busy = time.perf_counter() - t0
        code = int(status[0].split()[0]) if status else 500
        return _CountAfterResponse(out, lambda: self._record(action, body, out, busy, code, start))

    def _done(self):
        with self.cond:
            self.pending -= 1
            self.cond.notify_all()

    def _record(self, action, body, out, busy, code, start):
        try:
            self._count(action, body, out, busy, code, start)
        finally:
            self._done()

    def _count(self, action, body, out, busy, code, start):
        records = data_bytes = rejected = 0
        shards: Counter = Counter()
        if action == "PutRecords" and code < 400:
            req = json.loads(body)
            resp = json.loads(out)
            records = len(req["Records"])
            # base64 length → decoded payload length, without decoding
            data_bytes = sum(
                len(r["Data"]) * 3 // 4 - r["Data"][-2:].count("=") for r in req["Records"]
            )
            rejected = int(resp.get("FailedRecordCount", 0))
            stream = req.get("StreamName", "")
            for r in resp["Records"]:
                if "ShardId" in r:
                    shards[f"{stream}/{r['ShardId']}"] += 1
        elif action == "GetRecords" and code < 400:
            records = len(json.loads(out).get("Records", []))
        with self.cond:
            c = self.actions[action]
            c["calls"] += 1
            c["req_bytes"] += len(body)
            c["resp_bytes"] += len(out)
            c["busy_us"] += int(busy * 1e6)
            c["errors"] += code >= 400
            c["records"] += records
            c["data_bytes"] += data_bytes
            c["rejected"] += rejected
            self.shard_records.update(shards)
            if self.keep_spans and len(self.spans) < MAX_SPANS:
                self.spans.append([action, start, start + busy, code, records])

    def _serve_stats(self, start_response):
        with self.cond:
            # every response the client has seen is counted
            self.cond.wait_for(lambda: self.pending == 0, timeout=30)
            doc = {
                "actions": {a: dict(c) for a, c in self.actions.items()},
                "shard_records": dict(self.shard_records),
                "spans": list(self.spans),
            }
        payload = json.dumps(doc).encode()
        start_response("200 OK", [("Content-Type", "application/json"),
                                  ("Content-Length", str(len(payload)))])
        return [payload]


def port_in_use(port: int) -> bool:
    with socket.socket() as s:
        return s.connect_ex(("127.0.0.1", port)) == 0


class Emulator:
    """Owns the emulator child process: start, read counters, stop."""

    def __init__(self, port: int, keep_spans: bool, log_path: Path):
        self.port = port
        self.keep_spans = keep_spans
        self.log_path = log_path
        self.proc: subprocess.Popen | None = None
        self._log = None

    def start(self, timeout_s: float = 60.0) -> None:
        if port_in_use(self.port):
            raise RuntimeError(
                f"port {self.port} is already bound; the benchmark must own the emulator"
            )
        cmd = [sys.executable, str(Path(__file__).resolve()), "--port", str(self.port)]
        if self.keep_spans:
            cmd.append("--spans")
        self._log = open(self.log_path, "wb")
        self.proc = subprocess.Popen(cmd, stdout=self._log, stderr=subprocess.STDOUT)
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"emulator exited early, see {self.log_path}")
            try:
                self.stats()
                return
            except OSError:
                time.sleep(0.05)
        raise TimeoutError("emulator did not become ready")

    @property
    def pid(self) -> int | None:
        return self.proc.pid if self.proc is not None else None

    def stats(self) -> dict:
        url = f"http://127.0.0.1:{self.port}{STATS_PATH}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())

    def stop(self) -> None:
        if self.proc is not None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
            self.proc = None
        if self._log is not None:
            self._log.close()
            self._log = None


def stats_delta(after: dict, before: dict) -> dict:
    """Counter difference between two ``stats()`` snapshots."""
    actions = {}
    for a, c in after["actions"].items():
        b = before["actions"].get(a, {})
        actions[a] = {k: v - b.get(k, 0) for k, v in c.items()}
    shards = {
        s: n - before["shard_records"].get(s, 0)
        for s, n in after["shard_records"].items()
        if n - before["shard_records"].get(s, 0)
    }
    spans = after["spans"][len(before["spans"]):]
    return {"actions": actions, "shard_records": shards, "spans": spans}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--spans", action="store_true", help="keep one span per request")
    args = ap.parse_args()

    from moto.moto_server.werkzeug_app import DomainDispatcherApplication, create_backend_app
    from werkzeug.serving import make_server

    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    app = CountingMiddleware(DomainDispatcherApplication(create_backend_app), args.spans)
    server = make_server("127.0.0.1", args.port, app, threaded=True)
    server.serve_forever()


if __name__ == "__main__":
    main()
