"""Kinesis delivery: the reference adapter's sink stage (SURVEY.md §2.0,
§3.4) on Spark.

There is one delivery path, :func:`deliver`, used by the streaming
sink below and by the batch ``sink_kinesis`` query:

- the JVM builds each record: the non-key columns as one JSON object
  (null fields kept) and the key column cast to string as the
  partition key. Kinesis routes a key's hash to a shard, so ordering
  holds per key;
- each executor puts its own partition with ``kinesis_put.put_all``:
  at most 500 records and 5 MiB per request, a record over 1 MiB
  rejected before any put, and only failed (throttled) records resent
  with backoff.

Replay contract: ``KinesisForeachBatchSink`` records each delivered
batch_id in a ledger next to the checkpoint, so a whole batch replayed
after a restart is skipped. A batch that fails partway is not marked,
and its replay sends again every chunk that had already gone out:
delivery is at-least-once per chunk, so a consumer that needs
exactly-once dedups on a record field.
"""

from __future__ import annotations

import functools
import json
from pathlib import Path

from pyspark import cloudpickle
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kinesis_adapter_spark.staging import ephemeral_file
from kinesis_adapter_spark.streaming import kinesis_put

cloudpickle.register_pickle_by_value(kinesis_put)


def deliver(
    df: DataFrame, stream: str, endpoint: str, aws_kw: dict, pk_col: str = "pk"
) -> None:
    """Put every row of ``df`` to ``stream``: the columns other than
    ``pk_col`` as the JSON payload, ``pk_col`` as the partition key."""
    # executors only open the emulator's lock file; the driver removes it at exit
    ephemeral_file(kinesis_put.lock_path(stream))
    payload = F.to_json(
        F.struct(*[df[c] for c in df.columns if c != pk_col]),
        {"ignoreNullFields": "false"},
    )
    df.select(payload, df[pk_col].cast("string")).foreachPartition(
        functools.partial(
            kinesis_put.put_partition,
            stream=stream,
            endpoint=endpoint,
            aws_kw=aws_kw,
        )
    )


class KinesisForeachBatchSink:
    """Callable for ``writeStream.foreachBatch`` delivering to Kinesis."""

    def __init__(
        self,
        stream: str,
        endpoint: str,
        aws_kw: dict,
        ledger_dir: str,
        partition_key_col: str = "pk",
    ):
        self.stream = stream
        self.endpoint = endpoint
        self.aws_kw = dict(aws_kw)
        self.ledger = Path(ledger_dir)
        self.ledger.mkdir(parents=True, exist_ok=True)
        self.pk_col = partition_key_col

    def __call__(self, batch_df, batch_id: int) -> None:
        mark = self.ledger / f"batch-{batch_id}.done"
        if mark.exists():  # replayed batch after restart → skip (idempotent)
            return
        deliver(batch_df, self.stream, self.endpoint, self.aws_kw, self.pk_col)
        mark.write_text(json.dumps({"batch_id": batch_id}))
