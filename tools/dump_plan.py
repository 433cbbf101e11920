"""Dump plans/<TAG>/<key>_<SUFFIX>.txt evidence files.

Usage: python tools/dump_plan.py TAG SUFFIX KEY [KEY ...]
Builds each declared frame at sf0.1 (plan_audit session config) and
writes its ``explain('formatted')`` output to plans/TAG/<key>_SUFFIX.txt.

Special keys:
- ``lsh_pair_agg``: the SHIPPED dedup_lsh_tuning aggregation path —
  `_lsh_tuning_pair_agg` over the staged capped-shingle artifact read,
  exactly what the key collects from (a dump of the declared key shows
  the unpinned default path).
- graph_pagerank / graph_label_propagation additionally honor
  ``KAS_ITER_PLAN_DUMP``: building the declared frame with that env
  var set makes `_materialize_iterative` dump the PRE-materialization
  loop plan (the staged-result read the key returns hides it).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.1"


def main() -> None:
    tag, suffix, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules
    from kinesis_adapter_spark.session import build_spark

    spark = build_spark(app_name="kas-dump-plan", shuffle_partitions=8)
    load_all_modules()
    plan_dir = ROOT / "plans" / tag
    plan_dir.mkdir(parents=True, exist_ok=True)
    os.environ["KAS_ITER_PLAN_DUMP"] = str(plan_dir)
    for key in keys:
        if key == "lsh_pair_agg":
            from kinesis_adapter_spark.operators.llmops import (
                _lsh_tuning_pair_agg,
                capped_shingle_table,
            )

            sh = spark.read.parquet(capped_shingle_table(spark, SF))
            df = _lsh_tuning_pair_agg(spark, SF, shingles=sh)
        else:
            df = QUERIES[key](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        dest = plan_dir / f"{key}_{suffix}.txt"
        dest.write_text(buf.getvalue())
        print(f"wrote {dest}", flush=True)


if __name__ == "__main__":
    main()
