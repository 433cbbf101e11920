"""Optimization profiler: targeted timing + plan dumps.

Usage:
    python tools/profile_keys.py KEY [KEY...] [--runs N] [--plan TAG SUFFIX]
    python tools/profile_keys.py KEY --sf SF_DIR ...

Times each registry key exactly the way bench.py does (one warm-up
then median of N timed ``collect()`` runs on the bench session confs)
so A/B numbers are directly comparable to BENCH_*.json entries.
``--plan TAG SUFFIX`` additionally writes ``plans/TAG/<key>_SUFFIX.txt``
with the ``explain('formatted')`` output (the before/after evidence).
"""

from __future__ import annotations

import argparse
import io
import statistics
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from kinesis_adapter_spark.plans.registry import QUERIES, load_all_modules  # noqa: E402
from kinesis_adapter_spark.session import build_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--plan", nargs=2, metavar=("TAG", "SUFFIX"),
        help="dump plans/TAG/<key>_SUFFIX.txt",
    )
    args = ap.parse_args()

    spark = build_spark(app_name="kas-profile", shuffle_partitions=8)
    load_all_modules()

    for key in args.keys:
        fn = QUERIES[key]
        spark.sparkContext.setJobDescription(f"profile:{key}")
        t0 = time.perf_counter()
        fn(spark, args.sf).collect()  # warm-up (staging, code paths)
        warm = time.perf_counter() - t0
        samples = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            fn(spark, args.sf).collect()
            samples.append(time.perf_counter() - t0)
        med = statistics.median(samples)
        print(
            f"{key}: median {med:.4f}s  (warm-up {warm:.4f}s, "
            f"runs {[round(s, 4) for s in samples]})",
            flush=True,
        )
        if args.plan:
            tag, suffix = args.plan
            plan_dir = ROOT / "plans" / tag
            plan_dir.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                fn(spark, args.sf).explain("formatted")
            (plan_dir / f"{key}_{suffix}.txt").write_text(buf.getvalue())
            print(f"  plan -> plans/{tag}/{key}_{suffix}.txt", flush=True)
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
