"""Dump explain('formatted') for every registry query to plans/r12/.

Usage: python scripts/dump_plans_r12.py <suffix> [sf_dir]
  suffix: 'before' or 'after' — files land as plans/r12/<query>_<suffix>.txt

Plan-only (no execution): registry build() is lazy, so this is cheap and
safe to run alongside other work. Bench-local entries that need fitted
index state are dumped by scripts/dump_bench_plans_r12.py instead.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neighborly_spark.parity import REGISTRY  # noqa: E402
from neighborly_spark.session import get_spark  # noqa: E402


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


USAGE = "usage: python scripts/dump_plans_r12.py {before,after} [sf_dir]"


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in ("before", "after"):
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    suffix = sys.argv[1]
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r12"
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"plans_r12_{suffix}", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    for name, pq in REGISTRY.items():
        try:
            df = pq.build(spark, sf)
            text = formatted(df).strip()
        except Exception as e:  # keep going; a failed plan is itself signal
            text = f"PLAN FAILED: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text + "\n")
        print(name, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
