#!/usr/bin/env python
"""Time ``star.build_dimension`` on both sides of ``DRIVER_DIM_LIMIT``:
the measurement the limit is set from.

Run::

    python scripts/dim_limit_probe.py [keys ...]   # default 1e4 1e5 3e5 1e6

For each key count K the source has 2K rows (every key twice; two string
key columns and a measure), cached.  One timed operation is what
``siga_pipeline`` does with a keyed dimension: build it, write it as the
reference CSV, and broadcast-join it into the fact, written to the
``noop`` sink.  The ``driver`` column numbers the keys on the driver (the
limit patched to K), the ``distributed`` column uses ``global_rank`` (the
limit patched to 0, so the bounded probe runs first and comes back over
the limit, as it does for a dimension above the limit).  Seconds,
min-of-2 after one warm-up; one markdown table row per key count, ready
for SCALING.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from java_etl_bi_generator_spark.operators import star  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402
from java_etl_bi_generator_spark.sources.csv_ref import (  # noqa: E402
    write_reference_csv,
)

KEYS = ["k1", "k2"]


def one_pass(src, out: str) -> float:
    t = time.perf_counter()
    dim = star.build_dimension(src, KEYS, "id")
    write_reference_csv(dim, out)
    fact = star.build_fact(src, [star.DimSpec(dim, KEYS, "id")], [F.col("v")])
    fact.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def main() -> None:
    volumes = [int(float(a)) for a in sys.argv[1:]] or [
        10_000, 100_000, 300_000, 1_000_000,
    ]
    spark = get_spark(app_name="dim_limit_probe")
    tmp = tempfile.mkdtemp(prefix="dim_limit_probe_")
    default_limit = star.DRIVER_DIM_LIMIT
    print("| keys | driver_s | distributed_s |")
    print("|---|---|---|")
    try:
        for n in volumes:
            src = spark.range(2 * n).select(
                F.format_string("uf-%03d", F.col("id") % 997).alias("k1"),
                F.format_string("municipio-%09d", F.col("id") % n).alias("k2"),
                F.col("id").alias("v"),
            ).cache()
            src.count()
            times = {}
            for side, limit in (("driver", n), ("distributed", 0)):
                star.DRIVER_DIM_LIMIT = limit
                out = os.path.join(tmp, side)
                one_pass(src, out)  # warm
                times[side] = min(one_pass(src, out) for _ in range(2))
            star.DRIVER_DIM_LIMIT = default_limit
            src.unpersist()
            print(f"| {n:,} | {times['driver']:.2f} | "
                  f"{times['distributed']:.2f} |", flush=True)
    finally:
        star.DRIVER_DIM_LIMIT = default_limit
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
