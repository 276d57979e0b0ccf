#!/usr/bin/env python
"""Run EVERY declared query against synthesized tables at a volume
multiple of the driver fixtures (default 10x sf0.1) — the whole-registry
robustness sweep: no oracle (the generators aren't the fixture data),
just "runs to completion, sane row count, no plan blow-up" per query,
with per-query wall time so outliers stand out.

Usage::

    python scripts/volume_sweep.py [factor] [q_name ...]   # default 10, all

Writes one line per query: OK/ERR, seconds, rows.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from java_etl_bi_generator_spark.queries import registry  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402
from synthetic_tables import write_sf01_multiple  # noqa: E402

# Output-grain floors at the default 10x factor (round-4 verdict task 8):
# time-grain analytics must produce a NON-TRIVIAL number of groups here,
# so their fixture-SF hash checks are proving math, not a 1-row echo.
# The synthetic events clock advances 1 s/row (1M rows ≈ 12 days), the
# synthetic star spans the TPC-H 1992-1998 order years; floors sit ~30%
# under the observed 10x counts (recorded in SCALING.md "Output-grain
# floors") so legitimate generator tweaks don't trip them but a grain
# collapse does.  Only enforced at factor >= 10.
ROW_FLOORS_10X = {
    "q_growth_accounting": 2,    # weekly new/retained/churned rows
    "q_retention_cohort": 8,     # (cohort week x age) grid — the 10x
                                 # synthetic span is ~12 days ≈ 2-3
                                 # weekly cohorts (12 rows measured; the
                                 # 5-week driver fixture gives 59)
    "q_seasonal_index": 10,      # order months represented
    "q_seasonal_profile": 100,   # (month x segment) grid
    "q_yoy_growth": 100,         # (month, year-over-year) rows
    "q_cohort_ltv": 1500,        # (cohort month x age) grid
    "q_sessionize": 50_000,      # sessions ~ event volume
    "q_window_tumbling": 1_000,  # tumbling buckets track the span
    # streaming family: round 5 fixed event_stream to handle directory
    # tables (the glob-on-parent trick silently emptied every streaming
    # query in this sweep); floors make that class of regression loud
    "q_stream_watermark": 1_000,
    "q_stream_session": 50_000,
    "q_stream_topk": 1_000,
    "q_stream_join": 5_000,
    "q_stream_dedup": 1_000,
    "q_stream_stateful": 500,
    "q_stream_merge": 500,
}


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = set(sys.argv[2:])
    unknown = only - set(registry())
    if unknown:  # a typo must not report a clean 0-query run
        sys.exit(f"unknown queries: {sorted(unknown)}")
    spark = get_spark(app_name="volume_sweep")
    tmp = tempfile.mkdtemp(prefix=f"volume_sweep_{factor}x_")
    write_sf01_multiple(spark, tmp, factor)
    print(f"generated all tables at {factor}x sf0.1 in {tmp}", flush=True)

    qs = registry()
    n_ok = n_err = 0
    slow: list[tuple[float, str]] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            n = fn(spark, tmp).count()
            dt = time.time() - t0
            floor = ROW_FLOORS_10X.get(name, 0) if factor >= 10 else 0
            if n < floor:
                n_err += 1
                print(
                    f"ERR  {name:36s} {dt:7.2f}s rows={n} "
                    f"BELOW GRAIN FLOOR {floor}",
                    flush=True,
                )
                continue
            n_ok += 1
            slow.append((dt, name))
            print(f"OK   {name:36s} {dt:7.2f}s rows={n}", flush=True)
        except Exception as e:
            n_err += 1
            print(
                f"ERR  {name:36s} {time.time()-t0:7.2f}s "
                f"{str(e).splitlines()[0][:120]}",
                flush=True,
            )
    print(f"\n{n_ok} ok, {n_err} err at {factor}x")
    print("slowest:", [(n, round(d, 1)) for d, n in sorted(slow)[-10:]])
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
