#!/usr/bin/env python
"""Same-position fresh-process A/B lap for one registry query.

The box carries ±10-30% co-tenant noise, so the only readable protocol
(VERDICT r11 item 10) is: each measurement in its OWN process, the query
always in the SAME position (first after warmup), variants interleaved
A/B/A/B across processes by the calling shell.  This script is one lap:

    python scripts/ab_query.py q_kcore            # one fresh-process lap
    python scripts/ab_query.py q_kcore --laps 3   # 3 timed laps, one JVM

The variants under test are two checkouts of the repository: run this
script from each in turn.  Each lap is ``bench.noop_seconds`` at
$SPARK_GRAFT_SF_DIR (default sf0.1) after one warm-up at
$SPARK_GRAFT_WARM_DIR (default sf0.001), the same timer ``bench.py`` uses.
Prints one JSON line: {"query": ..., "laps": [s, ...], "min": s}.
"""

from __future__ import annotations

import json
import os
import sys
from functools import partial

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import noop_seconds  # noqa: E402
from java_etl_bi_generator_spark.queries import registry  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402


def main() -> int:
    name = sys.argv[1]
    laps = 1
    if "--laps" in sys.argv:
        laps = int(sys.argv[sys.argv.index("--laps") + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    spark = get_spark(app_name=f"ab:{name}")
    fn = registry()[name]
    # warm codegen/JIT at the tiny SF so laps measure steady-state plans
    noop_seconds(partial(fn, spark, warm_dir))
    times = [round(noop_seconds(partial(fn, spark, sf_dir)), 3) for _ in range(laps)]
    print(json.dumps({"query": name, "laps": times, "min": min(times)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
