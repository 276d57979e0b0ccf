#!/usr/bin/env python
"""Per-introduction 10x volume gate (VERDICT r8 task 4) — the medoid
lesson institutionalized: every NEW query must show sub-quadratic wall
time growth across a volume decade BEFORE it lands, not at the
end-of-round sweep.  The round-8b sweep caught q_vector_medoid's
pair-frame form going quadratic (5k-vector cells -> 250M pairs,
>25 min); this gate makes that signature a per-query failure at
introduction time.

Usage::

    python scripts/volume_gate.py q_foo [q_bar ...] [--factor 10]
                                  [--ratio 30] [--floor 1.0]

Per query: times at 1x and factor-x synthesized volume (min-of-2 each,
``bench.noop_seconds``: the same noop-sink plan ``bench.py`` and
``ab_query.py`` time, every output column computed).  FAILS (exit 1) when

    t_factor > ratio * max(t_1x, floor)

With factor=10, linear queries land well under 10x2 overhead (sorts add
a log factor, the ~1 s scheduling floor absorbs tiny baselines), while
a quadratic query grows ~100x and trips the default ratio=30 cleanly —
the threshold is the documented "quadratic signature" boundary, not a
perf SLO.  The `floor` keeps sub-second baselines from tripping the
ratio on scheduling noise.

Round workflow (SCALING.md "Volume gate"): run this on every new
query's name in the same session that introduces it; the full-registry
`volume_sweep.py` remains the end-of-round backstop.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop_seconds  # noqa: E402
from java_etl_bi_generator_spark.queries import registry  # noqa: E402
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402
from synthetic_tables import write_sf01_multiple  # noqa: E402


def _generate(spark, factor: int) -> str:
    tmp = tempfile.mkdtemp(prefix=f"volume_gate_{factor}x_")
    write_sf01_multiple(spark, tmp, factor)
    return tmp


def main() -> None:
    args = [a for a in sys.argv[1:]]

    def opt(name: str, default: float) -> float:
        if name in args:
            i = args.index(name)
            v = float(args[i + 1])
            del args[i : i + 2]
            return v
        return default

    factor = int(opt("--factor", 10))
    ratio = opt("--ratio", 30.0)
    floor = opt("--floor", 1.0)
    names = args
    if not names:
        sys.exit("usage: volume_gate.py q_name [...] [--factor N] "
                 "[--ratio R] [--floor S]")
    qs = registry()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark(app_name="volume_gate")
    d1 = _generate(spark, 1)
    dF = _generate(spark, factor)
    print(f"generated 1x ({d1}) and {factor}x ({dF})", flush=True)

    failed = []
    try:
        for name in names:
            t1, tF = (
                min(noop_seconds(partial(qs[name], spark, d)) for _ in range(2))
                for d in (d1, dF)
            )
            limit = ratio * max(t1, floor)
            verdict = "OK  " if tF <= limit else "FAIL"
            if tF > limit:
                failed.append(name)
            print(
                f"{verdict} {name:36s} 1x={t1:7.2f}s {factor}x={tF:7.2f}s "
                f"growth={tF / max(t1, 1e-9):6.1f}x limit={limit:7.2f}s",
                flush=True,
            )
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(dF, ignore_errors=True)
    if failed:
        sys.exit(f"QUADRATIC SIGNATURE: {failed}")
    print(f"\nall {len(names)} queries pass the {factor}x gate")


if __name__ == "__main__":
    main()
