#!/usr/bin/env python
"""Scale probe for the substring-dedup family: synthesize documents at
1x/10x/100x the sf0.1 grain (5k docs) with the Python Data Source
generator and time duplicated_passages -> cut_passages end-to-end (noop
sink — full plan execution, no driver materialization).

Run::

    python scripts/passage_probe.py [factors ...]   # default 1 10 100

Prints one row per volume (min-of-2, seconds), ready for SCALING.md.
The plan's only corpus-wide shuffles are the window-text Exchange
(duplicate test) and the doc_id Exchange (island merge + span join), so
wall time should track token volume ~linearly.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import noop_seconds  # noqa: E402
from java_etl_bi_generator_spark.operators.dedup import (  # noqa: E402
    cut_passages,
    duplicated_passages,
)
from java_etl_bi_generator_spark.session import get_spark  # noqa: E402
from synthetic_tables import write_table  # noqa: E402

BASE_DOCS = 5_000  # sf0.1 grain


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    spark = get_spark(app_name="passage_probe")
    print("| docs | spans (rows) | detect+cut sec | hashed-key sec |")
    print("|---|---|---|---|")
    for f in factors:
        tmp = tempfile.mkdtemp(prefix=f"passage_probe_{f}x_")
        try:
            docs = spark.read.parquet(
                write_table(spark, tmp, "documents", BASE_DOCS * f)
            )

            def build(hashed: bool):
                spans = duplicated_passages(
                    docs, "text", "doc_id", k=8, hash_shuffle_key=hashed
                )
                return cut_passages(docs, spans, "text", "doc_id").select(
                    "doc_id", "n_tokens_after", F.md5("clean_text")
                )

            best = {
                hashed: min(noop_seconds(partial(build, hashed)) for _ in range(2))
                for hashed in (False, True)
            }
            n_spans = duplicated_passages(docs, "text", "doc_id", k=8).count()
            print(
                f"| {BASE_DOCS * f} | {n_spans} | {best[False]:.2f} "
                f"| {best[True]:.2f} |",
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
