"""Time single upserts into a synthetic BM25 postings index of a chosen
size, for batches of 10, 100 and 1,000 distinct tokens.

Usage::

    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_DRIVER_MEM=2g \\
        python scripts/upsert_scale.py [docs] [repo_dir]

The index holds ``docs`` documents of 10 postings each (default 100,000
documents, ~1M rows) in one field, over a 200,000-token vocabulary.
Each batch rewrites existing documents, so it drops their old postings
and inserts postings of fresh tokens; one untimed upsert warms the JVM,
then each batch size is timed twice. ``repo_dir`` (default: this
checkout) selects the ``aruna_spark`` package to time, so two checkouts
can be compared with one script. Prints one JSON line: init time, leaf
count, and the wall seconds of each timed upsert.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

PER, VOCAB = 10, 200_000


def main() -> None:
    docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    repo = sys.argv[2] if len(sys.argv) > 2 else str(
        Path(__file__).resolve().parent.parent
    )
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from aruna_spark.search.incremental import (
        init_postings_table,
        upsert_postings,
    )
    from aruna_spark.session import get_spark

    spark = get_spark("upsert-scale", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    doc = (F.col("id") / PER).cast("long")
    postings = spark.range(docs * PER).select(
        F.concat(F.lit("urn:d:"), doc).alias("subject"),
        F.lit("g").alias("graph_iri"),
        F.lit("name").alias("field"),
        F.concat(
            F.lit("t"), (doc * 37 + (F.col("id") % PER) * 20011) % VOCAB
        ).alias("token"),
        F.lit(1).cast("long").alias("tf"),
    )

    def batch(tokens: int, first_doc: int):
        """Rewrite of existing documents whose postings hold ``tokens``
        distinct new tokens."""
        rows = [
            (f"urn:d:{first_doc + d}", "g", "name", f"q{tokens}_{t}", 1)
            for d in range(max(1, tokens // PER) if tokens >= PER else 5)
            for t in ((d * PER + k) % tokens for k in range(min(PER, tokens)))
        ]
        subjects = sorted({r[0] for r in rows})
        return (
            spark.createDataFrame(
                rows,
                "subject string, graph_iri string, field string, "
                "token string, tf long",
            ),
            spark.createDataFrame([(s,) for s in subjects], "subject string"),
        )

    work = tempfile.mkdtemp(prefix="upsert-scale-")
    try:
        t0 = time.perf_counter()
        table = init_postings_table(
            spark, postings, os.path.join(work, "idx")
        )
        out = {
            "docs": docs,
            "init_s": round(time.perf_counter() - t0, 1),
            "leaves": len(table.files()),
        }
        upsert_postings(table, spark, *batch(10, docs - 10))  # warm-up
        first = 0
        for tokens in (10, 100, 1000):
            times = []
            for _ in range(2):
                new, changed = batch(tokens, first)
                first += max(5, tokens // PER)
                t0 = time.perf_counter()
                upsert_postings(table, spark, new, changed)
                times.append(round(time.perf_counter() - t0, 2))
            out[f"T{tokens}_s"] = times
        print(json.dumps(out), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
