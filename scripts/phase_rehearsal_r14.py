"""VERDICT r13 next #9: per-PHASE sf0.1 vs sf1 (10×) rehearsal rows
for the two worst remaining scale ratios — k2_turtle_sharded (7.7×)
and k2_turtle_grouped (6.7×) — separating the fixture-WRITE term (the
single-file dump / grouped sink under test) from the READ/parse term
so the next cliff-hunt has clean per-phase ratios.

Phases mirror the queries exactly (same caps, same forced splits):
  sharded:  W = O2 triples → grouped blocks + multi-line axis →
                repartition(1) single-file text write
            R = read_turtle_sharded(8 splits) → compact → noop
  grouped:  W = write_turtle_grouped(expand(O2+hub), caps 100/4)
            R = read_turtle_full(part-*) → compact → noop

Usage: python scripts/phase_rehearsal_r14.py [sf0.1|sf1 ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from razulibs_spark.session import get_spark  # noqa: E402

SCALES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/root/repo/.scratch/sf1",
}


def main() -> None:
    import razulibs_spark.queries as Q
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.sources.turtle_full import (
        TURTLE_FULL_HEADER,
        grouped_turtle_blocks,
        read_turtle_full,
        read_turtle_sharded,
        write_turtle_grouped,
    )
    from razulibs_spark.tables import load

    spark = get_spark("r14-phase-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    def t(tag: str, fn) -> float:
        spark.sparkContext.setJobDescription(tag)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        print(f"{dt:9.3f}  {tag}", flush=True)
        return dt

    for label in sys.argv[1:] or list(SCALES):
        sf_dir = SCALES[label]

        # --- sharded: single-file dump write vs distributed read ---
        blocks = grouped_turtle_blocks(
            expand_triples(Q._o2_triples_full(spark, sf_dir)),
            obj_cap=64, pred_cap=3,
        )
        value = F.concat(
            F.col("sj"), F.lit(" "), F.col("po"), F.lit(" .")
        ).alias("value")
        header = spark.range(1).select(
            F.lit(TURTLE_FULL_HEADER.rstrip("\n")).alias("value")
        )
        ml = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 13 == 4)
            .select(
                F.concat(
                    F.lit("ldto:mld"), F.col("doc_id"),
                    F.lit(' ldto:note """ml '), F.col("doc_id"),
                    F.lit("\nmid . line\ntail\"\"\""),
                    F.lit(" . # trailing note for "),
                    F.col("doc_id"), F.lit("."),
                ).alias("value")
            )
        )
        path = f"/root/repo/.scratch/phase_sharded_{label}"
        t(
            f"{label} sharded WRITE (single-file dump fixture)",
            lambda: header.unionAll(blocks.select(value)).unionAll(ml)
            .repartition(1).write.mode("overwrite").text(path),
        )
        t(
            f"{label} sharded READ (2-pass scan + parse + compact)",
            lambda: compact_triples(
                read_turtle_sharded(spark, path, min_partitions=8)
            ).select("s", "p", "o")
            .write.format("noop").mode("overwrite").save(),
        )
        spark.catalog.clearCache()

        # --- grouped: predicate-list sink vs full-grammar read ---
        hub = load(spark, sf_dir, "customer").select(
            F.lit("ldto:hub0").alias("s"),
            F.lit("schema:member").alias("p"),
            F.concat(
                F.lit("ldto:cust"), F.col("c_custkey").cast("string")
            ).alias("o"),
            F.lit("uri").alias("o_type"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
        )
        triples = Q._o2_triples_full(spark, sf_dir).unionByName(hub)
        gpath = f"/root/repo/.scratch/phase_grouped_{label}"
        t(
            f"{label} grouped WRITE (predicate-list sink)",
            lambda: write_turtle_grouped(
                expand_triples(triples), gpath, obj_cap=100, pred_cap=4
            ),
        )
        t(
            f"{label} grouped READ (full parser + compact)",
            lambda: compact_triples(
                read_turtle_full(spark, gpath, glob="part-*")
            ).select("s", "p", "o")
            .write.format("noop").mode("overwrite").save(),
        )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
