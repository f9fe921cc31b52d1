"""r13 optimization profiling harness: phase-level timings for the
hot queries with the noop sink (guide §1.4), labeled jobs (§1.5).
Usage: python scripts/profile_r13.py <target> [runs]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from razulibs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, runs=2):
    best = float("inf")
    for _ in range(runs):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f"{best:8.3f}  {name}", flush=True)
    spark.sparkContext.setJobDescription(None)
    return best


def profile_turtle(spark, runs):
    from razulibs_spark.operators.rdf import expand_triples
    from razulibs_spark.queries import _o2_triples_full

    o2 = lambda: _o2_triples_full(spark, SF_DIR)
    timed(spark, "o2_triples_full(noop)", lambda: noop(o2()), runs)
    timed(spark, "expand(noop)", lambda: noop(expand_triples(o2())), runs)


def profile_pagerank(spark, runs):
    from razulibs_spark.operators import graph
    from razulibs_spark.queries import T

    ev = T(spark, SF_DIR, "events").withColumn(
        "item", F.get_json_object(F.col("props"), "$.k")
    )
    timed(
        spark, "transition_edges(noop)",
        lambda: noop(graph.transition_edges(ev, "item")), runs,
    )

    def full():
        edges = graph.transition_edges(ev, "item").persist()
        try:
            noop(graph.pagerank(edges, damping=0.85, iters=10))
        finally:
            edges.unpersist()

    timed(spark, "pagerank10(noop)", full, runs)

    def iters2():
        edges = graph.transition_edges(ev, "item").persist()
        try:
            noop(graph.pagerank(edges, damping=0.85, iters=2))
        finally:
            edges.unpersist()

    timed(spark, "pagerank2(noop)", iters2, runs)


def profile_sharded(spark, runs):
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.queries import _o2_triples_full
    from razulibs_spark.sources.turtle_full import (
        TURTLE_FULL_HEADER,
        grouped_turtle_blocks,
        read_turtle_sharded,
    )

    path = "/root/repo/.scratch/prof_turtle_sharded"
    blocks = lambda: grouped_turtle_blocks(
        expand_triples(_o2_triples_full(spark, SF_DIR)),
        obj_cap=64, pred_cap=3,
    )
    timed(spark, "grouped_blocks(noop)", lambda: noop(blocks()), runs)

    def write():
        value = F.concat(
            F.col("sj"), F.lit(" "), F.col("po"), F.lit(" .")
        ).alias("value")
        header = spark.range(1).select(
            F.lit(TURTLE_FULL_HEADER.rstrip("\n")).alias("value")
        )
        header.unionAll(
            blocks().repartition(1).select(value)
        ).coalesce(1).write.mode("overwrite").text(path)

    timed(spark, "write single file", write, runs)
    timed(
        spark, "read_turtle_sharded(noop)",
        lambda: noop(read_turtle_sharded(spark, path, min_partitions=8)),
        runs,
    )
    timed(
        spark, "sharded+compact(noop)",
        lambda: noop(
            compact_triples(read_turtle_sharded(spark, path, min_partitions=8))
        ),
        runs,
    )


def profile_grouped(spark, runs):
    from razulibs_spark.operators.rdf import compact_triples, expand_triples
    from razulibs_spark.queries import _o2_triples_full
    from razulibs_spark.sources.turtle_full import (
        grouped_turtle_blocks,
        read_turtle_full,
        write_turtle_grouped,
    )
    from razulibs_spark.queries import T

    hub = T(spark, SF_DIR, "customer").select(
        F.lit("ldto:hub0").alias("s"),
        F.lit("schema:member").alias("p"),
        F.concat(F.lit("ldto:cust"), F.col("c_custkey").cast("string"))
        .alias("o"),
        F.lit("uri").alias("o_type"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
    )
    triples = lambda: expand_triples(
        _o2_triples_full(spark, SF_DIR).unionByName(hub)
    )
    path = "/root/repo/.scratch/prof_turtle_grouped"
    timed(
        spark, "grouped_blocks caps(noop)",
        lambda: noop(grouped_turtle_blocks(triples(), 100, 4)), runs,
    )
    timed(
        spark, "write_turtle_grouped",
        lambda: write_turtle_grouped(triples(), path, obj_cap=100, pred_cap=4),
        runs,
    )
    timed(
        spark, "read_turtle_full(noop)",
        lambda: noop(read_turtle_full(spark, path, glob="part-*")), runs,
    )
    timed(
        spark, "full read+compact(noop)",
        lambda: noop(
            compact_triples(read_turtle_full(spark, path, glob="part-*"))
        ),
        runs,
    )


PROFILES = {
    "turtle": profile_turtle,
    "pagerank": profile_pagerank,
    "sharded": profile_sharded,
    "grouped": profile_grouped,
}


def main():
    target = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    spark = get_spark("razulibs-profile")
    spark.sparkContext.setLogLevel("ERROR")
    PROFILES[target](spark, runs)
    spark.stop()


if __name__ == "__main__":
    main()
