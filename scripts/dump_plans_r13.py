"""Dump .explain('formatted') for the r13-targeted queries to
plans/r13/<name>_<suffix>.txt (judge-checkable plan evidence).
Usage: python scripts/dump_plans_r13.py <suffix> [name ...]
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from razulibs_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [
    "k2_ntriples_roundtrip",
    "k2_turtle_sharded_roundtrip",
    "k2_turtle_grouped_roundtrip",
    "k2_rdfxml_roundtrip",
    "k2_trig_roundtrip",
    "k2_trix_roundtrip",
    "k1_jsonld_roundtrip",
    "k2_turtle_foreign",
    "graph_pagerank",
    "graph_triangle_count",
    "graph_bfs_levels",
    "dedup_minhash_lsh_ml",
    "text_pptx_extract",
    "text_pptx_notes_extract",
    "text_mbox_extract",
    "pipeline_frontier_assembly",
    "multimodal_features",
    "events_rfm",
    "dedup_ngram_jaccard",
]


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    from razulibs_spark import queries as Q

    spark = get_spark("razulibs-plans")
    spark.sparkContext.setLogLevel("ERROR")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(here, "plans", "r13")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = Q.QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR: {type(exc).__name__}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"dumped {name}_{suffix}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
