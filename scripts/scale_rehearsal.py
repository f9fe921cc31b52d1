"""One-off sf0.1 → sf1 (10×) scale rehearsal (VERDICT r11 next #6).

Builds nothing itself — expects the 10× tables at
`.scratch/sf1/*.parquet` (documents/lineitem/orders/events/embeddings
replicated 10× with shifted keys and per-copy text/vector
perturbation so dedup/ANN collision rates stay realistic; dims
copied). Runs the N heaviest registry entries once at each scale and
records wall-time plus the max per-stage shuffle write/read bytes
from the local Spark UI REST API — the empirical point behind
SCALE.md's 100×-posture arguments.

Usage:
  python scripts/scale_rehearsal.py --build   # materialize .scratch/sf1
  python scripts/scale_rehearsal.py [entry ...]
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

HEAVY = [
    "text_pdf_extract",
    "k2_turtle_sharded_roundtrip",
    "graph_pagerank",
    "dedup_minhash_lsh_ml",
    "k2_turtle_grouped_roundtrip",
    "graph_triangle_count",
    "pipeline_wet_derive",
    "pipeline_corpus_from_crawl",
    "text_mbox_extract",
]


def _ui(path: str):
    try:
        with urllib.request.urlopen(
            f"http://localhost:4040/api/v1/{path}", timeout=5
        ) as r:
            return json.load(r)
    except Exception:
        return None


def _max_shuffle_bytes(seen_stages: set[int]) -> tuple[int, int, set]:
    apps = _ui("applications")
    if not apps:
        return -1, -1, seen_stages
    app_id = apps[0]["id"]
    stages = _ui(f"applications/{app_id}/stages?status=complete") or []
    w = r = 0
    new_seen = set(seen_stages)
    for st in stages:
        sid = (st["stageId"], st["attemptId"])
        if sid in seen_stages:
            continue
        new_seen.add(sid)
        w = max(w, st.get("shuffleWriteBytes", 0))
        r = max(r, st.get("shuffleReadBytes", 0))
    return w, r, new_seen


def build_sf1() -> None:
    """Materialize the 10× set at .scratch/sf1 from sf0.1: big tables
    replicated 10× with shifted keys (order/lineitem keys shift
    together so joins stay consistent), per-copy text prefix and
    vector perturbation keep dedup/ANN collision rates realistic,
    dims copied verbatim."""
    import os

    import duckdb

    src = "/root/testdata/sf0.1"
    dst = "/root/repo/.scratch/sf1"
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    for t in ["customer", "part", "supplier", "nation", "region"]:
        con.execute(
            f"COPY (SELECT * FROM '{src}/{t}.parquet') "
            f"TO '{dst}/{t}.parquet' (FORMAT parquet)"
        )
    ks = "(SELECT unnest(generate_series(0,9)) AS k)"
    con.execute(f"""
        COPY (SELECT doc_id + k*5000 AS doc_id,
                     CASE WHEN k = 0 THEN text
                          ELSE 'c' || k || ' ' || text END AS text,
                     lang, source, n_chars
              FROM '{src}/documents.parquet', {ks})
        TO '{dst}/documents.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT l_orderkey + k*150000 AS l_orderkey,
                     * EXCLUDE (l_orderkey)
              FROM '{src}/lineitem.parquet', {ks})
        TO '{dst}/lineitem.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT o_orderkey + k*150000 AS o_orderkey,
                     * EXCLUDE (o_orderkey)
              FROM '{src}/orders.parquet', {ks})
        TO '{dst}/orders.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT event_id + k*100000 AS event_id,
                     user_id + k*100000 AS user_id,
                     * EXCLUDE (event_id, user_id)
              FROM '{src}/events.parquet', {ks})
        TO '{dst}/events.parquet' (FORMAT parquet)""")
    con.execute(f"""
        COPY (SELECT vec_id + k*2000 AS vec_id,
                     list_transform(embedding, x -> x + k * 0.0003)
                       AS embedding,
                     label
              FROM '{src}/embeddings.parquet', {ks})
        TO '{dst}/embeddings.parquet' (FORMAT parquet)""")
    print("built .scratch/sf1")


def main() -> None:
    if sys.argv[1:2] == ["--build"]:
        build_sf1()
        return

    import __spark_entry__ as E
    from razulibs_spark.session import get_spark

    names = sys.argv[1:] or HEAVY
    spark = get_spark("scale-rehearsal", cpus=32)
    qs = E.queries()
    results = {}
    seen: set = set()
    for sf_dir, label in (
        ("/root/testdata/sf0.1", "sf0.1"),
        ("/root/repo/.scratch/sf1", "sf1"),
    ):
        for name in names:
            fn = qs[name]
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            dt = time.time() - t0
            w, r, seen = _max_shuffle_bytes(seen)
            results.setdefault(name, {})[label] = {
                "sec": round(dt, 2),
                "rows": n,
                "max_stage_shuffle_write_bytes": w,
                "max_stage_shuffle_read_bytes": r,
            }
            print(
                f"{label:6} {name:34} {dt:7.2f}s rows={n:>9} "
                f"shW={w:>11} shR={r:>11}",
                flush=True,
            )
    print(json.dumps(results))


if __name__ == "__main__":
    main()
