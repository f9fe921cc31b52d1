"""The workloads: one user job per op, each followed by its own
verification.

Every op calls only public functions of ``razulibs_spark`` and goes
through a tracer (``trace.NullTracer`` for the timed run,
``trace.Tracer`` for the traced run), which times each call as a span
of the named layer. The verifiers are plain Python over files on disk
and collected rows, so they share no code with the program they check.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os
import shutil

from perfbench import gen

BUCKET = "depot"
MIN_QUALITY = 0.5
JACCARD = 0.8


def md5_file(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


def walk_files(root: str) -> dict[str, str]:
    """Relative path -> absolute path of every regular file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            full = os.path.join(dirpath, f)
            out[os.path.relpath(full, root)] = full
    return out


def stored_objects(bucket: str) -> dict[str, str]:
    """Key -> file of every object in a LocalFSClient bucket, leaving out
    the ``<key>.meta.json`` sidecars holding each upload's ExtraArgs
    (which stay behind when their object is deleted)."""
    head = b'{"ContentType":'

    def sidecar(path: str) -> bool:
        with open(path, "rb") as fh:
            return fh.read(len(head)) == head

    return {k: p for k, p in walk_files(bucket).items()
            if not (k.endswith(".meta.json") and sidecar(p))}


def bytes_written_since(roots: list[str], start_ns: int) -> int:
    """Bytes of the files under ``roots`` modified at or after start_ns
    (less 50 ms for the coarse filesystem clock)."""
    cut = start_ns - 50_000_000
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime_ns >= cut:
                    total += st.st_size
    return total


class Ctx:
    """Per-setup state of one workload: where its inputs are, what the
    generator planted, and scratch space for op outputs."""

    def __init__(self, workdir: str, seed: int):
        self.workdir = workdir
        self.seed = seed
        self.inputs = os.path.join(workdir, "inputs")
        self.summary: dict = {}
        self.extra: dict = {}

    def op_dir(self, i: int) -> str:
        return os.path.join(self.workdir, f"op{i}")


class Workload:
    name = ""

    def generate(self, ctx: Ctx) -> None:
        ctx.summary = gen.GENERATORS[self.name](ctx.seed, ctx.inputs)

    def prepare(self, spark, ctx: Ctx, tr) -> None:
        """Untimed state every op starts from."""

    def input_bytes(self, ctx: Ctx) -> int:
        return ctx.summary["input_bytes"]

    def run_op(self, spark, ctx: Ctx, i: int, tr) -> dict:
        raise NotImplementedError

    def verify(self, spark, ctx: Ctx, res: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self, ctx: Ctx, i: int) -> None:
        shutil.rmtree(ctx.op_dir(i), ignore_errors=True)


# ---------------------------------------------------------------------------
# sip_build
# ---------------------------------------------------------------------------


def build_sip(spark, transfer: str, sip_dir: str, tr) -> dict:
    """CSV + DROID + vocab -> triples -> assembled SIP."""
    from razulibs_spark.plans.csv2rdf import csv2rdf_triples
    from razulibs_spark.plans.sip import assemble_sip
    from razulibs_spark.sources.csv_source import read_droid_csv, read_metadata_csv
    from razulibs_spark.sources.vocab import vocab_from_file

    meta = tr.call("csv_source", "read_s", read_metadata_csv, spark,
                   os.path.join(transfer, "metadata.csv"), schema=gen.METADATA_DDL)
    droid = tr.call("csv_source", "read_s", read_droid_csv, spark,
                    os.path.join(transfer, "droid.csv"), schema=gen.DROID_DDL)
    vocab = tr.call("csv_source", "read_s", vocab_from_file, spark,
                    os.path.join(transfer, "vocab.csv"))
    triples = tr.call("csv2rdf", "s", csv2rdf_triples, meta, droid, vocab)
    with tr.inside_sip():
        out = tr.call("sip", "assemble_s", assemble_sip, spark, triples, sip_dir)
    return {"droid": droid, "triples": triples, **out}


def turtle_roundtrip(spark, sip_dir: str, out_dir: str, tr) -> list:
    """SIP documents -> valid triples -> grouped Turtle -> parsed back."""
    from razulibs_spark.operators.rdf import valid_triples
    from razulibs_spark.sources.jsonld import scan_sip_dir
    from razulibs_spark.sources.turtle_full import read_turtle_full, write_turtle_grouped

    scanned = tr.call("jsonld", "read_s", scan_sip_dir, spark, sip_dir)
    valid = tr.call("rdf", "validate_s", valid_triples, scanned.drop("entity_id"))
    tr.call("turtle_full", "write_s", write_turtle_grouped, valid, out_dir)
    back = tr.call("turtle_full", "read_s", read_turtle_full, spark, out_dir, glob="part-*")
    return back.collect()


def triple_key(r) -> tuple:
    return (r["s"], r["p"], r["o"], r["o_type"], r["o_datatype"] or None, r["o_lang"] or None)


def canonical_triples(rows) -> collections.Counter:
    """Triple multiset with every blank node renamed after the triple that
    points at it, so that graphs equal up to blank-node labels compare
    equal (the Turtle round trip relabels skolemized nodes)."""
    keys = [triple_key(r) for r in rows]
    parent = {o: (s, p) for s, p, o, ot, _, _ in keys if ot == "bnode"}

    def name(term: str, depth: int = 0) -> str:
        if term not in parent or depth > 8:
            return term
        s, p = parent[term]
        return f"[{name(s, depth + 1)} {p}]"

    return collections.Counter((name(s), p, name(o) if ot == "bnode" else o, ot, dt, lang)
                               for s, p, o, ot, dt, lang in keys)


def roundtrip_errors(rows: list, want: collections.Counter) -> list[str]:
    """The Turtle read-back must hold exactly the source triples. An
    empty read-back is an error in itself: a wrong file glob reads
    nothing without raising."""
    got = canonical_triples(rows)
    if not got:
        return ["the Turtle round trip read back 0 triples"]
    if got != want:
        return [f"round trip has {sum(got.values())} triples, source "
                f"{sum(want.values())}; {sum((got - want).values())} extra, "
                f"{sum((want - got).values())} missing"]
    return []


def eventlog_counts(eventlog_dir: str) -> tuple[collections.Counter, int]:
    """Event types and failed outcomes in a written N-Triples event log."""
    types, failed = collections.Counter(), 0
    for f in os.listdir(eventlog_dir):
        if not f.startswith("part-"):
            continue
        with open(os.path.join(eventlog_dir, f), encoding="utf-8") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) < 3:
                    continue
                if parts[1].endswith("eventType>"):
                    types[parts[2].rstrip(">").rsplit("/", 1)[-1]] += 1
                elif parts[1].endswith("outcome>") and parts[2].endswith("/fail>"):
                    failed += 1
    return types, failed


def listing_errors(listed: dict[str, int], stored: dict[str, str]) -> list[str]:
    """``list_objects`` must list every stored object with its size on
    disk, and nothing else. LocalFSClient's listing hides every key
    ending in ``.meta.json`` (its own sidecar suffix), which is every
    SIP document, so such a key may be missing; the traced run counts
    the missing ones as object_store.keys_unlisted."""
    want = {k: os.path.getsize(p) for k, p in stored.items()}
    errs = []
    missing = [k for k in want if k not in listed and not k.endswith(".meta.json")]
    if missing:
        errs.append(f"listing misses {len(missing)} stored keys, e.g. {missing[0]}")
    extra = [k for k in listed if k not in want]
    if extra:
        errs.append(f"listing has {len(extra)} keys not in the store, e.g. {extra[0]}")
    wrong = [k for k in listed if k in want and listed[k] != want[k]]
    if wrong:
        errs.append(f"listing gives the wrong size for {len(wrong)} keys, e.g. {wrong[0]}")
    return errs


class SipBuild(Workload):
    """A fresh transfer -> RDF -> SIP -> object store, then the SIP's
    documents collected back through grouped Turtle; all verified."""

    name = "sip_build"

    def prepare(self, spark, ctx, tr) -> None:
        payload = os.path.join(ctx.inputs, "bestanden")
        with open(os.path.join(ctx.inputs, "metadata.csv"), encoding="utf-8") as fh:
            n_series = len({line.split(";")[4] for line in fh.read().splitlines()[1:]})
        ctx.extra["docs"] = 2 * ctx.summary["records"] + n_series + 1
        ctx.extra["payload"] = {n: md5_file(os.path.join(payload, n))
                                for n in os.listdir(payload)}

    def run_op(self, spark, ctx, i, tr) -> dict:
        from pyspark.sql import functions as F

        from razulibs_spark.sinks.object_store import list_objects, upload_from_manifest

        root = ctx.op_dir(i)
        sip_dir = os.path.join(root, "sip")
        store = os.path.join(root, "store")
        out = build_sip(spark, ctx.inputs, sip_dir, tr)
        factory = tr.client_factory(store)
        payload_dir = os.path.join(ctx.inputs, "bestanden")
        sip_files = out["manifest"].select(
            F.concat(F.lit("sip/"), "filename").alias("key"),
            F.concat(F.lit(sip_dir + "/"), "filename").alias("local_path"))
        extra = ["manifest.json"] + [
            "eventlog.nt/" + f for f in os.listdir(os.path.join(sip_dir, "eventlog.nt"))
            if f.startswith("part-")]
        sip_extra = spark.createDataFrame(
            [("sip/" + f, os.path.join(sip_dir, f)) for f in extra],
            "key string, local_path string")
        payload = out["droid"].filter(F.col("TYPE") == "File").select(
            F.concat(F.lit("bestanden/"), "NAME").alias("key"),
            F.concat(F.lit(payload_dir + "/"), "NAME").alias("local_path"))
        upload = sip_files.unionByName(sip_extra).unionByName(payload)
        n_put = tr.call("object_store", "upload_s", upload_from_manifest,
                        upload, BUCKET, factory)
        listing = tr.call("object_store", "list_s", list_objects, spark, factory, BUCKET)
        listed = {r["key"]: r["size"] for r in listing.select("key", "size").collect()}
        bucket = os.path.join(store, BUCKET)
        tr.count("object_store.keys_unlisted", lambda: len(set(stored_objects(bucket)) - set(listed)))
        if "truth" not in ctx.extra:
            ctx.extra["truth"] = canonical_triples(out["triples"].collect())
        rows = turtle_roundtrip(spark, sip_dir, os.path.join(root, "turtle"), tr)
        return {"sip_dir": sip_dir, "store": store, "n_put": n_put, "listed": listed,
                "n_documents": out["n_documents"], "rows": rows,
                "out_roots": [sip_dir, store, os.path.join(root, "turtle")]}

    def verify(self, spark, ctx, res) -> list[str]:
        """Checks the SIP and the store as written to disk."""
        errs = []
        docs = ctx.extra["docs"]
        sip_dir = res["sip_dir"]
        on_disk = {f for f in os.listdir(sip_dir) if f.endswith(".meta.json")}
        with open(os.path.join(sip_dir, "manifest.json"), encoding="utf-8") as fh:
            manifest = {k: v["md5hash"] for k, v in json.load(fh).items()}
        if res["n_documents"] != docs or len(manifest) != docs:
            errs.append(f"documents: wrote {res['n_documents']}, manifest "
                        f"{len(manifest)}, expected {docs}")
        if set(manifest) != on_disk:
            errs.append("manifest names differ from the .meta.json files on disk")
        bad = [f for f in on_disk & set(manifest)
               if manifest[f] != md5_file(os.path.join(sip_dir, f))]
        if bad:
            errs.append(f"{len(bad)} manifest md5 values differ from the files")
        types, failed = eventlog_counts(os.path.join(sip_dir, "eventlog.nt"))
        want_events = {"ins": 1, "mem": docs, "fix": docs, "ine": 1}
        if dict(types) != want_events or failed:
            errs.append(f"event log {dict(types)} with {failed} failed, expected {want_events}")
        stored = stored_objects(os.path.join(res["store"], BUCKET))
        errs += listing_errors(res["listed"], stored)
        want = {"sip/" + k for k in walk_files(sip_dir)
                if not os.path.basename(k).startswith((".", "_"))}
        want |= {"bestanden/" + n for n in ctx.extra["payload"]}
        if set(stored) != want or res["n_put"] != len(want):
            errs.append(f"store holds {len(stored)} keys, uploaded {res['n_put']}, "
                        f"expected {len(want)}")
        copies = {k[len("sip/"):]: md5_file(p) for k, p in stored.items()
                  if k.startswith("sip/") and k.endswith(".meta.json")}
        payload = {k[len("bestanden/"):]: md5_file(p) for k, p in stored.items()
                   if k.startswith("bestanden/")}
        if copies != manifest or payload != ctx.extra["payload"]:
            errs.append("stored objects differ from the SIP and transfer files")
        return errs + roundtrip_errors(res["rows"], ctx.extra["truth"])


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Quality gate, exact and near-duplicate removal on a corpus with
    planted duplicate families."""

    name = "corpus_dedup"

    def prepare(self, spark, ctx, tr) -> None:
        ctx.extra["clusters"] = gen.load_clusters(ctx.inputs)

    def run_op(self, spark, ctx, i, tr) -> dict:
        from pyspark.sql import functions as F

        from razulibs_spark.operators.dedup import (
            connected_components,
            exact_dedup_groups,
            jaccard_pairs,
            lsh_candidate_pairs,
            minhash_signatures,
            word_shingles,
        )
        from razulibs_spark.operators.text import quality_score_col

        out_dir = os.path.join(ctx.op_dir(i), "curated")
        docs = spark.read.parquet(os.path.join(ctx.inputs, "corpus.parquet"))
        gated = tr.call("text", "gate_s", lambda d: d.filter(quality_score_col() >= MIN_QUALITY)
                        .select("doc_id", "text"), docs)
        exact = tr.call("dedup", "exact_s", exact_dedup_groups, gated)
        uniq = exact.select(F.col("canonical_doc_id").alias("doc_id")).join(gated, "doc_id")
        shingles = tr.call("dedup", "shingle_s", word_shingles, uniq, 3)
        sigs = tr.call("dedup", "signature_s", minhash_signatures, shingles)
        cands = tr.call("dedup", "candidates_s", lsh_candidate_pairs, sigs).persist()
        pairs = tr.call("dedup", "verify_s", jaccard_pairs, shingles, JACCARD, candidates=cands)
        comps = tr.call("dedup", "components_s", connected_components,
                        uniq.select("doc_id"), pairs)
        keep = comps.filter(F.col("doc_id") == F.col("component")).join(uniq, "doc_id")
        tr.call("dedup", "write_s", lambda k: k.select("doc_id", "text")
                .write.mode("overwrite").parquet(out_dir), keep)
        assignment = (
            gated.select("doc_id", F.md5("text").alias("content_md5"))
            .join(exact.select("content_md5", "canonical_doc_id"), "content_md5")
            .join(comps.withColumnRenamed("doc_id", "canonical_doc_id"), "canonical_doc_id")
            .select("doc_id", "component").collect())
        tr.count("text.docs_in", docs.count)
        tr.count("text.docs_kept", len(assignment))
        tr.count("dedup.candidate_pairs", cands.count)
        tr.count("dedup.verified_pairs", pairs.count)
        cands.unpersist()
        return {"assignment": {r[0]: r[1] for r in assignment},
                "out_dir": out_dir, "out_roots": [out_dir]}

    def verify(self, spark, ctx, res) -> list[str]:
        import pyarrow.parquet as pq

        want = ctx.extra["clusters"]
        got = res["assignment"]
        errs = []
        if got != want:
            wrong = sum(1 for d in set(got) | set(want) if got.get(d) != want.get(d))
            errs.append(f"{wrong} documents in the wrong cluster")
        kept = sorted(pq.read_table(res["out_dir"], columns=["doc_id"])
                      .column("doc_id").to_pylist())
        if kept != sorted(set(want.values())):
            errs.append(f"kept {len(kept)} documents, expected {len(set(want.values()))}")
        return errs


WORKLOADS = {w.name: w for w in (SipBuild(), CorpusDedup())}
