"""Tests of the benchmark harness itself: the generators are
deterministic per seed, and every verifier accepts a correct output and
rejects a corrupted one. No Spark session is started.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, workloads  # noqa: E402
from perfbench.workloads import BUCKET, Ctx  # noqa: E402


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("name", sorted(gen.GENERATORS))
def test_generators_are_deterministic_per_seed(tmp_path, name):
    a = gen.GENERATORS[name](7, str(tmp_path / "a"))
    b = gen.GENERATORS[name](7, str(tmp_path / "b"))
    c = gen.GENERATORS[name](8, str(tmp_path / "c"))
    assert a == b
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))


def test_corpus_clusters_match_planted_rates(tmp_path):
    s = gen.gen_corpus(3, str(tmp_path), families=40, singles=30, low_quality=10)
    clusters = gen.load_clusters(str(tmp_path))
    assert len(set(clusters.values())) == s["kept_docs"] == 70
    assert len(clusters) == s["docs"] - 10
    assert all(c <= d for d, c in clusters.items())


# -- sip_build ---------------------------------------------------------------

TRIPLES = [
    {"s": "https://x/1", "p": "ldto:naam", "o": "a", "o_type": "literal",
     "o_datatype": None, "o_lang": None},
    {"s": "https://x/1", "p": "ldto:checksum", "o": "bnode:1:checksum",
     "o_type": "bnode", "o_datatype": None, "o_lang": None},
    {"s": "bnode:1:checksum", "p": "ldto:checksumWaarde", "o": "ff",
     "o_type": "literal", "o_datatype": None, "o_lang": None},
]


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)


def _sip_build_output(tmp_path):
    """A hand-made correct sip_build op result: two documents, their
    manifest, an event log, and a store holding SIP and payload."""
    ctx = Ctx(str(tmp_path / "w"), 1)
    sip = str(tmp_path / "sip")
    store = str(tmp_path / "store")
    docs = {"A.meta.json": b'{"@graph": [1]}\n', "B.meta.json": b'{"@graph": [2]}\n'}
    for name, data in docs.items():
        _write(os.path.join(sip, name), data)
    manifest = {n: {"md5hash": hashlib.md5(d).hexdigest()} for n, d in docs.items()}
    _write(os.path.join(sip, "manifest.json"), json.dumps(manifest).encode())
    ev = "https://e/sip-e{} <premis:eventType> <http://id.loc.gov/t/eventType/{}> .\n"
    out = "https://e/sip-e{} <premis:outcome> <http://id.loc.gov/o/eventOutcome/suc> .\n"
    kinds = ["ins", "mem", "mem", "fix", "fix", "ine"]
    log = "".join(ev.format(i, k) + out.format(i) for i, k in enumerate(kinds))
    _write(os.path.join(sip, "eventlog.nt", "part-00000.txt"), log.encode())
    _write(os.path.join(sip, "eventlog.nt", "_SUCCESS"), b"")
    payload = {"p1.jpg": b"\x01\x02", "p2.jpg": b"\x03"}
    files = {"sip/" + k: v for k, v in _tree(sip).items() if not k.endswith("_SUCCESS")}
    files.update({"bestanden/" + k: v for k, v in payload.items()})
    for key, data in files.items():
        _write(os.path.join(store, BUCKET, key), data)
        _write(os.path.join(store, BUCKET, key + ".meta.json"), b'{"ContentType": "x"}')
    ctx.extra = {"docs": 2,
                 "payload": {k: hashlib.md5(v).hexdigest() for k, v in payload.items()},
                 "truth": workloads.canonical_triples(TRIPLES)}
    relabeled = [dict(t) for t in TRIPLES]
    relabeled[1]["o"] = relabeled[2]["s"] = "_:b0"
    # as LocalFSClient lists them: keys ending in .meta.json are hidden
    listed = {k: len(v) for k, v in files.items() if not k.endswith(".meta.json")}
    res = {"sip_dir": sip, "store": store, "n_put": len(files), "n_documents": 2,
           "listed": listed, "rows": relabeled}
    return ctx, res


def test_sip_build_verifier_accepts_a_correct_output(tmp_path):
    ctx, res = _sip_build_output(tmp_path)
    assert workloads.SipBuild().verify(None, ctx, res) == []


def _corrupt_stored_payload(ctx, res):
    _write(os.path.join(res["store"], BUCKET, "bestanden", "p1.jpg"), b"\x00")


def _corrupt_manifest(ctx, res):
    _write(os.path.join(res["sip_dir"], "B.meta.json"), b"changed\n")


def _drop_fixity_event(ctx, res):
    path = os.path.join(res["sip_dir"], "eventlog.nt", "part-00000.txt")
    with open(path) as fh:
        lines = [ln for ln in fh if "eventType/fix" not in ln]
    _write(path, "".join(lines).encode())


def _lose_store_key(ctx, res):
    os.remove(os.path.join(res["store"], BUCKET, "sip", "A.meta.json"))


def _listing_misses_payload(ctx, res):
    del res["listed"]["bestanden/p1.jpg"]


def _listing_wrong_size(ctx, res):
    res["listed"]["bestanden/p2.jpg"] += 1


def _listing_extra_key(ctx, res):
    res["listed"]["bestanden/p3.jpg"] = 1


def _listing_empty(ctx, res):
    res["listed"] = {}


def _empty_roundtrip(ctx, res):
    res["rows"] = []


def _extra_triple(ctx, res):
    res["rows"] = res["rows"] + [res["rows"][0]]


@pytest.mark.parametrize("corrupt", [_corrupt_stored_payload, _corrupt_manifest,
                                     _drop_fixity_event, _lose_store_key,
                                     _listing_misses_payload, _listing_wrong_size,
                                     _listing_extra_key, _listing_empty,
                                     _empty_roundtrip, _extra_triple])
def test_sip_build_verifier_rejects_corruption(tmp_path, corrupt):
    ctx, res = _sip_build_output(tmp_path)
    corrupt(ctx, res)
    assert workloads.SipBuild().verify(None, ctx, res)


def test_sip_build_verifier_accepts_a_listing_with_documents(tmp_path):
    """Listing the SIP documents too (the hidden .meta.json keys) is
    correct, not an error."""
    ctx, res = _sip_build_output(tmp_path)
    for k in ("sip/A.meta.json", "sip/B.meta.json"):
        res["listed"][k] = os.path.getsize(os.path.join(res["store"], BUCKET, k))
    assert workloads.SipBuild().verify(None, ctx, res) == []


# -- corpus_dedup ------------------------------------------------------------


def _corpus_output(tmp_path, keep):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "curated"
    out.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array(keep, pa.int64()),
                             "text": pa.array(["t"] * len(keep))}),
                   str(out / "part-0.parquet"))
    ctx = Ctx(str(tmp_path), 1)
    ctx.extra = {"clusters": {1: 1, 5: 1, 9: 1, 3: 3, 4: 4}}
    return ctx, {"assignment": dict(ctx.extra["clusters"]), "out_dir": str(out)}


def test_corpus_dedup_verifier(tmp_path):
    ctx, res = _corpus_output(tmp_path, [1, 3, 4])
    assert workloads.CorpusDedup().verify(None, ctx, res) == []
    res["assignment"][9] = 9
    assert workloads.CorpusDedup().verify(None, ctx, res)


def test_corpus_dedup_verifier_rejects_a_missing_keeper(tmp_path):
    ctx, res = _corpus_output(tmp_path, [1, 3])
    assert workloads.CorpusDedup().verify(None, ctx, res)


def test_canonical_triples_ignores_bnode_labels_only():
    relabeled = [dict(t) for t in TRIPLES]
    relabeled[1]["o"] = relabeled[2]["s"] = "_:zz"
    assert workloads.canonical_triples(relabeled) == workloads.canonical_triples(TRIPLES)
    relabeled[2]["o"] = "fe"
    assert workloads.canonical_triples(relabeled) != workloads.canonical_triples(TRIPLES)


def test_stored_objects_skips_sidecars_only(tmp_path):
    b = str(tmp_path)
    _write(os.path.join(b, "x.meta.json"), b'{"@graph": []}')
    _write(os.path.join(b, "x.meta.json.meta.json"), b'{"ContentType": "a"}')
    _write(os.path.join(b, "orphan.tif.meta.json"), b'{"ContentType": "a"}')
    assert sorted(workloads.stored_objects(b)) == ["x.meta.json"]
