"""Seeded input generators, one per workload.

Each generator writes plain files (CSV, payload bytes, parquet) into an
output directory and returns a summary dict of what it planted: item
counts, duplicate-cluster rates and the ground truth the verifiers
compare against. The same seed always gives byte-identical
files. The program under test only ever sees the files.

    python3 perfbench/gen.py sip_build --seed 1 --out /tmp/x
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import json
import os
import random

# Sizes are per op, chosen from measurements on a 4-core, 15 GB machine.
# Warm sip_build ops took 15-18 s at 100 records, 19-20 s at 300 and
# 37-42 s at 999 (the most the record filenames allow): about 75 Spark
# jobs whatever the size. Warm corpus_dedup ops took 7-8 s at about 1k
# documents, 10 s at 3k and 15 s at 8k. A whole run adds a JVM start and
# a cold warm-up op: untraced sip_build runs took about 70 s at 100
# records and 81 s at 300, corpus_dedup runs 42 s at 1k documents and
# 45 s at 3k, and a traced run about 30 s more. Comparing two versions
# takes 48 runs (20 untraced and 2 traced per workload, plus 4 more),
# which must end within 57 minutes; these sizes are the largest measured
# ones that keep them under 85% of that (about 2,900 s), leaving room
# for a contended host. 300 records would take about 3,200 s.
SIP_RECORDS = 100
CORPUS_FAMILIES = 750
CORPUS_SINGLES = 1200
CORPUS_LOW_QUALITY = 240
CORPUS_EXACT_RATE = 0.5
CORPUS_NEAR_RATE = 0.5
CORPUS_WORDS = 150

METADATA_COLS = [
    "Plaats", "Doos-nummer", "Inventarisnummer", "Volgnummer", "Serie",
    "Datering", "Volgordenummer", "Titel", "Beschrijving voorkant",
    "Bijzonderheden", "Plaats 1", "Plaats 2", "Plaats 3", "Schaal",
    "Coördinaat - Linksonder", "Coördinaat Rechtsboven", "Breedte (cm)",
    "Hoogte (cm)", "Soort", "Betrokkene type", "Auteursrecht",
    "Fotograaf naam", "Gemeentenaam", "Gemeente identificatie", "Kleurtype",
]
METADATA_DDL = ", ".join(
    f"`{c}` {'int' if c in ('Inventarisnummer', 'Volgnummer', 'Breedte (cm)', 'Hoogte (cm)') else 'string'}"
    for c in METADATA_COLS
)
DROID_COLS = [
    "ID", "PARENT_ID", "URI", "FILE_PATH", "NAME", "METHOD", "STATUS",
    "SIZE", "TYPE", "EXT", "LAST_MODIFIED", "EXTENSION_MISMATCH",
    "MD5_HASH", "FORMAT_COUNT", "PUID", "MIME_TYPE", "FORMAT_NAME",
    "FORMAT_VERSION",
]
DROID_DDL = (
    "ID int, PARENT_ID int, URI string, FILE_PATH string, NAME string, "
    "METHOD string, STATUS string, SIZE long, TYPE string, EXT string, "
    "LAST_MODIFIED string, EXTENSION_MISMATCH boolean, MD5_HASH string, "
    "FORMAT_COUNT int, PUID string, MIME_TYPE string, FORMAT_NAME string, "
    "FORMAT_VERSION string"
)

PLACES = ["Houten", "Tull en 't Waal", "'t Goy", "Schalkwijk", "Wijk bij Duurstede",
          "Bunnik", "Odijk", "Werkhoven", "Cothen", "Langbroek", "Amerongen",
          "Leersum", "Doorn", "Driebergen", "Zeist", "Vianen"]
SOORTEN = ["Luchtfoto", "Kaart", "Tekening"]
KLEUREN = ["Kleurenfoto", "Zwart-wit"]
RECHTEN = ["Geen toestemming nodig", "Onbekend", "Toestemming vereist"]
FOTOGRAFEN = ["Delta-Phot Luchtfotografie Middelburg Holland", "KLM Aerocarto",
              "Aerofoto Brouwer", "Slagboom en Peeters"]
WORDS = ("archief foto kaart gemeente dorp kerk molen weg rivier polder dijk "
         "boerderij kasteel brug haven station markt school straat plein veld "
         "bos akker sloot tuin huis toren gracht sluis wetering").split()


def _write_csv(path: str, header: list[str], rows: list[list], sep: str) -> None:
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, delimiter=sep, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _payload(rng: random.Random, lo: int = 512, hi: int = 4096) -> bytes:
    """Random bytes of a random length in [lo, hi]."""
    return rng.randbytes(rng.randint(lo, hi))


def gen_transfer(seed: int, out: str, n_records: int = SIP_RECORDS) -> dict:
    """A razu-shaped transfer: ``metadata.csv`` (FIXTURES.md §1, ``;``),
    ``droid.csv`` (§2), ``vocab.csv`` and one payload file per record
    under ``bestanden/``. Inventarisnummer stays below 1000 because
    the record filename pads it to three digits."""
    if not 0 < n_records < 1000:
        raise ValueError("n_records must be in 1..999")
    rng = random.Random(f"transfer:{seed}")
    payload_dir = os.path.join(out, "bestanden")
    os.makedirs(payload_dir, exist_ok=True)
    meta_rows, droid_rows = [], []
    droid_rows.append([1, "", "file:/transfer/bestanden/", "bestanden", "bestanden",
                       "", "Done", "", "Folder", "", "2024-07-17T12:00:00",
                       "false", "", "", "", "", "", ""])
    payload_bytes = 0
    for inv in range(1, n_records + 1):
        year = rng.choice([1984, 1985, 1986, 1987])
        box = rng.randint(1, 12)
        fname = f"{year}_{box:02d}_{inv:03d}.jpg"
        data = _payload(rng, 1536, 2560)
        with open(os.path.join(payload_dir, fname), "wb") as fh:
            fh.write(data)
        payload_bytes += len(data)
        p1, p2, p3 = rng.sample(PLACES, 3)
        n_places = rng.randint(1, 3)
        x, y = rng.randint(130000, 140000) * 1000, rng.randint(445000, 455000) * 1000
        d = rng.choice(["iso", "year", "dmy"])
        month, day = rng.randint(1, 12), rng.randint(1, 28)
        datering = {"iso": f"{year}-{month:02d}-{day:02d}", "year": str(year),
                    "dmy": f"{day}-{month}-{year}"}[d]
        desc = " ".join(rng.choice(WORDS) for _ in range(rng.randint(4, 14)))
        meta_rows.append([
            f"W13.{box}.{rng.randint(1, 9)}", f"{year}-{box}", inv, rng.randint(1, 200),
            str(year), datering, f"A{rng.randint(1, 99)}", f"Luchtfoto {p1} {inv}",
            desc, rng.choice(["", "", "vlek linksboven"]), p1,
            p2 if n_places > 1 else "", p3 if n_places > 2 else "",
            "1:1000", f"X {x} Y {y}", f"X {x + 686000} Y {y + 686000}", 60, 60,
            rng.choice(SOORTEN), "Maker", rng.choice(RECHTEN),
            rng.choice(FOTOGRAFEN), "Houten", "NL-K30279619", rng.choice(KLEUREN),
        ])
        droid_rows.append([
            inv + 1, 1, f"file:/transfer/bestanden/{fname}",
            f"F:\\transfer\\bestanden\\{fname}", fname, "Signature", "Done",
            len(data), "File", "jpg", f"2024-07-17T12:{inv // 60 % 60:02d}:{inv % 60:02d}",
            "false", hashlib.md5(data).hexdigest(), 1, "fmt/43", "image/jpeg",
            "JPEG File Interchange Format", "1.01",
        ])
    _write_csv(os.path.join(out, "metadata.csv"), METADATA_COLS, meta_rows, ";")
    _write_csv(os.path.join(out, "droid.csv"), DROID_COLS, droid_rows, ",")
    vocab = [("soort", t) for t in SOORTEN] + [("kleurtype", t) for t in KLEUREN] + \
        [("auteursrecht", t) for t in RECHTEN] + [("actor", t) for t in FOTOGRAFEN] + \
        [("locatie", t) for t in PLACES]
    _write_csv(os.path.join(out, "vocab.csv"), ["vocabulary", "term", "uri"],
               [[v, t, f"https://data.razu.nl/id/{v}/{hashlib.md5(t.encode()).hexdigest()}"]
                for v, t in vocab], ",")
    return {
        "records": n_records,
        "payload_files": n_records,
        "payload_bytes": payload_bytes,
        "input_bytes": payload_bytes + sum(
            os.path.getsize(os.path.join(out, f))
            for f in ("metadata.csv", "droid.csv", "vocab.csv")),
    }


def gen_corpus(seed: int, out: str, families: int = CORPUS_FAMILIES,
               singles: int = CORPUS_SINGLES, low_quality: int = CORPUS_LOW_QUALITY) -> dict:
    """A text corpus with planted duplicate families. Each family is a
    base document plus, with CORPUS_EXACT_RATE, an exact copy and, with
    CORPUS_NEAR_RATE, a near copy whose last word is replaced (word-3-gram
    Jaccard 0.987, so 4x3 LSH banding misses such a pair with
    probability below 3e-6). Singles are unique documents; low-quality
    documents are too short to pass the quality gate. Doc ids are
    shuffled so cluster members are not adjacent. ``clusters`` in the
    summary maps every document that should pass the gate to the
    smallest doc id of its family."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus:{seed}")
    vocab = [f"w{n:04d}" for n in range(4000)]

    def doc(n_words: int) -> list[str]:
        return [rng.choice(vocab) for _ in range(n_words)]

    groups: list[list[str]] = []
    n_exact = n_near = 0
    for _ in range(families):
        base = doc(CORPUS_WORDS)
        members = [" ".join(base)]
        if rng.random() < CORPUS_EXACT_RATE:
            members.append(members[0])
            n_exact += 1
        if rng.random() < CORPUS_NEAR_RATE or len(members) == 1:
            near = list(base)
            near[-1] = "x" + near[-1]
            members.append(" ".join(near))
            n_near += 1
        groups.append(members)
    groups += [[" ".join(doc(CORPUS_WORDS))] for _ in range(singles)]
    short = [" ".join(doc(rng.randint(5, 30))) for _ in range(low_quality)]
    n_docs = sum(len(g) for g in groups) + len(short)
    ids = rng.sample(range(1, 10 * n_docs), n_docs)
    doc_ids, texts, clusters = [], [], {}
    it = iter(ids)
    for members in groups:
        mids = [next(it) for _ in members]
        for d, t in zip(mids, members):
            doc_ids.append(d)
            texts.append(t)
            clusters[d] = min(mids)
    for t in short:
        doc_ids.append(next(it))
        texts.append(t)
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(doc_ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}),
                   os.path.join(out, "corpus.parquet"))
    with open(os.path.join(out, "clusters.json"), "w") as fh:
        json.dump(sorted(clusters.items()), fh)
    return {
        "docs": n_docs,
        "families": families,
        "singles": singles,
        "low_quality": low_quality,
        "exact_dup_rate": round(n_exact / families, 4),
        "near_dup_rate": round(n_near / families, 4),
        "kept_docs": families + singles,
        "input_bytes": os.path.getsize(os.path.join(out, "corpus.parquet")),
    }


def load_clusters(out: str) -> dict[int, int]:
    with open(os.path.join(out, "clusters.json")) as fh:
        return {int(d): int(c) for d, c in json.load(fh)}


GENERATORS = {
    "sip_build": gen_transfer,
    "corpus_dedup": gen_corpus,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(json.dumps(GENERATORS[args.workload](args.seed, args.out)))


if __name__ == "__main__":
    main()
