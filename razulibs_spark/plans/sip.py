"""SIP assembly with provenance — SURVEY.md §3.2 (razu/sip.py:73-184):
metadata documents + checksum manifest + PREMIS event log + lock, as
one orchestration over the operator library.

Reference shape: per-resource `save()` + per-file MD5 + a deferred
lambda queue resolving event subjects late (preservation_events.py:
44-59). Engine shape: the deferred queue disappears — every events
frame is a lazy plan built against the FINAL metadata/manifest frames,
so "subjects reflect final state" holds by construction; checksums
come from one binaryFile scan of what was actually written (S6), not
per-file hashing; the lock is the P6 predicate gating mutating calls.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from razulibs_spark.operators import events as ev
from razulibs_spark.operators.ids import dense_ids
from razulibs_spark.operators.manifest import (
    manifest_from_directory,
    manifest_to_json_map,
)
from razulibs_spark.sources.jsonld import write_jsonld_per_entity
from razulibs_spark.sources.rdf_io import write_ntriples


class SipLockedError(RuntimeError):
    """Mutation attempted after ingestion_end (decorators.py:12-15)."""


def assemble_sip(
    spark: SparkSession,
    triples: DataFrame,
    sip_dir: str,
    actor: str = "https://data.razu.nl/id/actor/razu",
    event_base: str = "https://data.razu.nl/id/event/sip",
) -> dict:
    """Write metadata documents, build the manifest from what landed on
    disk, emit the PREMIS provenance in dependency order, and lock.

    Returns {'manifest': DataFrame, 'events': DataFrame,
    'n_documents': int}. Raises SipLockedError when the directory's
    event log already carries ingestion_end (O6 lock gate).

    The per-entity metadata files are written from the executors, so
    ``sip_dir`` must be on a filesystem every executor mounts — which
    a SIP staging area on a real cluster is (and local[n] trivially
    is). A directory that is not shared raises RuntimeError: the
    manifest scan then finds fewer files than were written."""
    eventlog_path = os.path.join(sip_dir, "eventlog.nt")
    if os.path.exists(eventlog_path):
        prior = _read_eventlog(spark, eventlog_path)
        if ev.is_locked(prior):
            raise SipLockedError(f"SIP at {sip_dir} is locked (ingestion_end)")

    # K1: one .meta.json per entity, written executor-side.
    n_docs = write_jsonld_per_entity(triples, sip_dir)

    # S6/F7: manifest from ONE distributed scan of the written files.
    base = sip_dir.rstrip("/") + "/"
    manifest = manifest_from_directory(spark, sip_dir, base_segment=base).filter(
        F.col("filename").endswith(".meta.json")
    ).persist()

    # Shared-FS assumption made LOUD (ADVICE r8): on a cluster whose
    # sip_dir is NOT actually shared, files land on executor-local
    # disks and the manifest scan under-counts — an incomplete
    # archival SIP with no error. A mismatch is a data-integrity
    # failure, never a warning.
    n_files = manifest.count()
    if n_files != n_docs:
        raise RuntimeError(
            f"assemble_sip: manifest scan found {n_files} metadata "
            f"files but {n_docs} were written — sip_dir {sip_dir!r} "
            "is not a filesystem every executor mounts (or writes "
            "were lost); point sip_dir at shared storage"
        )

    # Events in dependency order, numbered densely by ONE dense_ids
    # over (group, subject) (S8/A3): ingestion_start → one mem per
    # document → one fix per manifest entry (a re-scan recomputes the
    # checksums) → ingestion_end. Built AFTER the manifest frame
    # exists, so subjects are final-state — the deferred-queue
    # semantics for free.
    sip_row = spark.createDataFrame([(sip_dir,)], "_subject string")
    groups = [
        ev._event_rows(sip_row, "ins", actor, description="Ingestion started."),
        ev._event_rows(manifest.select(F.col("filename").alias("_subject")),
                       "mem", actor, description="Metadata object created."),
        ev._fixity_rows(manifest, manifest_from_directory(
            spark, sip_dir, base_segment=base), actor),
        ev._event_rows(sip_row, "ine", actor, description="Ingestion ended."),
    ]
    rows = reduce(DataFrame.unionByName,
                  (g.withColumn("_group", F.lit(i)) for i, g in enumerate(groups)))
    events = dense_ids(rows, ["_group", "_subject"], "event_id").select(
        *ev.EVENT_SCHEMA.fieldNames()
    ).persist()

    # K3 + K4 sinks: byte-compatible manifest map, eventlog as RDF.
    with open(os.path.join(sip_dir, "manifest.json"), "w", encoding="utf-8") as fh:
        fh.write(manifest_to_json_map(manifest))
    write_ntriples(ev.events_to_triples(events, event_base),
                   eventlog_path)
    return {"manifest": manifest, "events": events, "n_documents": n_docs}


def _read_eventlog(spark: SparkSession, path: str) -> DataFrame:
    """S8: recover the event frame (type codes) from the RDF log."""
    from razulibs_spark.sources.rdf_io import read_ntriples

    t = read_ntriples(spark, path)
    return t.filter(F.col("p") == "premis:eventType").select(
        F.element_at(F.split(F.col("o"), "/"), -1).alias("event_type")
    )
