"""Tracers. ``NullTracer`` calls straight through (the timed run);
``Tracer`` records a span per call into a ``razulibs_spark`` layer.

The traced run measures layers from outside the program, only at the
boundaries of its public functions:

- every call runs under its own Spark job group, so the jobs, stages
  and tasks it starts can be read back from the application status
  store (through the driver's py4j gateway) and charged to its layer;
- a lazy DataFrame result is persisted and counted inside the span, so
  the work it describes is charged to the layer that built it. A
  ``manifest_from_directory`` result is instead computed once with the
  ``noop`` sink and not cached, because a cached directory scan would
  let the program's own later scans of that directory hit the cache
  and hide the re-reads that ``manifest.read_amplification`` counts;
- ``assemble_sip``'s calls into ``jsonld``, ``manifest``, ``events`` and
  ``rdf_io`` are wrapped for the duration of a traced op, giving child
  spans under the ``sip`` span;
- object-store calls go through ``CountingFactory``, whose clients log
  every call to a file that the tracer reads after the op;
- CPU of the JVM and the Python workers comes from ``procstat``.

Spans stay in memory and are written as JSON at the end of the run.
"""

from __future__ import annotations

import collections
import contextlib
import json
import os
import statistics
import time

from razulibs_spark.sinks.object_store import LocalFSClient

LAYERS = ("csv_source", "csv2rdf", "jsonld", "sip", "manifest", "events", "rdf_io",
          "object_store", "turtle_full", "rdf", "text", "dedup", "harness")


class NullTracer:
    def begin_op(self, i: int) -> None:
        pass

    def end_op(self, wall: float) -> None:
        return None

    def call(self, layer, metric, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextlib.contextmanager
    def inside_sip(self):
        yield

    def client_factory(self, root):
        from razulibs_spark.sinks.object_store import make_local_client_factory

        return make_local_client_factory(root)

    def count(self, name, value) -> None:
        """Traced runs only; ``value`` may be a callable so that an
        untraced run never pays for computing it."""


class CountingClient(LocalFSClient):
    """LocalFSClient that appends one line per call to a log file."""

    def __init__(self, root: str, log: str):
        super().__init__(root)
        self.log = log

    def _note(self, line: str) -> None:
        with open(self.log, "a") as fh:
            fh.write(line + "\n")

    def _counted(self, fn, *args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except Exception:
            self._note("error 0")
            raise

    def upload_file(self, Filename, Bucket, Key, ExtraArgs=None):
        self._counted(super().upload_file, Filename, Bucket, Key, ExtraArgs)
        self._note(f"put {os.path.getsize(Filename)}")

    def list_objects_v2(self, Bucket, Prefix="", ContinuationToken=None):
        out = self._counted(super().list_objects_v2, Bucket, Prefix, ContinuationToken)
        self._note(f"list {len(out.get('Contents', []))}")
        return out


class CountingFactory:
    """Zero-argument, picklable client factory for the object-store sinks."""

    def __init__(self, root: str, log: str):
        self.root, self.log = root, log

    def __call__(self) -> CountingClient:
        return CountingClient(self.root, self.log)


def _dir_size(path: str) -> tuple[int, int]:
    """Files and bytes a Spark file scan of ``path`` sees (names
    starting with ``.`` or ``_`` are skipped, as Spark does)."""
    n = size = 0
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Tracer:
    def __init__(self, spark, workdir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.log = os.path.join(workdir, "object_store.log")
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op = None
        self.counts: collections.Counter = collections.Counter()

    # -- spans ---------------------------------------------------------
    def _open(self, layer: str, metric: str, fn_name: str) -> dict:
        span = {"id": len(self.spans), "op": self.op, "layer": layer,
                "name": f"{layer}.{metric}", "fn": fn_name,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "start": time.perf_counter() - self.t0, "end": None,
                "group": f"perfbench-{self.op}-{len(self.spans)}"}
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span["group"], span["name"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter() - self.t0
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1]["group"], self.stack[-1]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def call(self, layer, metric, fn, *args, **kwargs):
        from pyspark.sql import DataFrame

        name = getattr(fn, "__name__", "call")
        span = self._open(layer, metric, name)
        try:
            if name == "manifest_from_directory":
                span["files"], span["bytes"] = _dir_size(args[1])
                span["dir"] = os.path.abspath(args[1])
            out = fn(*args, **kwargs)
            if name in ("write_jsonld_per_entity", "write_turtle_grouped"):
                span["bytes_written"] = _dir_size(args[1])[1]
            if isinstance(out, DataFrame):
                if name == "manifest_from_directory":
                    self.sc.setJobGroup(span["group"] + "-mat", span["name"])
                    out.write.format("noop").mode("overwrite").save()
                    self.sc.setJobGroup(span["group"], span["name"])
                else:
                    span["rows"] = out.persist().count()
            elif isinstance(out, int) and not isinstance(out, bool):
                span["rows"] = out
            elif isinstance(out, dict) and "n_documents" in out:
                span["rows"] = out["n_documents"]
            return out
        finally:
            self._close(span)

    def _wrap(self, layer, metric, fn):
        def traced(*args, **kwargs):
            return self.call(layer, metric, fn, *args, **kwargs)
        traced.__name__ = fn.__name__
        return traced

    @contextlib.contextmanager
    def inside_sip(self):
        """Child spans for the layers ``assemble_sip`` calls into."""
        from razulibs_spark.operators import events
        from razulibs_spark.plans import sip

        patches = [(sip, "write_jsonld_per_entity", "jsonld", "write_s"),
                   (sip, "manifest_from_directory", "manifest", "s"),
                   (sip, "write_ntriples", "rdf_io", "write_s"),
                   (events, "build_events", "events", "s"),
                   (events, "fixity_check_events", "events", "s"),
                   (events, "events_to_triples", "events", "to_triples_s")]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _, _ in patches]
        try:
            for mod, attr, layer, metric in patches:
                setattr(mod, attr, self._wrap(layer, metric, getattr(mod, attr)))
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def client_factory(self, root):
        return CountingFactory(root, self.log)

    def count(self, name, value) -> None:
        self.counts[name] += value() if callable(value) else value

    # -- per op --------------------------------------------------------
    def begin_op(self, i: int) -> None:
        self.op = i
        self.counts = collections.Counter()
        open(self.log, "w").close()
        self._op_span = self._open("harness", "op", "op")

    def end_op(self, wall: float) -> dict:
        """Close the op, read its stages back from the status store and
        return the op's per-layer numbers."""
        self._close(self._op_span)
        self.jsc.listenerBus().waitUntilEmpty(30000)
        spans = [s for s in self.spans if s["op"] == self.op]
        for s in spans:
            s["stages"] = self._stages(s["group"])
            s["mat_stages"] = self._stages(s["group"] + "-mat")
        for s in spans:
            kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
            s["self_s"] = s["end"] - s["start"] - kids
        out = self._layers(spans, wall)
        self.spark.catalog.clearCache()
        return out

    def _stages(self, group: str) -> list[dict]:
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        seen, out = set(), []
        for job in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job)
            if info is None:
                continue
            scans = self._binary_scan_stages(store, job)
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                out.append({"id": sid, "job": job,
                            "tasks": sd.numCompleteTasks(),
                            "failed_tasks": sd.numFailedTasks(),
                            "cpu_s": sd.executorCpuTime() / 1e9,
                            "shuffle_bytes": sd.shuffleWriteBytes(),
                            "input_bytes": sd.inputBytes(),
                            "binary_scan": sid in scans})
        return out

    @staticmethod
    def _binary_scan_stages(store, job: int) -> set[int]:
        """Ids of the job's stages whose RDD graph holds a binaryFile scan."""
        found = set()
        graphs = store.operationGraphForJob(job)
        for k in range(graphs.size()):
            root = graphs.apply(k).rootCluster()
            kids = root.childClusters()
            if any("Scan binaryFile" in kids.apply(q).name() for q in range(kids.size())):
                found.add(int(root.name().split()[1]))
        return found

    def _layers(self, spans: list[dict], wall: float) -> dict:
        v: collections.Counter = collections.Counter()
        for s in spans:
            lay, fn = s["layer"], s["fn"]
            stages = s["stages"] + s["mat_stages"]
            v[f"{lay}.self_s"] += s["self_s"]
            v[f"{lay}.tasks"] += sum(st["tasks"] for st in stages)
            v[f"{lay}.failed_tasks"] += sum(st["failed_tasks"] for st in stages)
            v[f"{lay}.executor_cpu_s"] += sum(st["cpu_s"] for st in stages)
            v[f"{lay}.shuffle_bytes"] += sum(st["shuffle_bytes"] for st in stages)
            v[f"{lay}.jobs"] += len({st["job"] for st in stages})
            if s["name"] != "harness.op":
                v[s["name"]] += s["end"] - s["start"]
            v[f"{s['name']}.rows"] += s.get("rows") or 0
            if fn == "manifest_from_directory":
                v["manifest.files_hashed"] += s["files"]
                v["manifest.bytes_hashed"] += s["bytes"]
            if fn == "scan_sip_dir":
                v["jsonld.read_tasks"] += sum(st["tasks"] for st in stages)
            if fn == "read_turtle_full":
                v["turtle_full.parse_tasks"] += sum(st["tasks"] for st in stages)
            if fn == "connected_components":
                v["dedup.jobs_in_components"] += len({st["job"] for st in stages})
            if fn == "write_jsonld_per_entity":
                v["jsonld.bytes_written"] += s["bytes_written"]
            if fn == "write_turtle_grouped":
                v["turtle_full.bytes"] += s["bytes_written"]
        # binaryFile bytes the program read, over the distinct
        # directories manifest_from_directory was pointed at
        dirs = {s["dir"]: s["bytes"] for s in spans if "dir" in s}
        scanned = sum(st["input_bytes"] for s in spans if s["layer"] != "turtle_full"
                      for st in s["stages"] if st["binary_scan"])
        v["manifest.read_amplification"] = scanned / sum(dirs.values()) if dirs else 0.0
        log = collections.Counter()
        with open(self.log) as fh:
            for line in fh:
                kind, n = line.split()
                log[kind] += 1
                log[kind + "_n"] += int(n)
        v["object_store.puts"] = log["put"]
        v["object_store.bytes_put"] = log["put_n"]
        v["object_store.list_calls"] = log["list"]
        v["object_store.keys_listed"] = log["list_n"]
        v["object_store.errors"] = log["error"]
        v.update(self.counts)
        v["harness.wall_s"] = wall
        return dict(v)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


_SPEC = [
    ("csv_source", ["read_s:s", "rows:count+"]),
    ("csv2rdf", ["s:s", "triples:count+", "shuffle_bytes:bytes"]),
    ("jsonld", ["write_s:s", "docs_written:count+", "bytes_written:bytes", "read_s:s",
                "triples_read:count+", "read_tasks:count"]),
    ("sip", ["assemble_s:s"]),
    ("manifest", ["s:s", "files_hashed:count", "bytes_hashed:bytes",
                  "read_amplification:ratio"]),
    ("events", ["s:s", "rows:count+"]),
    ("rdf_io", ["write_s:s", "triples_written:count+"]),
    ("object_store", ["upload_s:s", "puts:count", "bytes_put:bytes", "list_s:s",
                      "list_calls:count", "keys_listed:count+", "keys_unlisted:count",
                      "errors:count"]),
    ("turtle_full", ["write_s:s", "read_s:s", "bytes:bytes", "parse_tasks:count+",
                     "triples_read:count+"]),
    ("rdf", ["validate_s:s", "triples_dropped:count"]),
    ("text", ["gate_s:s", "kept_frac:frac+"]),
    ("dedup", ["shingle_s:s", "signature_s:s", "candidates_s:s", "verify_s:s",
               "components_s:s", "candidate_pairs:count", "verified_pairs:count+",
               "lsh_precision:frac+", "shuffle_bytes:bytes", "components_jobs:count"]),
]


def _per_layer() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) of every metric a traced run prints. In
    ``_SPEC`` a trailing ``+`` on the unit marks higher as better."""
    out = {"session.start_s": ("s", "lower")}
    for layer, metrics in _SPEC:
        for m in metrics:
            name, unit = m.split(":")
            out[f"{layer}.{name}"] = (unit.rstrip("+"),
                                      "higher" if unit.endswith("+") else "lower")
    for layer in LAYERS:
        out[f"{layer}.self_s"] = ("s", "lower")
        out[f"{layer}.tasks"] = ("count", "lower")
        out[f"{layer}.failed_tasks"] = ("count", "lower")
        out[f"{layer}.executor_cpu_s"] = ("s", "lower")
    out.update({
        "jvm_cpu_s": ("s", "lower"),
        "pyworker_cpu_s": ("s", "lower"),
        "trace.op_s": ("s", "lower"),
        "trace.overhead_frac": ("frac", "lower"),
        "trace.self_sum_frac": ("frac", "higher"),
    })
    return out


PER_LAYER = _per_layer()


def layer_metrics(traced: list[dict], untraced: list[dict], start_s: float) -> dict:
    """Median over the traced ops of every PER_LAYER metric."""
    def per_op(rec: dict) -> dict:
        v = collections.Counter(rec["layers"])
        g = v.get
        out = {
            "csv_source.read_s": g("csv_source.read_s", 0),
            "csv_source.rows": g("csv_source.read_s.rows", 0),
            "csv2rdf.s": g("csv2rdf.s", 0),
            "csv2rdf.triples": g("csv2rdf.s.rows", 0),
            "csv2rdf.shuffle_bytes": g("csv2rdf.shuffle_bytes", 0),
            "jsonld.write_s": g("jsonld.write_s", 0),
            "jsonld.docs_written": g("jsonld.write_s.rows", 0),
            "jsonld.bytes_written": g("jsonld.bytes_written", 0),
            "jsonld.read_s": g("jsonld.read_s", 0),
            "jsonld.triples_read": g("jsonld.read_s.rows", 0),
            "jsonld.read_tasks": g("jsonld.read_tasks", 0),
            "sip.assemble_s": g("sip.assemble_s", 0),
            "manifest.s": g("manifest.s", 0),
            "manifest.files_hashed": g("manifest.files_hashed", 0),
            "manifest.bytes_hashed": g("manifest.bytes_hashed", 0),
            "manifest.read_amplification": g("manifest.read_amplification", 0),
            "events.s": g("events.s", 0) + g("events.to_triples_s", 0),
            "events.rows": g("events.s.rows", 0),
            "rdf_io.write_s": g("rdf_io.write_s", 0),
            "rdf_io.triples_written": g("events.to_triples_s.rows", 0),
            "object_store.upload_s": g("object_store.upload_s", 0),
            "object_store.list_s": g("object_store.list_s", 0),
            "turtle_full.write_s": g("turtle_full.write_s", 0),
            "turtle_full.read_s": g("turtle_full.read_s", 0),
            "turtle_full.bytes": g("turtle_full.bytes", 0),
            "turtle_full.parse_tasks": g("turtle_full.parse_tasks", 0),
            "turtle_full.triples_read": g("turtle_full.read_s.rows", 0),
            "rdf.validate_s": g("rdf.validate_s", 0),
            "rdf.triples_dropped": g("jsonld.read_s.rows", 0) - g("rdf.validate_s.rows", 0),
            "text.gate_s": g("text.gate_s", 0),
            "text.kept_frac": _ratio(g("text.docs_kept", 0), g("text.docs_in", 0)),
            "dedup.lsh_precision": _ratio(g("dedup.verified_pairs", 0),
                                          g("dedup.candidate_pairs", 0)),
            "dedup.components_jobs": g("dedup.jobs_in_components", 0),
            "jvm_cpu_s": rec["jvm_cpu_s"],
            "pyworker_cpu_s": rec["pyworker_cpu_s"],
            "trace.op_s": rec["op_s"],
        }
        for name in PER_LAYER:
            if name not in out and name in v:
                out[name] = v[name]
        self_sum = sum(v.get(f"{layer}.self_s", 0) for layer in LAYERS)
        out["trace.self_sum_frac"] = _ratio(self_sum, v.get("harness.wall_s", 0))
        return out

    ops = [per_op(r) for r in traced]
    untraced_op_s = statistics.median(r["op_s"] for r in untraced)
    metrics = {}
    for name, (unit, _) in PER_LAYER.items():
        vals = [o.get(name, 0) for o in ops]
        metrics[name] = (float(statistics.median(vals)), unit)
    metrics["session.start_s"] = (start_s, "s")
    metrics["trace.overhead_frac"] = (metrics["trace.op_s"][0] / untraced_op_s - 1, "frac")
    return metrics
