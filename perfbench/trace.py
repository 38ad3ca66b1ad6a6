"""In-memory spans around the calls the benchmark makes into the engine.

A span is (name, start, end, parent) and carries the run's shared id.
Spans stay in memory and are written out once, when the run ends. The
engine is never edited: extraction spans come from a timing
``StorageBackend`` wrapper, corpus spans from wrapping pyspark's parquet
writer/reader and ``DataFrame.count`` for the duration of one traced call.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, DataFrameReader, DataFrameWriter

from universal_text_extractor_spark.plans.storage import StorageBackend


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def open(self, name: str, parent: int | None = None) -> int:
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "run": self.run_id, "name": name,
             "start": time.perf_counter(), "end": None, "parent": parent}
        )
        return len(self.spans) - 1

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()

    def enter(self, name: str) -> int:
        """Open a span that later spans nest under until :meth:`leave`."""
        sid = self.open(name)
        self._stack.append(sid)
        return sid

    def leave(self, sid: int) -> None:
        self._stack.remove(sid)
        self.close(sid)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.enter(name)
        try:
            yield self.spans[sid]
        finally:
            self.leave(sid)

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record an interval that no single call brackets."""
        sid = self.open(name, parent)
        self.spans[sid].update(start=start, end=end)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover
        (children of one span never overlap: they are sequential calls)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class TimingStorage(StorageBackend):
    """A ``StorageBackend`` that forwards each call to ``inner`` inside a
    span. Per bucket it adds a ``pipeline.bucket`` span (write_bucket ..
    append_manifest) and a ``pipeline.lineage_collect`` span for the gap
    between ``read_bucket`` and ``append_metrics``, where run_extraction
    collects the lineage rows."""

    def __init__(self, inner: StorageBackend, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer
        self._bucket: int | None = None
        self._read_end: float | None = None

    def _call(self, name: str, *args):
        with self.tracer.span(f"storage.{name}") as sp:
            result = getattr(self.inner, name)(*args)
        return result, sp

    def stage_pages(self, pages_with_bucket, out_dir):
        self._call("stage_pages", pages_with_bucket, out_dir)

    def stage_is_committed(self, out_dir):
        return self._call("stage_is_committed", out_dir)[0]

    def read_stage(self, spark, out_dir):
        return self._call("read_stage", spark, out_dir)[0]

    def write_bucket(self, extracted, out_dir, bucket):
        self._bucket = self.tracer.enter("pipeline.bucket")
        self._call("write_bucket", extracted, out_dir, bucket)

    def read_bucket(self, spark, out_dir, bucket):
        result, sp = self._call("read_bucket", spark, out_dir, bucket)
        self._read_end = sp["end"]
        return result

    def append_metrics(self, metrics, out_dir):
        if self._read_end is not None:
            self.tracer.add(
                "pipeline.lineage_collect", self._read_end, time.perf_counter(), self._bucket
            )
            self._read_end = None
        self._call("append_metrics", metrics, out_dir)

    def append_manifest(self, spark, out_dir, bucket, run_id):
        self._call("append_manifest", spark, out_dir, bucket, run_id)
        if self._bucket is not None:
            self.tracer.leave(self._bucket)
            self._bucket = None

    def read_manifest_buckets(self, spark, out_dir):
        return self._call("read_manifest_buckets", spark, out_dir)[0]

    def drop_stage(self, out_dir):
        self._call("drop_stage", out_dir)


@contextlib.contextmanager
def corpus_stage_spans(tracer: Tracer, keep: dict[str, str] | None = None):
    """Split one ``build_training_corpus`` call into ``corpus.<stage>``
    spans. A stage starts at its parquet write and ends where the next
    stage's write starts; the writes, re-reads and footer counts inside it
    become ``spark.write`` / ``spark.read`` / ``spark.count`` child spans.
    The ``stats`` and ``stage_metrics`` tables, and the scratch cleanup
    after them, make up ``corpus.publish``.

    ``keep`` maps a stage name to a directory that receives hard links to
    that stage's files once written, so the stage can still be read after
    ``build_training_corpus`` deletes its scratch."""
    originals = (DataFrameWriter.parquet, DataFrameReader.parquet, DataFrame.count)
    current: list[int] = []

    def _enter_stage(path: str) -> None:
        stage = os.path.basename(str(path).rstrip("/"))
        if stage in ("stats", "stage_metrics"):
            stage = "publish"
        name = f"corpus.{stage}"
        if current and tracer.spans[current[0]]["name"] == name:
            return
        if current:
            tracer.leave(current.pop())
        current.append(tracer.enter(name))

    def write(self, path, *a, **k):
        _enter_stage(path)
        with tracer.span("spark.write"):
            originals[0](self, path, *a, **k)
        stage = os.path.basename(str(path).rstrip("/"))
        if keep and stage in keep:
            shutil.copytree(path, keep[stage], copy_function=os.link, dirs_exist_ok=True)

    def read(self, *paths, **k):
        with tracer.span("spark.read"):
            return originals[1](self, *paths, **k)

    def count(self):
        with tracer.span("spark.count"):
            return originals[2](self)

    DataFrameWriter.parquet, DataFrameReader.parquet, DataFrame.count = write, read, count
    try:
        yield
    finally:
        DataFrameWriter.parquet, DataFrameReader.parquet, DataFrame.count = originals
        if current:
            tracer.leave(current.pop())
