"""In-memory spans around calls into the program's layers.

The program is not instrumented: the traced run swaps the public
functions `run_extract_job` calls (`plans.pipeline.committed_buckets`,
`plans.pipeline.heavy_conv_ids`, `DataFrameReader.parquet` and
`DataFrameWriter.parquet`) for wrappers that open a span, and puts the
originals back afterwards.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional

from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

from tool_documentsconverter_spark.plans import pipeline


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: int
    attrs: Dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Span] = []
        self._open: List[int] = []
        self.run_id = 0

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def children(self, root: Span) -> List[Span]:
        i = self.spans.index(root)
        return [s for s in self.spans if s.parent == i]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@contextlib.contextmanager
def traced_job(tracer: Tracer, output_path: str,
               lineage_path: str) -> Iterator[Span]:
    """A `job` span, with the job's layer calls recorded as its children:
    plans.resume_check, plans.sketch (attr heavy_keys), plans.write_action
    (scan + shuffle + Arrow stage + output write, one Spark action) and
    plans.lineage_commit (two spans: listing the written output, then
    the lineage write action)."""
    orig_committed = pipeline.committed_buckets
    orig_heavy = pipeline.heavy_conv_ids
    orig_read = DataFrameReader.parquet
    orig_write = DataFrameWriter.parquet
    names = {output_path: "plans.write_action",
             lineage_path: "plans.lineage_commit"}

    def committed_buckets(*a, **kw):
        with tracer.span("plans.resume_check"):
            return orig_committed(*a, **kw)

    def heavy_conv_ids(*a, **kw):
        with tracer.span("plans.sketch") as s:
            out = orig_heavy(*a, **kw)
            s.attrs["heavy_keys"] = len(out)
            return out

    def read(self, *paths, **kw):
        if paths != (output_path,):
            return orig_read(self, *paths, **kw)
        with tracer.span("plans.lineage_commit"):
            return orig_read(self, *paths, **kw)

    def write(self, path, *a, **kw):
        with tracer.span(names.get(path, "spark.write")):
            return orig_write(self, path, *a, **kw)

    tracer.run_id += 1
    pipeline.committed_buckets = committed_buckets
    pipeline.heavy_conv_ids = heavy_conv_ids
    DataFrameReader.parquet = read
    DataFrameWriter.parquet = write
    try:
        with tracer.span("job") as job:
            yield job
    finally:
        pipeline.committed_buckets = orig_committed
        pipeline.heavy_conv_ids = orig_heavy
        DataFrameReader.parquet = orig_read
        DataFrameWriter.parquet = orig_write
