"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API):
a deterministic synthetic documents source with real partition
parallelism and real filter pushdown.

Why it exists: the engine's source surface (CSV/Parquet/ORC/JSONL)
covers files; this demonstrates the remaining source family — a
PROGRAMMATIC source that plugs into the scan layer itself, the Spark-4
native way to wrap an external system (an API, a key-value store, a
proprietary format) without JVM code. The generated corpus is pure
arithmetic on ``doc_id`` (the round-4 stress generator formula), so an
external SQL oracle can regenerate every row — the source is
value-checkable end to end, like every other operator here.

Scale design:

* ``partitions()`` splits the id range into ``n_partitions`` row
  ranges — each executor core generates its slice independently, no
  driver materialization;
* ``pushFilters`` accepts ``doc_id`` comparisons (>, >=, <, <=, =)
  and NARROWS THE ID RANGE before generation, so a filtered scan
  generates only the surviving slice (the custom-source analogue of
  parquet partition pruning); all other filters are returned to Spark
  to evaluate;
* rows stream from a generator — O(1) memory per partition.

PUSHDOWN SHARING HAZARD (applies to ANY pushdown-capable Python data
source, both sources here): Spark plans a Python-source scan ONCE per
relation (one ``load()`` call) and shares the planned partitions across
every scan site of that relation — including differently-filtered
branches of the SAME query. If one branch's ``vec_id < k`` pushes a
narrowed range, the other branch reads the narrowed range too (verified
on Spark 4.1: an unfiltered self-join branch silently inherited the
filtered branch's 4-row range). Rule: derive differently-filtered scans
from SEPARATE ``load()`` calls; one relation = one pushed filter set.
``test_synthvecs_source_and_ivf_topk_arrow_parity`` pins the safe
pattern (and asserts the unfiltered relation stayed un-narrowed).
"""

from __future__ import annotations

from collections.abc import Iterator

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    WriterCommitMessage,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)

_WORDS = [
    "spark", "window", "merge", "join", "table", "scan", "filter",
    "group", "sort", "data", "key", "row", "batch", "stream", "agg",
    "line", "value", "hash", "part", "query",
]

_SOURCES = ["web", "wiki", "code"]


def synth_text(doc_id: int, n_tokens: int = 40) -> str:
    """The deterministic document body: token i of doc d is
    ``WORDS[(d * 31 + i * 7) % 20]`` — reproducible by any engine
    with integer arithmetic (the SQL oracle regenerates it)."""
    return " ".join(
        _WORDS[(doc_id * 31 + i * 7) % len(_WORDS)] for i in range(1, n_tokens + 1)
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SynthDocsReader(DataSourceReader):
    def __init__(self, options):
        self.n_docs = int(options.get("n_docs", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self.n_tokens = int(options.get("n_tokens", 40))
        self.lo = 0
        self.hi = self.n_docs  # exclusive

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == ("doc_id",):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
            yield f  # not handled -> Spark evaluates it

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        n = max(1, self.n_partitions)
        span = max(1, (hi - lo + n - 1) // n)
        parts = []
        s = lo
        while s < hi:
            parts.append(_RangePartition(s, min(s + span, hi)))
            s += span
        return parts or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        for d in range(partition.start, partition.end):
            yield (d, _SOURCES[d % len(_SOURCES)], synth_text(d, self.n_tokens))


class SynthDocsDataSource(DataSource):
    """``spark.read.format("synthdocs").option("n_docs", N).load()``
    after ``spark.dataSource.register(SynthDocsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "synthdocs"

    def schema(self) -> str:
        return "doc_id bigint, source string, text string"

    def reader(self, schema) -> SynthDocsReader:
        return SynthDocsReader(self.options)

    def simpleStreamReader(self, schema) -> "SynthDocsStreamReader":
        return SynthDocsStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "JsonlCommitWriter":
        return JsonlCommitWriter(self.options, schema)


class SynthVecsReader(DataSourceReader):
    """Partitioned deterministic embedding generator (the corpus the
    1M x 64d ANN bench reads -- ``bench.py`` ``ann_1m``).  ``read``
    yields pyarrow RecordBatches built from vectorized numpy, so a
    1M-row scan is a few array ops per partition instead of 64M Python
    float constructions.

    Vectors live on ``n_clusters`` integer cluster centers with a
    per-(id, dim) graded jitter (Knuth multiplicative hash over a prime
    modulus, so no two vectors are byte-identical -- exact duplicates
    would make top-k ties arbitrary and recall@k meaningless):

        c = vec_id % n_clusters
        base(c, d)   = ((c*37 + d*11) % 17) - 8
        jit(id, d)   = (((id*2654435761 + d*40503) % 1009) - 504) / 1680
        v(id, d)     = base + jit     (stored float32, |jit| <= 0.3)

    so any engine reproduces every vector by integer arithmetic."""

    def __init__(self, options):
        self.n_vecs = int(options.get("n_vecs", 100_000))
        self.dim = int(options.get("dim", 64))
        self.n_clusters = int(options.get("n_clusters", 64))
        self.n_partitions = int(options.get("n_partitions", 32))
        self.lo = 0
        self.hi = self.n_vecs  # exclusive

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # vec_id range comparisons narrow generation, same contract as
        # SynthDocsReader.pushFilters (a probe slice of a 10^9-vector
        # source generates only the slice)
        for f in filters:
            if getattr(f, "attribute", None) == ("vec_id",):
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
            yield f

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        n = max(1, self.n_partitions)
        span = max(1, (hi - lo + n - 1) // n)
        return [
            _RangePartition(s, min(s + span, hi)) for s in range(lo, hi, span)
        ] or [_RangePartition(0, 0)]

    def read(self, partition: _RangePartition):
        import numpy as np
        import pyarrow as pa

        ids = np.arange(partition.start, partition.end, dtype=np.int64)
        if len(ids) == 0:
            return
        d = np.arange(self.dim, dtype=np.int64)
        c = ids % self.n_clusters
        base = ((c[:, None] * 37 + d[None, :] * 11) % 17) - 8
        jit = (((ids[:, None] * 2654435761 + d[None, :] * 40503) % 1009) - 504) / 1680.0
        vecs = (base + jit).astype(np.float32)
        emb = pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), self.dim
        ).cast(pa.list_(pa.float32()))
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), emb], names=["vec_id", "embedding"]
        )


class SynthVecsDataSource(DataSource):
    """``spark.read.format("synthvecs").option("n_vecs", N)
    .option("dim", 64).load()`` after ``register(spark)``."""

    @classmethod
    def name(cls) -> str:
        return "synthvecs"

    def schema(self) -> str:
        return "vec_id bigint, embedding array<float>"

    def reader(self, schema) -> SynthVecsReader:
        return SynthVecsReader(self.options)


def register(spark) -> None:
    """Register the sources and enable Python filter pushdown (off by
    default in Spark 4.1; runtime-settable)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SynthDocsDataSource)
    spark.dataSource.register(SynthVecsDataSource)


class SynthDocsStreamReader(SimpleDataSourceStreamReader):
    """Bounded micro-batch stream over the same corpus: each batch
    emits the next ``batch_size`` ids until ``n_docs`` is exhausted,
    with replayable offsets ({"next": i}), so a restarted query
    re-reads exactly the committed range (``readBetweenOffsets``).
    The simple-reader variant reads on the driver -- right for control
    streams and tests; the partitioned ``DataSourceStreamReader`` is
    the high-throughput form, same offset algebra."""

    def __init__(self, options):
        self.n_docs = int(options.get("n_docs", 1000))
        self.batch_size = int(options.get("batch_size", 100))
        self.n_tokens = int(options.get("n_tokens", 40))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def _rows(self, start: int, end: int):
        for d in range(start, end):
            yield (d, _SOURCES[d % len(_SOURCES)], synth_text(d, self.n_tokens))

    def read(self, start: dict):
        lo = int(start["next"])
        hi = min(lo + self.batch_size, self.n_docs)
        # iter() over a materialized list: the runner wants an
        # iterator, but a bare generator cannot pickle when the batch
        # is cached driver-side for replay
        return iter(list(self._rows(lo, hi))), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._rows(int(start["next"]), int(end["next"]))))


@dataclass
class _JsonlCommit(WriterCommitMessage):
    """One staged part file: (staged path, rows written)."""
    staged: str
    n_rows: int


class JsonlCommitWriter(DataSourceWriter):
    """JSONL writer with real two-phase commit: every task streams its
    partition into a per-JOB staging subdirectory
    (``_staging_<job>/<task>.jsonl``) and returns a commit message;
    the driver's ``commit`` renames the staged files into place as
    ``part_<job>_<task>.jsonl``, writes a per-job
    ``_manifest_<job>.json``, and rebuilds ``_SUCCESS`` as the UNION
    of all per-job manifests (so appended jobs accumulate instead of
    overwriting each other's part lists), while ``abort`` removes the
    whole staging directory -- so a failed job leaves NO visible
    output (the atomicity contract DataFrameWriter gives parquet,
    reproduced for a hand-rolled format). Rows stream through; O(1)
    memory per task.

    Concurrency + straggler safety (round-6 design, replacing the
    flat ``_tmp_`` sweep): the staging namespace is the job id, so
    concurrent append jobs into one directory cannot touch each
    other's in-flight files; underscore-prefixed names keep staging
    invisible to Spark/glob readers of the output. A straggler task
    that is still writing when the driver aborts either writes into
    the already-unlinked directory (orphaned inode, freed on close)
    or trips over the TOMBSTONE file commit/abort leave at the
    staging path -- its ``makedirs`` raises, so no stray file can
    materialize after teardown (the round-5 flat-sweep race)."""

    def __init__(self, options, schema):
        import uuid

        self.path = options.get("path")
        if not self.path:
            raise ValueError("jsonlcommit writer needs a path")
        self.fields = [f.name for f in schema.fields]
        self.job_id = uuid.uuid4().hex[:12]

    @property
    def _staging(self) -> str:
        import os

        return os.path.join(self.path, f"_staging_{self.job_id}")

    def write(self, iterator):
        import json as _json
        import os
        import uuid

        # raises if the tombstone file occupies the staging path --
        # exactly what a post-abort straggler should do
        os.makedirs(self._staging, exist_ok=True)
        staged = os.path.join(self._staging, f"{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(_json.dumps({k: row[k] for k in self.fields}) + "\n")
                n += 1
        return _JsonlCommit(staged=staged, n_rows=n)

    def _teardown_staging(self) -> None:
        """Remove the staging dir and leave a tombstone FILE at its
        path so a straggler task's makedirs fails instead of
        recreating it.

        Retry loop, not one retry: on a 32-thread local master an
        aborted job can have SEVERAL stragglers entering ``write``'s
        ``makedirs`` while teardown runs, and each one that wins the
        rmtree->tombstone gap resurrects the directory (measured 7/20
        aborted jobs with a single retry).  Loop until the tombstone
        is durably a FILE -- after that, every later ``makedirs``
        raises FileExistsError and no stray staging dir can outlive
        the job.  Bounded at 50 x 10 ms; if it still cannot land the
        leftovers are underscore-hidden from readers."""
        import os
        import shutil
        import time

        for _ in range(50):
            shutil.rmtree(self._staging, ignore_errors=True)
            try:
                with open(self._staging, "x"):
                    pass
                return
            except FileExistsError:
                if os.path.isfile(self._staging):
                    return  # tombstone already in place
                # a straggler's makedirs won the gap: clear and retry
            except (IsADirectoryError, NotADirectoryError, OSError):
                pass
            time.sleep(0.01)

    def commit(self, messages):
        import json as _json
        import os

        manifest = []
        for m in messages:
            if m is None:
                continue
            # job_id stays in the final name (part_<job>_<task>),
            # keeping concurrent jobs' parts collision-free
            final = os.path.join(
                self.path, f"part_{self.job_id}_" + os.path.basename(m.staged)
            )
            os.rename(m.staged, final)
            manifest.append({"file": os.path.basename(final), "n_rows": m.n_rows})
        self._teardown_staging()
        # Per-JOB manifest + aggregated _SUCCESS (ADVICE r6): the old
        # code overwrote _SUCCESS with only THIS job's parts, so after
        # a second append job the manifest undercounted the directory.
        # Each job now writes its own _manifest_<job>.json atomically
        # (tmp + rename), and _SUCCESS is rebuilt as the union of all
        # per-job manifests present. Two jobs racing the rebuild each
        # write a _SUCCESS that is a superset of their own parts, and
        # the per-job manifests stay the authoritative record either
        # way; both names are underscore-prefixed, so Spark/glob
        # readers of the data never see them.
        own = os.path.join(self.path, f"_manifest_{self.job_id}.json")
        tmp = own + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump({"job_id": self.job_id, "parts": manifest}, fh)
        os.replace(tmp, own)
        parts = []
        for name in sorted(os.listdir(self.path)):
            if name.startswith("_manifest_") and name.endswith(".json"):
                with open(os.path.join(self.path, name)) as fh:
                    parts.extend(_json.load(fh)["parts"])
        tmp = os.path.join(self.path, "_SUCCESS.tmp")
        with open(tmp, "w") as fh:
            _json.dump({"parts": parts}, fh)
        os.replace(tmp, os.path.join(self.path, "_SUCCESS"))

    def abort(self, messages):
        self._teardown_staging()
