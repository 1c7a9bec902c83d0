"""Spark 4 Python DataSource: the reference's synthetic phrase
generator (`/root/reference/src/data_generator.py:5-21` — row id,
parity speaker, deterministic duration) as a first-class PLUGGABLE
source instead of a `spark.range` expression.

Why this exists: the reference's "source" is an imperative Python loop.
The idiomatic Spark 4 translation of *that kind* of source — anything
generated or fetched by Python code — is the ``pyspark.sql.datasource``
API: the engine plans it like any other relation (it has a schema,
partitions, and per-partition readers that execute ON THE EXECUTORS),
so generation is distributed, not a driver-side collect-and-
parallelize.

Scale notes: ``partitions()`` splits the id range into contiguous
chunks, so a 10^9-row synthetic corpus generates in parallel across the
cluster with zero shuffle and zero driver memory; each executor
materializes only its own range. Arrow batching applies (the reader
yields plain tuples; Spark batches them).

Implementation note: the DataSource classes are defined INSIDE
``make_segments_datasource`` so cloudpickle serializes them BY VALUE —
executors never need this repo on their import path (a by-reference
pickle would require PYTHONPATH alignment on every Python worker)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from big_data_audio_classification_spark.registry import query

N_ROWS = 500
N_PARTS = 8


def make_segments_datasource():
    """Build the DataSource class in local scope (by-value pickling —
    see module docstring)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class SegmentsReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", N_ROWS))
            self.parts = int(options.get("partitions", N_PARTS))

        def partitions(self):
            step = max(1, -(-self.n // self.parts))
            return [
                _RangePartition(s, min(s + step, self.n))
                for s in range(0, self.n, step)
            ]

        def read(self, partition):
            # Runs on an executor; generates only this partition's range.
            for i in range(partition.start, partition.end):
                speaker = "Male" if i % 2 == 0 else "Female"
                yield (i, speaker, float((i * 7) % 8 + 2))

    class SegmentsDataSource(DataSource):
        """``spark.read.format("ref_segments")`` — deterministic labeled
        phrase rows (id, speaker, dur), the same arithmetic as
        ``reference_pipeline.segments``."""

        @classmethod
        def name(cls) -> str:
            return "ref_segments"

        def schema(self) -> str:
            return "id bigint, speaker string, dur double"

        def reader(self, schema) -> SegmentsReader:
            return SegmentsReader(self.options)

    return SegmentsDataSource


@query(
    "source_python_datasource",
    oracle=f"""
        SELECT speaker,
               COUNT(*)            AS n_phrases,
               SUM(dur)            AS total_seconds,
               ROUND(AVG(dur), 6)  AS avg_seconds
        FROM (
            SELECT CASE WHEN range % 2 = 0 THEN 'Male' ELSE 'Female' END
                       AS speaker,
                   CAST((range * 7) % 8 + 2 AS DOUBLE) AS dur
            FROM range({N_ROWS})
        )
        GROUP BY speaker
    """,
    tags=("source", "python-datasource", "reference"),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register the custom Python data source and aggregate its output —
    proving the rows arrive partition-parallel with the declared schema.
    The aggregate is partition-order-independent by design."""
    spark.dataSource.register(make_segments_datasource())
    df = spark.read.format("ref_segments").option("n", N_ROWS).load()
    return df.groupBy("speaker").agg(
        F.count(F.lit(1)).alias("n_phrases"),
        F.sum("dur").alias("total_seconds"),
        F.round(F.avg("dur"), 6).alias("avg_seconds"),
    )


TICK_CHUNK = 50
TICK_MAX = 200


def make_ticks_stream_datasource():
    """Spark 4 STREAMING Python DataSource: a deterministic tick stream
    (id, value) emitted in micro-batched chunks via offset bookkeeping —
    the streaming sibling of the batch phrase source above, covering
    ``DataSourceStreamReader`` (initialOffset / latestOffset /
    partitions(start, end) / read / commit).

    Offsets advance one chunk per poll and cap at TICK_MAX, so
    ``processAllAvailable`` drains to a fixed, checkable row set; each
    micro-batch's range is split across executors like the batch
    reader. Defined in local scope for by-value pickling (see module
    docstring)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int):
            self.start = start
            self.end = end

    class TicksStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.chunk = int(options.get("chunk", TICK_CHUNK))
            self.max = int(options.get("max", TICK_MAX))
            self.cur = 0

        def initialOffset(self):
            return {"offset": 0}

        def latestOffset(self):
            # self.cur is monotonic and re-seeded from every offset
            # Spark hands back (partitions/commit), so after a
            # checkpoint restart — when a fresh reader instance starts
            # at cur=0 but the log's committed offset is ahead — the
            # reader catches back up to the committed start instead of
            # returning an offset behind it (restart contract).
            self.cur = min(self.cur + self.chunk, self.max)
            return {"offset": self.cur}

        def partitions(self, start, end):
            s, e = start["offset"], end["offset"]
            # re-seed monotonic progress from the engine's own range
            # (covers restart, where start comes from the offset log)
            self.cur = max(self.cur, s, e)
            if e < s:  # stale post-restart latestOffset: empty batch
                e = s
            mid = (s + e) // 2
            return [_RangePartition(s, mid), _RangePartition(mid, e)]

        def read(self, partition):
            for i in range(partition.start, partition.end):
                yield (i, float((i * 3) % 17))

        def commit(self, end):
            self.cur = max(self.cur, end["offset"])

    class TicksStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "ticks_stream"

        def schema(self) -> str:
            return "tick_id bigint, val double"

        def streamReader(self, schema):
            return TicksStreamReader(self.options)

    return TicksStreamDataSource


def make_jsonl_sink_datasource():
    """Python DataSource with a batch WRITER (Spark 4
    ``DataSourceWriter``): executor-parallel JSON-lines sink. Each task
    streams its partition's rows to one part file and returns a
    ``WriterCommitMessage``; the driver sees all commit messages at
    once, which is where a transactional sink would publish a manifest
    (the two-phase-commit hook this exemplar keeps minimal)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Commit(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class JsonlWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            import json
            import os
            import uuid

            fn = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(fn, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict(), default=str) + "\n")
                    n += 1
            return _Commit(fn, n)

    class JsonlSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_sink"

        def writer(self, schema, overwrite: bool):
            return JsonlWriter(self.options)

    return JsonlSinkDataSource


@query(
    "sink_python_datasource_roundtrip",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               ROUND(o_totalprice, 2) AS total
        FROM orders
    """,
    tags=("sink", "python-datasource", "jsonl", "orders"),
)
def sink_python_datasource_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write-path counterpart of ``source_python_datasource``: project
    orders, WRITE through the pluggable Python JSON-lines sink
    (executor-parallel ``DataSourceWriter.write`` per partition), read
    the emitted files back with the native JSON reader, and return the
    roundtripped rows — proving the custom write path is lossless
    (doubles survive via repr-exact JSON serialization).

    Scale: writes are embarrassingly parallel (one file per task, no
    coordination until the driver-side commit-message fan-in); the
    read-back is a normal distributed JSON scan with an explicit
    schema."""
    import tempfile

    from big_data_audio_classification_spark.scratch import SCRATCH_DIR
    from big_data_audio_classification_spark.sources.catalog import load_table

    spark.dataSource.register(make_jsonl_sink_datasource())
    out_dir = tempfile.mkdtemp(prefix="jsonl_sink_", dir=SCRATCH_DIR)
    proj = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total"),
    )
    proj.write.format("jsonl_sink").option("path", out_dir).mode(
        "append"
    ).save()
    return spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, total double"
    ).json(out_dir)


def make_jsonl_stream_sink_datasource():
    """Pluggable Python STREAMING sink (Spark 4
    ``DataSourceStreamWriter``), completing the Python DataSource API
    matrix: batch reader (``segments``), batch writer (``jsonl_sink``),
    stream reader (``ticks``), and now the stream writer.

    Two-phase per micro-batch: executors stream their partition's rows
    to STAGED ``.tmp`` part files and return commit messages; the
    driver's ``commit(messages, batchId)`` promotes the staged files to
    batch-id-stamped finals, and ``abort`` deletes them — so a failed
    or replayed batch never leaks half-written files into the visible
    set, and replays of a committed batch id are detectable by name.
    Readers consume only ``batch-*.jsonl`` finals."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _StagedPart(WriterCommitMessage):
        def __init__(self, path: str, n_rows: int):
            self.path = path
            self.n_rows = n_rows

    class JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            fn = _os.path.join(
                self.path, f"staged-{_uuid.uuid4().hex}.jsonl.tmp"
            )
            n = 0
            with open(fn, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict(), default=str) + "\n")
                    n += 1
            return _StagedPart(fn, n)

        def commit(self, messages, batchId) -> None:
            for i, m in enumerate(messages):
                if m is None:
                    continue
                final = _os.path.join(
                    self.path, f"batch-{batchId}-{i:05d}.jsonl"
                )
                _os.rename(m.path, final)

        def abort(self, messages, batchId) -> None:
            for m in messages:
                if m is not None and _os.path.exists(m.path):
                    _os.remove(m.path)

    class JsonlStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "jsonl_stream_sink"

        def streamWriter(self, schema, overwrite: bool):
            return JsonlStreamWriter(self.options)

    return JsonlStreamSinkDataSource
