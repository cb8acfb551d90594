"""Python DataSource API implementations: a batch key/value log reader,
a bounded counter stream, a key/value log sink and a two-phase-commit
streaming file sink."""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


# --------------------------------------------------------------------
# Python DataSource API
# --------------------------------------------------------------------

class _KVFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class KVLogReader(DataSourceReader):
    """Reader for the ';'-delimited key=value log format: one input
    partition PER FILE (the distributed-read contract — on a cluster
    each partition is read by a different task), parsing each line
    into (event_id, user_id, cents)."""

    def __init__(self, options):
        self.dir = options["path"]

    def partitions(self):
        return [
            _KVFilePartition(os.path.join(self.dir, f))
            for f in sorted(os.listdir(self.dir))
            if f.endswith(".txt")
        ]

    def read(self, partition):
        with open(partition.path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                kv = dict(p.split("=", 1) for p in line.split(";"))
                yield (int(kv["e"]), int(kv["u"]), int(kv["c"]))


class KVLogSource(DataSource):
    """Spark 4.0 Python DataSource for the kv-log format (cites the
    public pyspark.sql.datasource API)."""

    @classmethod
    def name(cls) -> str:
        return "kvlog"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, cents bigint"

    def reader(self, schema):
        return KVLogReader(self.options)


#: bounded counter-stream extent and micro-batch step (coprime-ish so
#: the last batch is ragged — the offset bookkeeping edge case).
PYSTREAM_N = 1000
PYSTREAM_STEP = 170


class CounterStreamReader(SimpleDataSourceStreamReader):
    """Deterministic bounded counter stream: each ``read`` call
    returns the next [start, start+step) slice and the advanced
    offset; past N it returns an empty slice with an unchanged
    offset (= 'no data available'). The ENGINE persists offsets
    between micro-batches — exactly the contract a Kafka-like custom
    source implements."""

    def __init__(self, n: int, step: int):
        self.n, self.step = n, step

    def initialOffset(self):
        return {"v": 0}

    def read(self, start):
        s = start["v"]
        if s >= self.n:
            return iter([]), {"v": s}
        e = min(s + self.step, self.n)
        return iter([(i, i * i) for i in range(s, e)]), {"v": e}


class CounterStreamSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pycounterstream"

    def schema(self) -> str:
        return "i bigint, sq bigint"

    def simpleStreamReader(self, schema):
        return CounterStreamReader(
            int(self.options.get("n", PYSTREAM_N)),
            int(self.options.get("step", PYSTREAM_STEP)),
        )


# --------------------------------------------------------------------
# Python DataSource writer
# --------------------------------------------------------------------

class KVLogWriter(DataSourceWriter):
    """Executor-side writer for the kv-log format: each task writes
    its partition to one file and returns a commit message to the
    driver (the two-phase commit hook custom sinks implement)."""

    def __init__(self, options):
        self.path = options["path"]

    def write(self, it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.path, exist_ok=True)
        fn = os.path.join(self.path, f"part-{pid:05d}.txt")
        with open(fn, "w", encoding="utf-8") as fh:
            for row in it:
                fh.write(
                    f"e={row.event_id};u={row.user_id};c={row.cents}\n"
                )
        return WriterCommitMessage()


class KVLogSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "kvlogsink"

    def writer(self, schema, overwrite):
        return KVLogWriter(self.options)


class _SinkCommit(WriterCommitMessage):
    def __init__(self, pid: int, tmp: str):
        self.pid = pid
        self.tmp = tmp


class TwoPhaseFileStreamWriter(DataSourceStreamWriter):
    """Executor tasks write to temp files; only the driver's commit
    renames them into the visible namespace. Task retries leave
    orphan temps (cleaned by the next query run), never duplicate
    visible data — the exactly-once custom-sink recipe."""

    def __init__(self, options):
        self.path = options["path"]

    def write(self, it):
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in it:
                fh.write(f"{row.i},{row.sq}\n")
        return _SinkCommit(ctx.partitionId(), tmp)

    def commit(self, messages, batchId):
        for m in messages:
            final = os.path.join(
                self.path, f"b{batchId:05d}-p{m.pid:05d}.txt"
            )
            os.replace(m.tmp, final)

    def abort(self, messages, batchId):
        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


class TwoPhaseFileSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "twophasefilesink"

    def streamWriter(self, schema, overwrite):
        return TwoPhaseFileStreamWriter(self.options)
