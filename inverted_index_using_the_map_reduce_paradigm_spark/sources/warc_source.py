"""A custom Spark 4 Python DataSource for WARC.gz archives.

`spark.read.format("warc").option("path", dir)` scans a directory of
`.warc.gz` files (the Common Crawl layout: one gzip member per WARC
record, concatenated) as a DataFrame.

Split model (the Avro byte-range pattern):
one InputPartition per archive file, PLUS byte-range splits inside
files larger than the split size, exactly Spark's own FilePartition
sizing rule — ``maxSplitBytes = min(maxPartitionBytes,
max(openCost, totalBytes / minPartitionNum))`` — so both shapes scale:
thousands of shards fan out one-split-per-file with no coordination,
and a directory of FEW large archives still fills the cluster.  A
range reader RESYNCS to the next gzip member boundary (magic scan +
trial decode — the member-per-record framing is exactly why WARC
supports this) and owns every member whose FIRST byte lies in its
range, so each record is read exactly once and a member straddling
``end`` still belongs to the range that contains its start.  A corrupt
member fails the read in either kind of split.

Member decode rides zlib: bulk bytes go to native code, since the
scan is the operator here.  Reading one member at a time from a file
(resync, byte-range ownership) is this module's own; the WARC/1.0
record parser is the one ``warc_gz_extract`` uses in
operators/multimodal.py.

The fixture builder (`build_warc_shards`) writes deterministic shards
from the documents parquet — driver-side scaffolding for tests and
oracles, not part of the operator; in production the archives already
exist on distributed storage.
"""

from __future__ import annotations

import hashlib
import os
import sys
from typing import TYPE_CHECKING, Iterator

from pyspark import cloudpickle
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

# module-level so cloudpickle ships these by value with the reader
# (workers import nothing package-relative at read time)
from ..operators.multimodal import (  # noqa: E402
    _parse_warc_record,
    encode_warc_gz,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.types import StructType

# Python data sources are pickled to executors; ship by value like the
# other UDF-bearing modules so workers need no package install.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

WARC_SCHEMA_DDL = (
    "shard string, doc_id bigint, target_uri string,"
    " payload_len bigint, payload_sha string"
)
# .option("body", "true") appends the decoded record body — the column
# the html_extract tier consumes; off by default so the metadata-only
# scan never pays body decode/transfer for queries that don't read it.
WARC_BODY_DDL = WARC_SCHEMA_DDL + ", body string"
N_SHARDS = 8


def _want_body(options: dict) -> bool:
    return str(options.get("body", "false")).lower() == "true"


class WarcShardPartition(InputPartition):
    def __init__(self, path: str, start: int = 0, end: int | None = None) -> None:
        self.path = path
        self.start = start
        self.end = end  # None == end of file


_GZ_MAGIC = b"\x1f\x8b\x08"  # magic + CM=deflate
_READ_CHUNK = 1 << 20
_FEED = 1 << 16

# Spark FilePartition sizing defaults, scaled for a Python source: the
# open cost floors the split so thousands of small shards still plan
# one split per file rather than sub-file confetti.
_DEFAULT_SPLIT_MIB = 32.0
_OPEN_COST_BYTES = 64 << 10


def _iter_member_range(path: str, start: int, end: int | None):
    """Yield ``(offset, inflated_bytes)`` for every gzip member whose
    FIRST byte lies in ``[start, end)`` of the multi-member archive at
    ``path``.  ``start > 0`` resyncs: scan for the gzip magic and
    confirm a candidate by decoding the whole member (zlib verifies
    CRC-32 + ISIZE), which is then yielded as the range's first member.
    A failed candidate is a false magic hit inside compressed bytes,
    unless its first inflated bytes read ``WARC/``: then it is a real
    record whose member is corrupt, and the read raises, as a
    whole-file read does.  A member straddling ``end`` is decoded to
    completion — it belongs to the range that contains its start, the
    same ownership rule as Avro/Hadoop range readers, so consecutive
    ranges partition the record stream exactly.  The file is read
    forward once, in ``_READ_CHUNK`` pieces."""
    import zlib

    with open(path, "rb") as fh:
        size = os.fstat(fh.fileno()).st_size
        limit = size if end is None else min(end, size)
        pos, buf, off = start, b"", 0
        if start > 0:  # resync to the first member boundary at/after start
            fh.seek(start)
            window = fh.read(limit - start + len(_GZ_MAGIC) - 1)
            hit = window.find(_GZ_MAGIC)
            while True:
                if hit < 0 or start + hit >= limit:
                    return  # no member starts in this range
                pos = start + hit
                fh.seek(start + len(window))
                try:
                    member, used, buf, off = _inflate_member(fh, window, hit)
                    break
                except (zlib.error, ValueError) as err:
                    fh.seek(pos)
                    try:
                        head = zlib.decompressobj(wbits=31).decompress(
                            fh.read(_FEED), 5
                        )
                    except zlib.error:
                        head = b""
                    if head == b"WARC/":
                        raise ValueError(
                            f"corrupt gzip member at offset {pos} of {path}"
                        ) from err
                hit = window.find(_GZ_MAGIC, hit + 1)
            yield pos, member
            pos += used
        while pos < limit:
            try:
                member, used, buf, off = _inflate_member(fh, buf, off)
            except (zlib.error, ValueError) as err:
                raise ValueError(
                    f"corrupt gzip member at offset {pos} of {path}"
                ) from err
            yield pos, member
            pos += used


def _inflate_member(fh, buf: bytes, off: int) -> tuple[bytes, int, bytes, int]:
    """Inflate the gzip member starting at ``buf[off]``, reading on from
    ``fh`` (positioned right after ``buf``) as needed.  Returns the
    inflated bytes, the member's length, and the buffer and offset of
    the bytes that follow it.  zlib is fed at most ``_FEED`` bytes at a
    time, so the copy it makes of the bytes past a member stays small."""
    import zlib

    d = zlib.decompressobj(wbits=31)
    parts = []
    used = 0
    while not d.eof:
        if off >= len(buf):
            buf, off = fh.read(_READ_CHUNK), 0
            if not buf:
                raise ValueError("truncated gzip member")
        piece = memoryview(buf)[off : off + _FEED]
        parts.append(d.decompress(piece))
        n = len(piece) - len(d.unused_data)
        off += n
        used += n
    return b"".join(parts), used, buf, off


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("warc source requires .option('path', dir)")
        self.dir = path
        self.with_body = _want_body(options)
        self.split_bytes = int(
            float(options.get("split_mib", str(_DEFAULT_SPLIT_MIB))) * (1 << 20)
        )
        # default resolved lazily in partitions() — driver-side only;
        # the stream path constructs readers on workers, which must not
        # import package-relative modules (shipped by value)
        mp = options.get("min_partitions")
        self.min_partitions = max(int(mp), 1) if mp is not None else None

    def partitions(self):
        """One split per archive, plus byte-range splits inside files
        larger than the effective split size — Spark's FilePartition
        sizing (min(maxPartitionBytes, max(openCost,
        total/minPartitionNum))), so few-large-archive directories
        still fan out across every core."""
        files = sorted(
            f for f in os.listdir(self.dir) if f.endswith(".warc.gz")
        )
        if not files:
            raise ValueError(f"no .warc.gz files under {self.dir}")
        paths = [os.path.join(self.dir, f) for f in files]
        sizes = {p: os.path.getsize(p) for p in paths}
        total = sum(sizes.values())
        mp = self.min_partitions
        if mp is None:
            # session.cpu_count() inlined: partition planning for a
            # Python data source runs in a plan worker where
            # package-relative imports do not resolve (this module
            # ships by value)
            mp = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
        split = min(
            self.split_bytes,
            max(_OPEN_COST_BYTES, total // mp),
        )
        parts: list[WarcShardPartition] = []
        for p in paths:
            size = sizes[p]
            if size <= split:
                parts.append(WarcShardPartition(p))
                continue
            lo = 0
            while lo < size:
                hi = min(lo + split, size)
                parts.append(WarcShardPartition(p, lo, hi))
                lo = hi
        return parts

    def read(self, partition: WarcShardPartition):
        shard = os.path.basename(partition.path)
        start = getattr(partition, "start", 0) or 0
        end = getattr(partition, "end", None)
        for _off, member in _iter_member_range(partition.path, start, end):
            headers, body = _parse_warc_record(member)
            if headers.get("WARC-Type") != "response":
                continue  # warcinfo and request records carry no doc
            rid = headers["WARC-Record-ID"]
            doc_id = int(rid.rsplit("-", 1)[1].rstrip(">"))
            row = (
                shard,
                doc_id,
                headers.get("WARC-Target-URI", ""),
                len(body),
                hashlib.sha256(body).hexdigest(),
            )
            yield row + (body.decode("utf-8"),) if self.with_body else row


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> str:
        return WARC_BODY_DDL if _want_body(self.options) else WARC_SCHEMA_DDL

    def reader(self, schema: "StructType") -> WarcReader:
        return WarcReader(self.options)

    def streamReader(self, schema: "StructType") -> "WarcStreamReader":
        return WarcStreamReader(self.options)

    def streamWriter(self, schema: "StructType", overwrite: bool):
        return WarcStreamWriter(self.options)


def build_warc_shards(sf_dir: str, out_dir: str, wrap=None) -> str:
    """Deterministic test scaffolding: shard the documents table into
    N_SHARDS `.warc.gz` files (shard = doc_id % N_SHARDS, records in
    doc_id order, one warcinfo + one response member per doc group,
    mtime pinned to 0).  Idempotent: each file is written to a temp
    name and atomically renamed.  ``wrap`` optionally transforms each
    record body from the raw text (e.g. the HTML page template), so
    payload-shape variants share one builder."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    tbl = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    docs = sorted(
        zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    )
    shards: dict[int, bytearray] = {k: bytearray() for k in range(N_SHARDS)}
    for doc_id, text in docs:
        body = wrap(doc_id, text) if wrap is not None else text
        shards[doc_id % N_SHARDS] += encode_warc_gz(doc_id, body)
    for k, buf in shards.items():
        final = os.path.join(out_dir, f"shard-{k}.warc.gz")
        tmp = final + f".tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(bytes(buf))
        os.replace(tmp, final)
    return out_dir


class WarcStreamReader(DataSourceStreamReader):
    """Streaming form — the FileStreamSource model: the OFFSET is the
    count of (sorted) archive files ingested so far; each micro-batch
    plans one InputPartition per newly arrived shard, so record decode
    runs on executors and a batch's work fans out across new files.
    Exactly-once is offset-based: a shard is in precisely one batch's
    [start, end) file range, and replays after failure re-plan the
    same range from the checkpointed offset."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("warc stream source requires .option('path', dir)")
        self.dir = path

    def _files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.dir) if f.endswith(".warc.gz")
        )

    def initialOffset(self) -> dict:
        return {"n_files": 0}

    def latestOffset(self) -> dict:
        return {"n_files": len(self._files())}

    def partitions(self, start: dict, end: dict):
        files = self._files()
        return [
            WarcShardPartition(os.path.join(self.dir, f))
            for f in files[start["n_files"] : end["n_files"]]
        ]

    def read(self, partition: WarcShardPartition):
        yield from WarcReader({"path": self.dir}).read(partition)

    def commit(self, end: dict) -> None:
        pass  # source files are immutable; nothing to clean up

    def stop(self) -> None:
        pass


class WarcCommitMessage(WriterCommitMessage):
    def __init__(self, files: list[str]) -> None:
        self.files = files


class WarcStreamWriter(DataSourceStreamWriter):
    """Streaming WARC sink: each task writes its partition's documents
    as one `.warc.gz` shard named `part-<pid>-<min_doc_id>.warc.gz`
    (content-derived, so a replayed task atomically re-renames over
    ITS OWN shard — idempotent under retries), and `commit` records
    the batch's shard list in a `_manifest-<batchId>` marker, the
    two-phase layout that keeps partial batches invisible to readers
    that honor manifests.  Input schema: (doc_id bigint, text
    string)."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("warc sink requires .option('path', dir)")
        self.dir = path
        os.makedirs(path, exist_ok=True)

    def write(self, iterator: "Iterator") -> WarcCommitMessage:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        buf = bytearray()
        n = 0
        min_doc = None
        for row in iterator:
            buf += encode_warc_gz(row.doc_id, row.text)
            n += 1
            if min_doc is None or row.doc_id < min_doc:
                min_doc = row.doc_id
        if n == 0:
            return WarcCommitMessage([])
        name = f"part-{pid}-{min_doc}.warc.gz"
        final = os.path.join(self.dir, name)
        tmp = final + f".tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(bytes(buf))
        os.replace(tmp, final)
        return WarcCommitMessage([name])

    def commit(self, messages, batchId=None) -> None:
        files = sorted(f for m in messages if m for f in m.files)
        bid = batchId if batchId is not None else "x"
        marker = os.path.join(self.dir, f"_manifest-{bid}")
        tmp = marker + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write("\n".join(files))
        os.replace(tmp, marker)

    def abort(self, messages, batchId=None) -> None:
        pass  # un-manifested shards are invisible to manifest readers
