"""WARC source connector — Common Crawl's container format.

A crawl pipeline's raw input is not parquet: it is WARC/1.0 files
(ISO 28500) — concatenated records, each a header block (CRLF lines,
terminated by an empty line) followed by Content-Length payload bytes
and a CRLF CRLF separator.  `response` records carry the fetched HTTP
response (status line + HTTP headers + body); the page bytes are the
body after the first CRLF CRLF of the payload.

Spark-first shape: `spark.read.format("binaryFile")` is used ONLY as
a distributed file LISTING — the scan is pruned to the `path` column,
so no file content ever crosses the JVM→Arrow boundary and the
format's 2 GB/file content cap never applies (the cap and the read
both live behind the content column).  Partition packing is still
weighted by file size, so ~1 GB crawl files land ONE TASK PER FILE,
which is the real-world parallelism unit (Common Crawl shards each
crawl into ~64k files of ~1 GB precisely so that file-level
parallelism saturates a cluster; a 100 TB crawl is ~10^5 tasks with
no further splitting needed).  Each task then OPENS its files and
STREAMS records through a bounded scanner (`_StreamScanner`: 64 KiB
refill buffer; gzip inflated member-by-member via a streaming
GzipFile), emitting PAGES_SCHEMA rows in chunks of
`WARC_CHUNK_RECORDS` — peak memory per task is ONE record plus one
chunk of parsed rows, never the file (and never the ~3× inflated
file the previous whole-file `gzip.decompress` shape paid).  Rows
feed the same extraction chain as the parquet path — the connector
is proven by byte-equality of the extraction output across the two
paths (tests/test_warc_source.py).

Robustness contract: malformed records (bad version line, missing or
non-integer Content-Length, truncated payload) are SKIPPED, never
raised — one corrupt record in a 1 GB file must not kill the file's
task.  Parsing is deterministic (no RNG/time/env), preserving the
job's byte-identical-replay contract.
"""

from __future__ import annotations

import datetime
import itertools
import re
from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..schema import PAGES_SCHEMA

_CRLF = b"\r\n"
_SEP = b"\r\n\r\n"


def write_warc(path: str, records: list[dict], gzip_members: bool = False) -> None:
    """Minimal WARC/1.0 writer (the test/fixture twin of read_warc).
    Each record: {"url", "ts" (datetime|None), "payload" (bytes),
    "warc_type" ("response" default), "http" (bool: wrap payload in a
    stock HTTP/1.1 200 header block)}.  gzip_members=True writes each
    record as its own gzip member — the Common Crawl .warc.gz layout."""
    import gzip

    with open(path, "wb") as f:
        for r in records:
            payload = r["payload"]
            if r.get("http"):
                payload = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                    b"Content-Length: " + str(len(payload)).encode() + _SEP
                    + payload
                )
            headers = [
                b"WARC/1.0",
                b"WARC-Type: " + r.get("warc_type", "response").encode(),
                b"WARC-Target-URI: " + r["url"].encode(),
            ]
            ts = r.get("ts")
            if ts is not None:
                headers.append(
                    b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode()
                )
            headers.append(b"Content-Length: " + str(len(payload)).encode())
            rec = _CRLF.join(headers) + _SEP + payload + _SEP
            f.write(gzip.compress(rec, mtime=0) if gzip_members else rec)


_HEADER_CAP = 1 << 20  # lost-framing guard: no sane WARC header block is 1 MiB
_SCAN_CHUNK = 64 << 10  # refill unit — the streaming reader's only fixed buffer

# Rows per Arrow batch emitted from a file task.  Bounds peak parsed-row
# memory to one chunk regardless of records-per-file; 64 pages × ~100 KB
# html ≈ 6 MB per emitted Arrow batch.
WARC_CHUNK_RECORDS = 64


class _StreamScanner:
    """Bounded-memory scanner over a binary stream: the WARC record
    loop needs exactly three reads — skip CR/LF padding, take the
    header block up to CRLF CRLF, take Content-Length payload bytes —
    and this keeps at most `_SCAN_CHUNK` of lookahead plus the bytes
    of the one value being returned.  Works identically over a plain
    file and a streaming GzipFile (member-by-member inflate)."""

    def __init__(self, fp):
        self._fp = fp
        self._buf = b""

    def _fill(self) -> bool:
        chunk = self._fp.read(_SCAN_CHUNK)
        if not chunk:
            return False
        self._buf += chunk
        return True

    def skip_padding(self) -> bool:
        """Consume inter-record CR/LF; False at clean EOF."""
        while True:
            i = 0
            while i < len(self._buf) and self._buf[i] in (0x0D, 0x0A):
                i += 1
            self._buf = self._buf[i:]
            if self._buf:
                return True
            if not self._fill():
                return False

    def read_header(self) -> bytes | None:
        """Bytes up to (and consuming) the next CRLF CRLF; None on
        EOF-before-separator or a block exceeding _HEADER_CAP."""
        searched = 0
        while True:
            j = self._buf.find(_SEP, max(0, searched - len(_SEP) + 1))
            if j >= 0:
                head, self._buf = self._buf[:j], self._buf[j + len(_SEP):]
                return head
            if len(self._buf) > _HEADER_CAP:
                return None
            searched = len(self._buf)
            if not self._fill():
                return None

    def read_exact(self, n: int) -> bytes | None:
        """Exactly n payload bytes, or None if the stream truncates.
        Remaining bytes are pulled straight from the file object into
        a parts list (no quadratic re-concatenation on large
        payloads)."""
        take = min(n, len(self._buf))
        parts = [self._buf[:take]]
        self._buf = self._buf[take:]
        got = take
        while got < n:
            chunk = self._fp.read(n - got)
            if not chunk:
                return None
            parts.append(chunk)
            got += len(chunk)
        return b"".join(parts)


def _iter_warc_stream(
    fp, want_type: bytes = b"response"
) -> Iterator[tuple[str, object, bytes]]:
    """Yield (url, warc_ts|None, payload_bytes) for every well-formed
    record of `want_type` read INCREMENTALLY from `fp`; skip
    everything malformed.  Inter-record CR/LF padding is tolerated
    (real WARCs use exactly CRLF CRLF; the WET sink's text-writer
    output inserts an extra LF per record).  Stop conditions mirror
    the robustness contract: lost framing (header block not starting
    WARC/ or over _HEADER_CAP), unparseable Content-Length, or a
    truncated payload all END the file quietly — records parsed
    before the damage survive, and nothing raises."""
    sc = _StreamScanner(fp)
    while True:
        if not sc.skip_padding():
            return
        head = sc.read_header()
        if head is None:
            return
        lines = head.split(_CRLF)
        if not lines or not lines[0].startswith(b"WARC/"):
            return  # lost framing: stop rather than misparse payload bytes
        hdr = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(b":")
            if sep:
                hdr[k.strip().lower()] = v.strip()
        try:
            length = int(hdr.get(b"content-length", b""))
        except ValueError:
            return  # cannot frame the payload -> cannot resync
        payload = sc.read_exact(length)
        if payload is None:
            return  # truncated final record
        if hdr.get(b"warc-type") != want_type:
            continue
        url = hdr.get(b"warc-target-uri")
        if not url:
            continue
        if payload[:5] == b"HTTP/":
            http_end = payload.find(_SEP)
            payload = payload[http_end + len(_SEP):] if http_end >= 0 else b""
        ts = None
        raw_ts = hdr.get(b"warc-date")
        if raw_ts:
            try:
                ts = datetime.datetime.strptime(
                    raw_ts.decode("ascii"), "%Y-%m-%dT%H:%M:%SZ"
                )
            except ValueError:
                ts = None
        yield url.decode("utf-8", "replace"), ts, payload


def write_wet(df: DataFrame, path: str) -> None:
    """WET sink — Common Crawl's extracted-text distribution format
    (WARC `conversion` records, one per page).  Input: a DataFrame
    with url, extracted_text and bucket columns (the extraction
    output's natural projection); output: bucket-partitioned text
    files of WET records.

    The record is assembled as ONE codegen'd string concat (JVM-side,
    no Python), so the sink costs what the write costs; Content-Length
    is `octet_length` (UTF-8 BYTES — `length` counts chars and would
    mis-frame any non-ASCII page).  Record framing survives the text
    writer's per-row LF because the parser skips inter-record CR/LF
    padding."""
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        F.col("url"),
        F.lit("\r\nContent-Length: "),
        F.octet_length("extracted_text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("extracted_text"),
        F.lit("\r\n"),
    )
    (
        df.select(rec.alias("value"), "bucket")
        .write.mode("overwrite")
        # per-write dynamic overwrite (CLAUDE.md gotcha #5): a resumed
        # job writes only its remaining buckets — static overwrite
        # would delete every previously-committed WET bucket first
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .text(path)
    )


# Hadoop glob metacharacters (the set Spark's isGlobPath tests for)
_GLOB_CHARS = re.compile(r"[\\\[\]{}*?]")


def _list_warc_paths(
    spark: SparkSession, path: str, cols: tuple = ("path",)
) -> DataFrame:
    """Distributed file LISTING via binaryFile pruned to `path`: the
    content column is never in the required schema, so the format
    neither reads file bytes nor applies its 2 GB/file cap — the scan
    is metadata-only, while partition packing (weighted by file size)
    still gives one task per ~1 GB crawl file.  Asserted in
    tests/test_warc_source.py::test_warc_listing_scan_prunes_content.

    A glob is expanded on the driver with Hadoop's globStatus (the glob
    syntax Spark itself applies) and the matched paths are loaded: a
    glob handed to the reader makes FileStreamSink.hasMetadata log a
    FileNotFoundException stack trace at WARN on every read.  The
    reader globs every path it loads again, so glob characters in a
    matched name (`crawl[1].warc`) are backslash-escaped first.  A glob
    matching nothing is loaded as given, so it fails as before.  `cols`
    picks binaryFile metadata columns (`length`, `modificationTime`)
    beside `path`; never `content`."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    matched = fs.globStatus(hpath)
    paths = [_GLOB_CHARS.sub(r"\\\g<0>", st.getPath().toString())
             for st in matched or ()] or [path]
    return spark.read.format("binaryFile").load(paths).select(*cols)


class _GzipStream:
    """Streaming multi-member gzip inflater with the module's
    robustness contract built in: `.read(n)` inflates lazily (peak
    memory ≈ n + one chunk's inflation, never the file), chains
    CONCATENATED members (the Common Crawl member-per-record .warc.gz
    layout), and on a truncated or corrupt member QUIETLY ends the
    stream — records inflated before the damage survive.  stdlib
    GzipFile can't do that last part: its internal BufferedReader
    raises EOFError out of a fill and DISCARDS the data it had
    already inflated, so one truncated tail member would eat the
    whole file."""

    def __init__(self, fp):
        import zlib

        self._fp = fp
        self._zlib = zlib
        self._z = zlib.decompressobj(31)  # 16+15: gzip wrapper
        self._out = b""

    def read(self, n: int) -> bytes:
        zlib = self._zlib
        while len(self._out) < n:
            if self._z.eof:  # member finished: chain to the next
                rest = self._z.unused_data
                # refill until the 2-byte magic is decidable or EOF: a
                # single read may legally return short for non-regular
                # file objects, which would make a valid next member
                # look like trailing garbage (ADVICE r6)
                while len(rest) < 2:
                    chunk = self._fp.read(_SCAN_CHUNK)
                    if not chunk:
                        break
                    rest += chunk
                if not rest.startswith(b"\x1f\x8b"):
                    break  # clean EOF (or trailing garbage): stop
                self._z = zlib.decompressobj(31)
                try:
                    self._out += self._z.decompress(rest)
                except zlib.error:
                    break  # corrupt member header: keep prefix
                continue
            chunk = self._fp.read(_SCAN_CHUNK)
            if not chunk:
                break  # truncated member: keep inflated prefix
            try:
                self._out += self._z.decompress(chunk)
            except zlib.error:
                break  # corrupt deflate data: keep prefix
        out, self._out = self._out[:n], self._out[n:]
        return out

    def close(self):
        self._fp.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


def _local_path(path: str) -> str:
    """Spark's listing returns `file:` URIs for local files — convert
    to an OS path."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    return path


def _open_warc(path: str):
    """Open a WARC path for STREAMING reads.  A gzip magic number
    routes through `_GzipStream`, which inflates concatenated members
    lazily as `.read()` is called — the inflated file never exists in
    memory."""
    fp = open(_local_path(path), "rb")
    if fp.read(2) == b"\x1f\x8b":
        fp.seek(0)
        return _GzipStream(fp)
    fp.seek(0)
    return fp


def _iter_file_records(
    path: str, want_type: bytes
) -> Iterator[tuple[str, object, bytes]]:
    """Stream one file's `want_type` records.  Robustness: an
    unopenable file, a corrupt/truncated gzip stream (OSError covers
    BadGzipFile; EOFError is gzip's truncation signal), or malformed
    framing ends THIS file quietly — records parsed before the damage
    are still emitted, and the task never dies (the module's
    one-corrupt-record contract)."""
    try:
        fp = _open_warc(path)
    except OSError:
        return
    with fp:
        try:
            yield from _iter_warc_stream(fp, want_type=want_type)
        except (OSError, EOFError):
            pass  # mid-stream gzip damage: keep what parsed cleanly


def record_batches(
    rows: Iterable[tuple], schema: pa.Schema, n: int
) -> Iterator[pa.RecordBatch]:
    """Row tuples (in `schema` column order) -> RecordBatches of at
    most n rows, pulled lazily from `rows`: peak memory is one batch of
    parsed rows, never the file."""
    it = iter(rows)
    while chunk := list(itertools.islice(it, n)):
        cols = dict(zip(schema.names, zip(*chunk)))
        yield pa.RecordBatch.from_pydict(cols, schema=schema)


def map_files(spark: SparkSession, path: str, schema: T.StructType,
              file_rows: Callable[[str], Iterable[tuple]], n: int) -> DataFrame:
    """The path-distributed source shape shared by the WARC, WET and
    WebDataset readers: list `path` (`_list_warc_paths`), then one
    mapInArrow pass in which each task streams its files through
    `file_rows(file_path)` and emits batches of at most n rows."""
    arrow_schema = to_arrow_schema(schema)

    def parse(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for p in b.column("path").to_pylist():
                yield from record_batches(file_rows(p), arrow_schema, n)

    return _list_warc_paths(spark, path).mapInArrow(parse, schema)


_WET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """WET source: conversion records -> (url, warc_ts, text) — the
    entry point for re-curating an already-extracted text corpus
    (every dedup/quality operator in this engine runs on exactly this
    shape).  Same path-distributed streaming shape as read_warc."""
    return map_files(
        spark, path, _WET_SCHEMA,
        lambda p: ((u, ts, body.decode("utf-8", "replace"))
                   for u, ts, body in _iter_file_records(p, b"conversion")),
        WARC_CHUNK_RECORDS,
    )


def read_warc(
    spark: SparkSession, path: str, chunk_records: int = WARC_CHUNK_RECORDS
) -> DataFrame:
    """WARC file glob (plain or .warc.gz) -> PAGES_SCHEMA DataFrame
    (text/lang NULL — a crawl source has no pre-extracted text).  One
    task per ~1 GB file, ONE RECORD of peak parse memory: paths are
    distributed (never content), each task streams its files through
    `_iter_warc_stream` and emits chunk_records-row batches.  See the
    module docstring for why this is the 100 TB shape."""
    return map_files(
        spark, path, PAGES_SCHEMA,
        lambda p: ((u, ts, body, None, None)
                   for u, ts, body in _iter_file_records(p, b"response")),
        chunk_records,
    )
