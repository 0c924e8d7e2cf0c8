"""WARC (ISO 28500) source — read Common-Crawl-style archives directly.

The north-star corpus ships as WARC, not parquet; this reader turns
WARC *response* records into the pages schema ``(url, warc_ts, html,
text, lang)`` with no external library:

* one parse task per archive — an archive is the natural task
  granularity for web crawls (Common Crawl segments are ~1 GB), so
  parse parallelism = number of archives, no shuffle;
* BOUNDED per-task memory: archives are opened as byte streams and
  gzip is decompressed incrementally (``gzip.GzipFile`` over the
  stream), so a 1 GB .warc.gz that inflates to ~4-5 GB never sits in
  memory. Peak per-task memory ≈
  ``chunk_size + max_record_bytes + records_per_batch × avg_record``
  (one in-flight record plus the pending Arrow output batch) —
  independent of ARCHIVE size, and the worst single record is capped
  by ``max_record_bytes`` (default 64 MiB: real CC payloads are
  ~1 MB, so a Content-Length near the cap is hostile/corrupt and the
  record is skipped, costing at most the cap in transient buffer);
* a streaming record parser (``iter_warc_stream``) that resyncs to
  the next ``WARC/`` marker on corrupt regions — including a corrupt
  or hostile Content-Length mid-archive, which skips ONLY the bad
  record instead of discarding the rest of the archive; only a
  truncated *final* record ends parsing early;
* text extraction reuses the frozen ``sketchlib.textx`` extractor, so
  the per-row byte-identity invariant (text == extract_text(html))
  holds for WARC inputs exactly as it does for parquet.

Both plain and whole-file-gzip archives are handled (magic-byte
sniff). File bytes are read executor-side from the archive *path*
(the listing job never loads content); local/``file:`` paths use the
builtin opener — for object stores pass ``opener`` (any callable
``path -> OPENED binary file object``, e.g.
``lambda p: fsspec.open(p, "rb").open()`` — note the trailing
``.open()``: ``fsspec.open`` alone returns an ``OpenFile`` descriptor,
not a readable stream). Streams may be forward-only (no seek).
"""

from __future__ import annotations

import gzip
import io
import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructType, TimestampType

PAGES_SCHEMA = (
    StructType().add("url", StringType()).add("warc_ts", TimestampType()).add("html", BinaryType())
    .add("text", StringType()).add("lang", StringType())
)

_CRLF2 = b"\r\n\r\n"
_MARKER = b"WARC/"
_MAX_HEADER_BYTES = 1 << 20  # a header block larger than 1 MiB is corrupt
# Corrupt/hostile Content-Length guard AND the per-task transient-buffer
# bound: one record buffers at most this many bytes. Common-Crawl caps
# payloads around 1 MB, so 64 MiB passes any plausible record while a
# near-cap header can no longer force ~1 GiB resident per task.
DEFAULT_MAX_RECORD_BYTES = 64 << 20


_VERSION_RE = None  # compiled lazily (module import stays re-free for executors)


def _plausible_record_at(buf, pos: int) -> bool:
    """True when ``buf[pos:]`` starts a credible WARC record: a
    ``WARC/<digits>`` version line ending in CRLF and a header block
    terminated by CRLFCRLF. Deliberately EXACTLY as tolerant as the
    main parser (which clamps missing/garbage Content-Length to 0) —
    a stricter check here would refuse to resync onto a record the
    parser itself would happily yield, discarding the archive tail.
    Used to disambiguate corrupt mid-archive lengths (resync) from a
    truncated final record whose payload happens to contain the
    marker bytes (stop)."""
    global _VERSION_RE
    if _VERSION_RE is None:
        import re

        _VERSION_RE = re.compile(rb"WARC/\d+(\.\d+)?\r\n")
    if not _VERSION_RE.match(bytes(buf[pos : pos + 16])):
        return False
    return buf.find(_CRLF2, pos, pos + _MAX_HEADER_BYTES) >= 0


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for ln in block.decode("utf-8", "replace").split("\r\n")[1:]:
        if ":" in ln:
            k, v = ln.split(":", 1)
            headers[k.strip().lower()] = v.strip()
    return headers


def iter_warc_stream(
    stream,
    chunk_size: int = 4 << 20,
    max_record_bytes: int = DEFAULT_MAX_RECORD_BYTES,
    on_oversize=None,
) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, payload) per WARC record from a readable byte
    stream, holding at most ``max(chunk_size, header window, one
    record)`` bytes — never the whole archive.

    Corruption policy (the resync contract): garbage between records
    skips forward to the next ``WARC/`` marker; an unterminated or
    oversized header block resyncs past its marker; a Content-Length
    larger than ``max_record_bytes``, or one that overruns end-of-
    stream while further records exist, skips that record and resyncs.
    Only a truncated FINAL record (payload cut by end-of-stream with
    nothing after it) ends parsing — a crawler's archive is allowed to
    end mid-write."""
    buf = bytearray()
    eof = False
    stalls = 0

    def fill(need: int) -> bool:
        nonlocal eof, stalls
        while len(buf) < need and not eof:
            chunk = stream.read(chunk_size)
            if chunk is None:
                # would-block (non-blocking source mid-archive): ONLY
                # b"" is end-of-stream — treating None as EOF would
                # silently truncate a plain archive at the first stall.
                # Back off instead of busy-spinning; give up on a dead
                # source (~60 s) rather than hanging the task forever.
                stalls += 1
                if stalls > 600:
                    raise TimeoutError(
                        "stream produced no data mid-record "
                        "(would-block for >600 retries)"
                    )
                time.sleep(0.1)
                continue
            stalls = 0
            if not chunk:
                eof = True
            else:
                buf.extend(chunk)
        return len(buf) >= need

    while True:
        # --- locate the next record marker, discarding garbage
        while True:
            j = buf.find(_MARKER)
            if j >= 0:
                del buf[:j]
                break
            if eof:
                return
            # keep a marker-prefix tail so a marker straddling chunks
            # is still found; everything before it is garbage
            del buf[: max(0, len(buf) - (len(_MARKER) - 1))]
            fill(len(buf) + 1)
        # --- header block (up to CRLFCRLF), bounded
        while True:
            hdr_end = buf.find(_CRLF2, 0, _MAX_HEADER_BYTES + len(_CRLF2))
            if hdr_end >= 0 or eof or len(buf) > _MAX_HEADER_BYTES:
                break
            fill(len(buf) + 1)
        if hdr_end < 0:
            if eof and len(buf) <= _MAX_HEADER_BYTES:
                return  # truncated final header
            del buf[: len(_MARKER)]  # oversized header: resync past marker
            continue
        headers = _parse_headers(bytes(buf[:hdr_end]))
        try:
            clen = max(int(headers.get("content-length", "0")), 0)
        except ValueError:
            clen = 0
        start = hdr_end + len(_CRLF2)
        if clen > max_record_bytes:
            # oversized/hostile length: skip this record only — and say
            # so, since a LEGITIMATE large record (the WARC spec has no
            # payload cap) silently vanishing is undiagnosable; raise
            # max_record_bytes to ingest such archives
            import logging

            logging.getLogger(__name__).warning(
                "skipping WARC record with Content-Length %d > max_record_bytes %d "
                "(uri=%s); raise max_record_bytes if this record is legitimate",
                clen,
                max_record_bytes,
                headers.get("warc-target-uri"),
            )
            if on_oversize is not None:
                on_oversize(clen, headers.get("warc-target-uri"))
            del buf[:start]
            continue
        if not fill(start + clen):
            # payload overruns end-of-stream. Two explanations: the
            # Content-Length was corrupt and real records follow, or
            # this is the archive's legitimately truncated final record
            # whose partial payload merely CONTAINS the bytes "WARC/"
            # (e.g. an HTML page about web archiving). Resync only to a
            # position that parses as a plausible record header —
            # version line + terminated header block with an in-bounds
            # length — otherwise honor the truncated-final contract.
            nxt = buf.find(_MARKER, start)
            while nxt >= 0 and not _plausible_record_at(buf, nxt):
                nxt = buf.find(_MARKER, nxt + 1)
            if nxt < 0:
                return
            # jump straight TO the verified position — deleting only to
            # `start` would re-sync onto the first (possibly implausible)
            # marker inside the corrupt payload and could eat the real
            # record behind a bogus Content-Length
            del buf[:nxt]
            continue
        yield headers, bytes(buf[start : start + clen])
        del buf[: start + clen]


def iter_warc_records(blob: bytes) -> Iterator[tuple[dict, bytes]]:
    """In-memory view of ``iter_warc_stream`` (same resync contract)."""
    yield from iter_warc_stream(io.BytesIO(blob))


def http_body(payload: bytes) -> bytes:
    """Body of the HTTP message carried by a response record."""
    sep = payload.find(_CRLF2)
    return payload[sep + 4 :] if sep >= 0 else payload


class _HeaderReplayStream(io.RawIOBase):
    """Replays sniffed header bytes, then delegates to the inner
    stream — lets the magic bytes be consumed for sniffing without
    requiring ``seek`` (object-store streams are often forward-only)
    and without ``peek``'s at-most-one-raw-read weakness.

    Would-block (``None``) results from a non-blocking inner stream
    are ABSORBED here with backoff + timeout rather than propagated:
    the downstream consumers (``io.BufferedReader`` and above it
    ``gzip.GzipFile``, which crashes outright on a ``None`` read) run
    inside a Spark task where blocking-until-data is the only useful
    semantic. Collapsing ``None`` to 0 instead would silently truncate
    the archive at the first stall."""

    def __init__(self, head: bytes, inner):
        self._head = memoryview(bytes(head))
        self._inner = inner

    def readable(self) -> bool:
        return True

    def readinto(self, b):
        if len(self._head):
            n = min(len(b), len(self._head))
            b[:n] = self._head[:n]
            self._head = self._head[n:]
            return n
        stalls = 0
        while True:
            if hasattr(self._inner, "readinto"):
                got = self._inner.readinto(b)
                if got is not None:
                    return got  # 0 = genuine EOF
            else:
                data = self._inner.read(len(b))
                if data is not None:
                    if not data:
                        return 0
                    b[: len(data)] = data
                    return len(data)
            # would-block: back off; give up on a dead source (~60 s)
            stalls += 1
            if stalls > 600:
                raise TimeoutError(
                    "stream produced no data (would-block for >600 retries)"
                )
            time.sleep(0.1)

    def close(self) -> None:
        try:
            self._inner.close()
        finally:
            super().close()


def open_archive_stream(path: str, opener=None):
    """Binary stream for one archive path (as produced by Spark file
    listings, e.g. ``file:/data/x.warc.gz``), transparently layered
    with incremental gzip decompression when the magic bytes match.

    ``opener``: ``path -> OPENED binary file object`` for non-local
    schemes — e.g. ``lambda p: fsspec.open(p, "rb").open()`` (note the
    trailing ``.open()``: ``fsspec.open`` itself returns an ``OpenFile``
    descriptor, not a readable stream). The stream does NOT need to be
    seekable: the gzip magic is sniffed with ``peek`` through a
    ``BufferedReader`` wrapper, never ``seek`` — object-store streams
    are frequently forward-only."""
    if opener is None:
        local = path
        if local.startswith("file:"):
            from urllib.parse import unquote, urlparse

            local = unquote(urlparse(local).path)
        raw = open(local, "rb")  # noqa: SIM115 — caller-managed stream
    else:
        raw = opener(path)
    # Read EXACTLY the 2 magic bytes (looping: a socket-backed raw read
    # may legally return 1 byte) and replay them in front of the
    # stream. peek() is NOT reliable here — BufferedReader.peek does at
    # most one raw read, so a short first read would misclassify a
    # gzipped archive as plain and silently drop every record.
    head = b""
    stalls = 0
    while len(head) < 2:
        chunk = raw.read(2 - len(head))
        if chunk is None:
            # would-block (non-blocking source): back off instead of
            # busy-spinning a core, and give up on a dead source rather
            # than hanging the task forever (~60 s worst case)
            stalls += 1
            if stalls > 600:
                raise TimeoutError(
                    f"stream for {path!r} produced no header bytes "
                    "(would-block for >600 retries)"
                )
            time.sleep(0.1)
            continue
        if not chunk:
            break  # b"" = genuine end-of-stream
        head += chunk
    stream = io.BufferedReader(_HeaderReplayStream(head, raw))
    if head[:2] == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=stream)
    return stream


def read_warc(
    spark,
    path: str,
    records_per_batch: int = 256,
    chunk_size: int = 4 << 20,
    max_record_bytes: int = DEFAULT_MAX_RECORD_BYTES,
    opener=None,
    oversize_counter=None,
):
    """→ DataFrame(PAGES_SCHEMA) of every WARC *response* record under
    ``path`` (file, glob, or directory of .warc / .warc.gz).

    The Spark job carries only PATHS (the ``binaryFile`` listing with
    the content column pruned away); each task opens its archives as
    streams and emits Arrow batches of ``records_per_batch`` pages, so
    per-task memory is bounded by the formula in the module header
    regardless of archive size — unlike a ``binaryFile`` content scan,
    which materializes (and 2 GB-caps) whole files.

    ``max_record_bytes`` (default 64 MiB) SILENTLY SKIPS larger records
    apart from an executor-side log line — the WARC spec has no payload
    cap, so archives with legitimate huge records need this raised.
    Pass ``oversize_counter=sc.accumulator(0)`` to get a driver-visible
    skip count after the job (see jobs/warc_ingest_job.py). Accumulator
    updates inside a transformation are AT-LEAST-ONCE under task
    retries/speculation, so read the count as "zero or not" (exactness
    matters only when nonzero, where the fix — raising
    ``max_record_bytes`` — is the same at any count)."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..textx import extract_text

        cols = ("url", "warc_ts", "html", "text", "lang")
        pend: dict[str, list] = {c: [] for c in cols}

        def flush() -> pd.DataFrame:
            out = pd.DataFrame({c: pend[c] for c in cols})
            out["warc_ts"] = pd.to_datetime(out["warc_ts"], utc=True).dt.tz_localize(None)
            for c in cols:
                pend[c].clear()
            return out

        for pdf in batches:
            for p in pdf["path"]:
                stream = open_archive_stream(p, opener)
                try:
                    for headers, payload in iter_warc_stream(
                        stream,
                        chunk_size,
                        max_record_bytes,
                        on_oversize=(
                            None
                            if oversize_counter is None
                            else lambda clen, uri: oversize_counter.add(1)
                        ),
                    ):
                        if headers.get("warc-type") != "response":
                            continue  # warcinfo/request/metadata records
                        html = http_body(payload)
                        pend["url"].append(headers.get("warc-target-uri"))
                        pend["warc_ts"].append(
                            pd.to_datetime(headers.get("warc-date"), utc=True)
                        )
                        pend["html"].append(html)
                        pend["text"].append(extract_text(html))
                        pend["lang"].append(
                            headers.get("warc-identified-content-language")
                        )
                        if len(pend["url"]) >= records_per_batch:
                            yield flush()
                finally:
                    stream.close()
        if pend["url"]:
            yield flush()

    # binaryFile prunes unrequested columns: selecting only `path` is a
    # listing, not a read (the count below is a metadata-only job, paid
    # once at plan-construction). EXACTLY one task per archive: a
    # contiguous 0..n-1 index used as the partition id of n_files
    # partitions (``repartitionById``: no range-bounds sampling job)
    # — hash-partitioning paths would put 2-3 archives on some tasks
    # and none on ~1/e of them (balls in bins), making wall-clock 2-3×
    # the slowest archive instead of 1×. The index comes from
    # zipWithIndex (per-partition counts in one parallel pass + offset
    # arithmetic), NOT row_number over a global Window — an unpartitioned
    # window funnels all 10^7 paths through ONE sort task.
    files = spark.read.format("binaryFile").load(path).select("path")
    n_files = max(files.count(), 1)
    # explicit schema: skips toDF's sample-based inference job AND keeps
    # a zero-match glob a valid empty frame (inference raises on empty)
    indexed = spark.createDataFrame(
        files.rdd.map(lambda r: r.path).zipWithIndex(),
        StructType().add("path", StringType()).add("_i", LongType()),
    )
    return (
        indexed.repartitionById(n_files, F.col("_i").cast("int"))
        .drop("_i")
        .mapInPandas(parse, PAGES_SCHEMA)
    )
