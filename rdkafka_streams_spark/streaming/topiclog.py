"""TopicLog — a durable partitioned message log behind the public PySpark
Python DataSource API (SURVEY.md §2.1 S1/S2/S3 integration seam).

The container has no Kafka broker, no ``spark-sql-kafka`` jar, and no network
to fetch either (ADVICE.md records the attempts), so the reference's
end-to-end scenarios (test/test_Consumer.coffee:55-69,
test/test_Producer.coffee:52-64, test/test_getDuplex.coffee:57-76) could
never execute — the Kafka plans were correct but had never moved a message.
TopicLog closes that seam with what IS available: PySpark ≥4.0's
``pyspark.sql.datasource`` API (``spark.dataSource.register``). It gives
KConsumer/KProducer/Duplex a real transport — durable topics, real
partitions, dense per-partition offsets, startingOffsets semantics,
per-trigger batch caps, commit/abort on the write path — so the full
consume→transform→produce lifecycle executes and is integration-tested, not
just plan-checked. Production stays ``transport="kafka"``: the frame shapes
are identical (Kafka source envelope in, Kafka sink contract out), so
flipping the transport changes no query code.

Storage model (one directory tree = one "broker"):

    <root>/<topic>/p<partition>/seg-<start offset, 20 digits>-<count>.jsonl

Each segment line carries key, value, and ``"ts"`` (epoch ms). Keys/values
that are valid UTF-8 — the JSON-envelope case, i.e. essentially always — are
stored as plain JSON strings (``"ks"``/``"vs"``), which lets the read path
hand the whole segment to pyarrow's C++ JSONL parser and cast straight to
binary with no per-row Python (measured ~14× over per-line ``json.loads`` +
b64); arbitrary binary falls back to base64 (``"k"``/``"v"``). ``"v": null``
= Kafka tombstone (sink option ``tombstones=true``); compacted segments add
an explicit per-line offset ``"o"`` so original offsets survive compaction
with gaps, exactly like a broker's cleaner (``TopicLog.compact``).
Segments are immutable and published atomically: written to a hidden temp
file, then ``os.link``ed to their final name while the producer holds the
partition's claim lock (an ``fcntl.flock`` on ``p<partition>/.claim.lock``),
so reading the end offset and linking the segment at it is one step: two
concurrent producers can never claim overlapping offset ranges, which
serializes appends per partition exactly like a broker does. The kernel
drops the lock when its holder dies, so a crashed producer never blocks the
partition. Offsets live IN the segment name, so planning a read is
a directory listing, never a scan. On a cluster the root sits on shared
storage; each (topic, partition) maps to one Spark input partition, so
parallelism scales with partition count like the real connector.

Delivery semantics: at-least-once, matching the reference (its ``cb()``
fires on enqueue, src/Producer.coffee:87). Streaming writes stage per task
and publish in ``commit()``; a crash between engine checkpoint and publish
replays the batch (duplicate appends possible, lost appends not).
"""

from __future__ import annotations

import base64
import contextlib
import fcntl
import gzip
import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "topiclog"

#: Spark Kafka source envelope — byte-compatible so a TopicLog frame drops
#: into every KConsumer/decode_values code path unchanged.
ENVELOPE_DDL = (
    "key binary, value binary, topic string, partition int, offset long, "
    "timestamp timestamp, timestampType int"
)

#: appended when includeHeaders=true, same shape as the Kafka source's
HEADERS_DDL = "headers array<struct<key: string, value: binary>>"

#: ``.jsonl.gz`` = a gzip'd segment (``compression.type=gzip``): same wire
#: lines, compressed at publish like a Kafka batch with a codec set; plain
#: and compressed segments coexist freely within one partition (a broker's
#: log does too — compression.type is a point-in-time producer choice)
_SEG_RE = re.compile(r"^seg-(\d{20})-(\d+)\.jsonl(?:\.gz)?$")


class IllegalGenerationError(RuntimeError):
    """A commit carried a superseded group generation id — the zombie fence
    (Kafka's ILLEGAL_GENERATION OffsetCommit error)."""


class FencedInstanceIdError(RuntimeError):
    """A heartbeat/operation carried a superseded static-member token —
    a newer member has since joined under the same ``group.instance.id``
    (Kafka's FENCED_INSTANCE_ID, the KIP-345 replacement fence)."""


class ProducerFencedError(RuntimeError):
    """A produce carried a superseded producer epoch — another session
    ran ``init_producer_id`` under the same name since (Kafka's
    ProducerFencedException, the ``transactional.id`` zombie fence)."""


class RecordTooLargeError(ValueError):
    """A record's wire size exceeds the topic's ``max.message.bytes``
    (Kafka's RecordTooLargeException / MESSAGE_TOO_LARGE) — rejected at
    produce, never partially appended."""


class OutOfOrderSequenceError(RuntimeError):
    """An idempotent produce batch's sequence range neither continues the
    per-(pid, partition) chain nor replays a cached batch — a lost or
    reordered request the broker cannot safely dedupe (Kafka's
    OutOfOrderSequenceException; the client must re-init and resend)."""


class UnkeyedTopicError(ValueError):
    """``compact()`` met a keyless record — log compaction requires every
    record keyed (Kafka's own precondition: a compacted topic rejects
    null-key produces). A dedicated type so callers tolerating legacy
    keyless topics (mirror sync-store compaction) can catch exactly this
    case instead of string-matching the message."""


# ---------------------------------------------------------------- log layout
def _check_name(value: str, what: str) -> str:
    """One rule for every user-supplied value that becomes a path
    component (topic, group, instance id, txn id, producer name, quota'd
    client id): non-empty, no separators, no dot prefix — a traversal or
    hidden-file name never reaches os.path.join. Returns the value."""
    if not value or value.startswith(".") or "/" in value or "\\" in value:
        raise ValueError(f"invalid {what} {value!r}")
    return value


def _part_dir(root: str, topic: str, pid: int) -> str:
    return os.path.join(root, topic, f"p{pid}")


def _list_partitions(root: str, topic: str) -> list[int]:
    tdir = os.path.join(root, topic)
    if not os.path.isdir(tdir):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(tdir) if d.startswith("p") and d[1:].isdigit()
    )


def _list_segments(part_dir: str) -> list[tuple[int, int, str]]:
    """Sorted (start_offset, count, path) for the published segments."""
    if not os.path.isdir(part_dir):
        return []
    out = []
    for name in os.listdir(part_dir):
        m = _SEG_RE.match(name)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), os.path.join(part_dir, name)))
    out.sort()
    return out


def _end_offset(part_dir: str) -> int:
    segs = _list_segments(part_dir)
    return segs[-1][0] + segs[-1][1] if segs else 0


@contextlib.contextmanager
def _claim_lock(part_dir: str):
    """Hold the partition's exclusive offset claim. A producer reads the
    end offset and links its segment there only under this lock: segment
    names carry (start, count, codec), so a rival with the same start but
    another count or codec links a DIFFERENT name and ``os.link`` alone
    cannot stop the overlap. ``flock`` is released by the kernel when the
    holder exits or dies, so no stale claim outlives a crash."""
    fd = os.open(os.path.join(part_dir, ".claim.lock"),
                 os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _open_seg(path: str):
    """Text-mode reader for a segment file, transparent to its codec
    (``.jsonl.gz`` segments decompress on the fly, like a fetch of a
    compressed Kafka batch)."""
    if path.endswith(".gz"):
        return gzip.open(path, "rt", encoding="utf-8")
    return open(path, encoding="utf-8")


def _read_json_seg(path: str, schema, use_threads: bool = False):
    """Columnar JSONL parse of one segment, codec-transparent: plain files
    go straight to pyarrow's reader; gzip'd segments stream through Arrow's
    C++ CompressedInputStream — still zero per-row Python."""
    import pyarrow as pa
    import pyarrow.json as pj

    ro = pj.ReadOptions(use_threads=use_threads)
    po = pj.ParseOptions(explicit_schema=schema)
    if path.endswith(".gz"):
        with pa.CompressedInputStream(pa.OSFile(path, "rb"), "gzip") as stream:
            return pj.read_json(stream, read_options=ro, parse_options=po)
    return pj.read_json(path, read_options=ro, parse_options=po)


def _segment_record_count(path: str, span: int) -> int:
    """Record count of a segment WITHOUT a full scan when possible: a dense
    append segment's name count equals its line count by construction, so
    only segments that can be gapped need a real count. Gapped segments are
    exactly those whose records carry an explicit ``"o"`` offset field
    (compact() and the trimmed-from-compacted path of delete_records() write
    it; the append path never does), so one JSON parse of the first line
    decides. Keeps delete_records at O(touched records), not O(partition)."""
    with _open_seg(path) as f:
        first = f.readline()
        if not first.strip():
            return 0
        if "o" not in json.loads(first):
            return span
        return 1 + sum(1 for ln in f if ln.strip())


#: sparse time-index granularity — one (position, max-ts-so-far) entry per
#: this many records, the KIP-33 ``index.interval.bytes`` analog. The entry
#: spacing bounds the forward scan a seek does after the index narrows it.
_TIMEINDEX_INTERVAL = 512


def _build_time_index(path: str) -> dict:
    """Build the sparse time index of one segment (KIP-33 ``.timeindex``
    analog). Entries are ``[position, max_ts_so_far]`` pairs every
    ``_TIMEINDEX_INTERVAL`` records plus one for the final record — the
    max-so-far (not the raw timestamp) is what makes the index valid under
    non-monotonic CreateTime: ``max_ts_so_far < target`` proves NO record
    at or before that position can satisfy a ``ts >= target`` seek, which
    is exactly the skip a broker's time index licenses. ``max_ts`` is the
    segment-level largest timestamp, the value segment-granularity time
    retention keys on. Columnar build (one pyarrow ts-column parse), never
    per-line Python."""
    size = os.path.getsize(path)
    if size == 0:
        # delete_records can leave a zero-byte spanning/active segment
        return {"v": 1, "src_size": 0, "n": 0, "max_ts": None, "entries": []}
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = _read_json_seg(path, pa.schema([pa.field("ts", pa.int64())]))
    n = tbl.num_rows
    if n == 0:
        return {"v": 1, "src_size": size, "n": 0, "max_ts": None, "entries": []}
    cmax = pc.cumulative_max(tbl["ts"].combine_chunks())
    entries = [
        [i, cmax[i].as_py()]
        for i in range(_TIMEINDEX_INTERVAL - 1, n, _TIMEINDEX_INTERVAL)
    ]
    if not entries or entries[-1][0] != n - 1:
        entries.append([n - 1, cmax[n - 1].as_py()])
    return {
        "v": 1, "src_size": size, "n": n,
        "max_ts": entries[-1][1], "entries": entries,
    }


def _segment_time_index(path: str) -> dict:
    """Load the segment's sidecar time index, (re)building it when absent
    or stale. Brokers build the index at append time and REBUILD it on
    startup when missing or corrupt; segments here publish via os.link
    from many writers, so the equivalent posture is lazy build on first
    seek, cached in ``<segment>.timeindex`` beside the data. Staleness is
    detected by source size: compaction/truncation always changes a
    segment's byte size (and usually its name), so a same-name rewrite
    can never serve a stale index. The sidecar write is last-writer-wins
    ``os.replace`` — contents are deterministic, so a race is harmless."""
    ipath = path + ".timeindex"
    try:
        with open(ipath, encoding="utf-8") as f:
            idx = json.load(f)
        if idx.get("v") == 1 and idx.get("src_size") == os.path.getsize(path):
            return idx
    except (OSError, ValueError):
        pass
    idx = _build_time_index(path)
    d = os.path.dirname(path)
    tmp = os.path.join(d, f".tmi-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(idx, f, separators=(",", ":"))
    os.replace(tmp, ipath)
    return idx


def _sweep_orphan_timeindexes(pdir: str) -> None:
    """Drop ``.timeindex`` sidecars whose data segment is gone — called by
    the segment-rewriting admins (compact, delete_records) so the cleaner
    leaves no index litter behind, like a broker deleting ``.timeindex``
    with its segment."""
    if not os.path.isdir(pdir):
        return
    for name in os.listdir(pdir):
        if not name.endswith(".timeindex"):
            continue
        if not os.path.exists(os.path.join(pdir, name[: -len(".timeindex")])):
            try:
                os.unlink(os.path.join(pdir, name))
            except OSError:
                pass


def _headers_to_wire(
    headers: "Sequence[tuple[str, bytes | None]] | None",
) -> list | None:
    """Kafka record headers → wire form: ordered ``[[key, b64value], ...]``
    (duplicate keys and null values are legal in Kafka; both preserved)."""
    if not headers:
        return None
    out = []
    for k, v in headers:
        if isinstance(v, str):
            v = v.encode()
        out.append([str(k), None if v is None else base64.b64encode(v).decode("ascii")])
    return out


def _wire_to_headers(h: list | None) -> list | None:
    """Wire form → the Kafka source's ``headers`` column rows:
    [(key, value-bytes-or-None), ...]; None when the record has none
    (Kafka's null headers, not an empty list)."""
    if h is None:
        return None
    return [(k, None if v is None else base64.b64decode(v)) for k, v in h]


def _encode_line(
    key: bytes | None, value: bytes | None, ts_ms: int, off: int | None = None,
    headers: list | None = None, txn: str | None = None, ctl: str | None = None,
    producer: tuple[int, int, int, int] | None = None,
    delete_horizon: int | None = None,
) -> str:
    """One wire line. UTF-8-clean payloads go out as plain JSON strings
    (``ks``/``vs`` — the fast columnar-parse fields, see module docstring);
    arbitrary binary as base64 (``k``/``v``). Both encoders are C-speed
    (json.dumps / b64encode); the field CHOICE is what buys the 14× on the
    read side. value None = tombstone (Kafka delete marker). ``txn`` tags
    the record with its producer transaction id (``"x"``); ``ctl`` marks a
    CONTROL record ("commit"/"abort" — Kafka's transaction markers, which
    occupy offsets but are never delivered to applications). ``producer``
    = (pid, epoch, record seq, batch base seq) for idempotent produces —
    the same per-record producer metadata a Kafka batch header carries,
    which is what makes sequence state RECOVERABLE from the log alone
    (``rebuild_producer_state``)."""
    if key is None:
        k = '"k":null'
    else:
        try:
            k = f'"ks":{json.dumps(key.decode("utf-8"), ensure_ascii=False)}'
        except UnicodeDecodeError:
            k = f'"k":"{base64.b64encode(key).decode("ascii")}"'
    if value is None:
        v = '"v":null'
    else:
        try:
            v = f'"vs":{json.dumps(value.decode("utf-8"), ensure_ascii=False)}'
        except UnicodeDecodeError:
            v = f'"v":"{base64.b64encode(value).decode("ascii")}"'
    o = "" if off is None else f',"o":{off}'
    h = "" if headers is None else f',"h":{json.dumps(headers, ensure_ascii=False)}'
    x = "" if txn is None else f',"x":{json.dumps(txn)}'
    c = "" if ctl is None else f',"ctl":{json.dumps(ctl)}'
    if producer is None:
        p = ""
    else:
        pi, pe, sq, bs = producer
        p = f',"pi":{pi},"pe":{pe},"sq":{sq},"bs":{bs}'
    d = "" if delete_horizon is None else f',"dh":{int(delete_horizon)}'
    return f'{{{k},{v},"ts":{ts_ms}{o}{h}{x}{c}{p}{d}}}'


def _rec_key(rec: dict) -> bytes | None:
    ks = rec.get("ks")
    if ks is not None:
        return ks.encode("utf-8")
    k = rec.get("k")
    return None if k is None else base64.b64decode(k)


def _rec_val(rec: dict) -> bytes | None:
    vs = rec.get("vs")
    if vs is not None:
        return vs.encode("utf-8")
    v = rec.get("v")
    return None if v is None else base64.b64decode(v)


def _publish_segment(
    part_dir: str, lines: list[str], max_retries: int = 1000,
    compression: str | None = None,
) -> int:
    """Atomically append ``lines`` as one segment; returns its start offset.

    The ``os.link`` target embeds the claimed start offset, read and
    linked under the partition's ``_claim_lock``; a name that exists
    anyway (a segment an admin rewrite put there) raises FileExistsError
    and we re-list for the new end offset.

    ``compression="gzip"`` writes the segment gzip'd (suffix ``.jsonl.gz``)
    — the broker-side shape of a producer batch with ``compression.type``
    set. Offsets still live in the NAME, so planning never decompresses;
    only an actual record read pays the codec.
    """
    os.makedirs(part_dir, exist_ok=True)
    tmp = os.path.join(part_dir, f".tmp-{uuid.uuid4().hex}")
    body = "\n".join(lines) + "\n"
    if compression == "gzip":
        # gzip.compress(mtime=0): no FNAME header (GzipFile would embed
        # the random tmp name via fileobj.name) and no timestamp —
        # identical content always gzips to identical bytes
        with open(tmp, "wb") as raw:
            raw.write(gzip.compress(body.encode("utf-8"), mtime=0))
        suffix = ".jsonl.gz"
    else:
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(body)
        suffix = ".jsonl"
    try:
        with _claim_lock(part_dir):
            for _ in range(max_retries):
                start = _end_offset(part_dir)
                final = os.path.join(
                    part_dir, f"seg-{start:020d}-{len(lines)}{suffix}"
                )
                try:
                    os.link(tmp, final)
                    return start
                except FileExistsError:
                    continue  # the name is taken; re-list
        raise RuntimeError(f"could not claim an offset range in {part_dir}")
    finally:
        os.unlink(tmp)


def _norm_compression(value, where: str = "compression.type") -> str | None:
    """Normalize a compression.type value to the publish codec. Kafka's
    'producer' (keep the producer's codec) and 'none'/'uncompressed' all
    mean plain here; 'gzip' is the one codec the container's stdlib
    provides — snappy/lz4/zstd name real Kafka codecs with no local
    library, so they fail loudly rather than silently writing plain."""
    if value is None:
        return None
    v = str(value).lower()
    if v in ("", "none", "producer", "uncompressed"):
        return None
    if v == "gzip":
        return "gzip"
    raise ValueError(
        f"{where}={value!r} unsupported (no snappy/lz4/zstd codec in this "
        "container); supported: gzip | none | producer"
    )


def _topic_config(root: str, topic: str) -> dict:
    """The topic's explicitly-set configs, read directly off the config
    file so executors and module-level committers can consult them without
    a TopicLog handle; values were validated by ``alter_configs`` at set
    time."""
    path = os.path.join(root, topic, ".config.json")
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return {}


def _check_max_message(root: str, topic: str, lines: list[str],
                       cfg: dict | None = None) -> None:
    """``max.message.bytes`` gate (MESSAGE_TOO_LARGE): reject any record
    whose wire line exceeds the topic bound BEFORE anything publishes —
    the broker rejects the whole produce request the same way. Size is
    the encoded line (payload + envelope), the closest analog of Kafka's
    record-batch accounting; unset = unlimited (we have no 1 MB default
    because existing topics never opted in). Pass ``cfg`` (a pre-read
    ``_topic_config``) to avoid a config read per call."""
    if cfg is None:
        cfg = _topic_config(root, topic)
    v = cfg.get("max.message.bytes")
    if v is None:
        return
    bound = int(v)
    for ln in lines:
        n = len(ln.encode("utf-8"))
        if n > bound:
            raise RecordTooLargeError(
                f"record of {n} bytes exceeds max.message.bytes={bound} "
                f"on topic {topic!r}"
            )


def _remote_dir(root: str, topic: str, pid: int) -> str:
    """The partition's REMOTE-tier directory (KIP-405 tiered storage
    analog). The remote tier stands in for object storage: a dot-dir
    beside the topics (invisible to topic listings), reachable from
    ``root`` alone so executors can stitch reads without extra state."""
    return os.path.join(root, ".remote", topic, f"p{pid}")


def _list_segments_tiered(root: str, topic: str, pid: int) -> list[tuple[int, int, str]]:
    """Sorted (start, count, path) across BOTH tiers. Remote segments are
    strictly older (tiering only moves non-active segments), so the merge
    is a plain sort; a segment present in both tiers (crash between the
    remote copy and the local unlink) is served from the LOCAL copy — the
    next tiering pass finishes the unlink. Readers built on this see one
    continuous log, exactly Kafka's transparent remote fetch."""
    local = _list_segments(_part_dir(root, topic, pid))
    rdir = _remote_dir(root, topic, pid)
    if not os.path.isdir(rdir):
        return local
    seen = {(s, c) for s, c, _ in local}
    merged = local + [t for t in _list_segments(rdir)
                      if (t[0], t[1]) not in seen]
    merged.sort()
    return merged


def _chunk_lines(lines: list[str], seg_bytes: int | None) -> Iterator[list[str]]:
    """Split a publish into segment-sized chunks (the ``segment.bytes``
    roll analog: a broker rolls its active segment when the next batch
    would push it past the bound; this log's segments are immutable, so
    the roll happens at publish — each chunk becomes its own segment).
    Sizes are UNCOMPRESSED line bytes (+1 per newline); a single oversize
    record still publishes alone, like a broker accepting a batch larger
    than segment.bytes into a fresh segment."""
    if seg_bytes is None:
        yield lines
        return
    chunk: list[str] = []
    size = 0
    for ln in lines:
        n = len(ln.encode("utf-8")) + 1
        if chunk and size + n > seg_bytes:
            yield chunk
            chunk, size = [], 0
        chunk.append(ln)
        size += n
    if chunk:
        yield chunk


def _publish_lines(root: str, topic: str, parts, cfg: dict,
                   codec: str | None = None,
                   client_id: str | None = None) -> None:
    """The one produce publish step: each ``(pid, lines)`` of ``parts``
    becomes segments, rolled at the topic's ``segment.bytes``
    (_chunk_lines). ``codec`` is the producer's normalized codec and wins
    when given; else the topic's ``compression.type`` applies (Kafka's
    'producer' default: the topic honors the sender's codec). ``cfg`` is
    the caller's ``_topic_config`` read. ``parts`` is consumed lazily, so
    a generator can hand over one staged file at a time. With
    ``client_id``, the UNCOMPRESSED wire bytes (encoded bytes + newline,
    what the broker meters) are charged to its KIP-13 produce quota and
    the caller backs off like a throttled client; an empty publish is not
    metered."""
    codec = codec or _norm_compression(cfg.get("compression.type"))
    sb = cfg.get("segment.bytes")
    seg_bytes = int(sb) if sb is not None else None
    wire = 0
    for pid, lines in parts:
        wire += sum(len(ln.encode("utf-8")) + 1 for ln in lines)
        for chunk in _chunk_lines(lines, seg_bytes):
            _publish_segment(_part_dir(root, topic, pid), chunk,
                             compression=codec)
    if client_id is not None and wire:
        tms = TopicLog(root).record_quota_usage(client_id, "produce", wire)
        if tms:
            time.sleep(tms / 1000.0)


def _scan_segment(path: str, seg_start: int) -> Iterator[tuple[int, dict, str]]:
    """Yield (offset, record, line) for the non-blank lines of one segment
    — the one per-line parse the admin scans share. Blank lines are
    skipped, as the columnar reader skips them. Append segments are dense
    (the i-th record sits at ``seg_start + i``); compacted segments carry
    explicit, possibly-gapped offsets (``"o"``)."""
    with _open_seg(path) as f:
        for i, line in enumerate(ln for ln in f if ln.strip()):
            rec = json.loads(line)
            yield rec.get("o", seg_start + i), rec, line.rstrip("\n")


def _read_range(
    root: str, topic: str, pid: int, start: int, end: int,
    include_headers: bool = False,
    excluded_txns: frozenset[str] | None = None,
) -> Iterator[tuple]:
    """Envelope tuples for offsets [start, end) of one partition: a row
    view over _read_range_arrow, in the envelope's column order.
    ``include_headers`` appends the Kafka source's headers column (ordered
    (key, value) pairs, None when the record carries none). Control records
    and ``excluded_txns`` leave offset GAPS, as in _read_range_arrow."""
    for batch in _read_range_arrow(root, topic, pid, start, end,
                                   excluded_txns=excluded_txns,
                                   include_headers=include_headers):
        cols = [c.to_pylist() for c in batch.columns]
        if include_headers:
            cols[7] = [None if hs is None
                       else [(h["key"], h["value"]) for h in hs]
                       for hs in cols[7]]
        yield from zip(*cols)


def _seg_table(path: str, seg_start: int, start: int, end: int,
               excluded_txns: frozenset[str] | None = None,
               include_headers: bool = False):
    """Parse one segment file with pyarrow's C++ JSONL reader and return
    (table-of-{key,value,ts_us[,headers]}, offset array) for the rows in
    [start, end), or None if the range misses. The wire format keeps UTF-8
    payloads as plain JSON strings (``ks``/``vs``), so the hot path is a
    zero-Python columnar parse + a zero-copy string→binary cast (~14× over
    per-line ``json.loads``); only legacy/binary base64 fields drop to a
    per-row decode loop, and only for the rows of THIS segment. Header
    values are always base64 on the wire (``h`` = ``[[key, b64], ...]``),
    so ``include_headers`` adds the ``h`` field to the parse and decodes it
    per row, after the range and txn filters. Control records
    are always masked out; ``excluded_txns`` adds the read_committed
    transaction filter — both columnar ``is_in`` passes that cost nothing
    when the segment carries no txn fields (all-null fast path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    wire = pa.schema(
        [
            pa.field("k", pa.string()),
            pa.field("ks", pa.string()),
            pa.field("v", pa.string()),
            pa.field("vs", pa.string()),
            pa.field("ts", pa.int64()),
            pa.field("o", pa.int64()),
            pa.field("x", pa.string()),
            pa.field("ctl", pa.string()),
        ]
    )
    if include_headers:
        wire = wire.append(pa.field("h", pa.list_(pa.list_(pa.string()))))
    if os.path.getsize(path) == 0:
        # delete_records can leave a zero-record spanning/active segment
        # (its name still carries the logical span); Arrow's JSON reader
        # rejects empty input outright
        return None
    tbl = _read_json_seg(path, wire)
    n = tbl.num_rows
    if n == 0:
        return None
    if tbl["o"].null_count == n:
        # dense append segment: offset ≡ seg_start + line index, so the
        # range restriction is pure slice arithmetic — no filter pass
        lo, hi = max(0, start - seg_start), min(n, end - seg_start)
        if hi <= lo:
            return None
        tbl = tbl.slice(lo, hi - lo)
        offs = pa.array(range(seg_start + lo, seg_start + hi), pa.int64())
    else:
        # compacted segment: explicit, possibly gapped offsets
        o = tbl["o"]
        tbl = tbl.filter(pc.and_(pc.greater_equal(o, start), pc.less(o, end)))
        if tbl.num_rows == 0:
            return None
        offs = tbl["o"].combine_chunks()
    # txn visibility: drop control records always; drop excluded txn ids
    # under read_committed. Offsets were attached above, so the surviving
    # rows keep their true (now gapped) positions.
    mask = None
    if tbl["ctl"].null_count != tbl.num_rows:
        mask = pc.is_null(tbl["ctl"])
    if excluded_txns and tbl["x"].null_count != tbl.num_rows:
        keep = pc.invert(
            pc.is_in(tbl["x"], value_set=pa.array(sorted(excluded_txns),
                                                  pa.string()))
        )
        # is_in is false for nulls, so invert keeps non-txn rows too
        mask = keep if mask is None else pc.and_(mask, keep)
    if mask is not None:
        offs = pa.chunked_array([offs]).filter(mask).combine_chunks()
        tbl = tbl.filter(mask)
        if tbl.num_rows == 0:
            return None

    def as_binary(b64_col, str_col):
        if b64_col.null_count == len(b64_col):
            return pc.cast(str_col, pa.binary())
        bs, ss = b64_col.to_pylist(), str_col.to_pylist()
        return pa.array(
            [
                s.encode("utf-8") if s is not None
                else (None if b is None else base64.b64decode(b))
                for b, s in zip(bs, ss)
            ],
            pa.binary(),
        )

    cols = {
        "key": as_binary(tbl["k"], tbl["ks"]),
        "value": as_binary(tbl["v"], tbl["vs"]),
        "ts_us": pc.multiply(tbl["ts"], pa.scalar(1000, pa.int64())),
    }
    if include_headers:
        cols["headers"] = pa.array(
            [_wire_to_headers(h) for h in tbl["h"].to_pylist()], _headers_type())
    return pa.table(cols), offs


def _headers_type():
    """Arrow type of the envelope's ``headers`` column (HEADERS_DDL)."""
    import pyarrow as pa

    return pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))


def _read_range_arrow(
    root: str, topic: str, pid: int, start: int, end: int, batch_rows: int = 65536,
    excluded_txns: frozenset[str] | None = None, include_headers: bool = False,
):
    """Yield Arrow RecordBatches for offsets [start, end) of one partition.

    Per segment: one C++ JSONL parse + columnar casts (see _seg_table);
    per-row Python survives only for legacy base64 payloads and for the
    base64 header values of an ``include_headers`` read, which appends the
    Kafka source's ``headers`` column. Every scan takes this path (see
    _read_best); _read_range is its row view. CONTROL records (txn
    markers) are never yielded — Kafka never delivers them;
    ``excluded_txns`` additionally drops records of those transaction ids
    (the read_committed filter). Either filter leaves offset GAPS, exactly
    as a read_committed Kafka fetch does."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fields = [
        pa.field("key", pa.binary()),
        pa.field("value", pa.binary()),
        pa.field("topic", pa.string()),
        pa.field("partition", pa.int32()),
        pa.field("offset", pa.int64()),
        pa.field("timestamp", pa.timestamp("us", tz="UTC")),
        pa.field("timestampType", pa.int32()),
    ]
    if include_headers:
        fields.append(pa.field("headers", _headers_type()))
    schema = pa.schema(fields)
    for seg_start, count, path in _list_segments_tiered(root, topic, pid):
        if seg_start + count <= start:
            continue
        if seg_start >= end:
            break
        got = _seg_table(path, seg_start, start, end, excluded_txns,
                         include_headers)
        if got is None:
            continue
        seg, offs = got
        n = seg.num_rows
        cols = {
            "key": seg["key"],
            "value": seg["value"],
            "topic": pa.array([topic] * n, pa.string()),
            "partition": pa.array([pid] * n, pa.int32()),
            "offset": offs,
            "timestamp": pc.cast(seg["ts_us"], pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array([0] * n, pa.int32()),
        }
        if include_headers:
            cols["headers"] = seg["headers"]
        yield from pa.table(cols).cast(schema).to_batches(max_chunksize=batch_rows)


# ---------------------------------------------------------- driver-side admin
@dataclass
class TopicLog:
    """Driver-side admin + hand-pump producer (the reference tests' produce
    loop analog, test/test_Producer.coffee:52-64).

    ``principal`` is the authenticated identity every operation runs as
    (Kafka's ``User:ANONYMOUS`` default for an unauthenticated client).
    When the log root carries an ACL store (``.acls/`` exists — see
    ``streaming/acl.py``), produce/consume/admin calls are authorized
    against it with the broker's deny-beats-allow evaluation; without
    one, everything is allowed, exactly like a broker running without
    ``authorizer.class.name``."""

    root: str
    principal: str = "User:ANONYMOUS"

    def _require(self, operation: str, rtype: str, rname: str) -> None:
        from rdkafka_streams_spark.streaming.acl import AclStore

        AclStore(self.root).require(self.principal, operation, rtype, rname)

    def create_topic(self, topic: str, partitions: int = 1) -> None:
        # broker rule: CREATE on the cluster OR on the (literal/prefixed)
        # topic name authorizes auto-creation
        from rdkafka_streams_spark.streaming.acl import AclStore

        store = AclStore(self.root)
        if not (
            store.authorize(self.principal, "CREATE", "cluster", "kafka-cluster")
            or store.authorize(self.principal, "CREATE", "topic", topic)
        ):
            self._require("CREATE", "topic", topic)  # raise with detail
        for pid in range(partitions):
            os.makedirs(_part_dir(self.root, topic, pid), exist_ok=True)

    def topics(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)) and not d.startswith(".")
        )

    def partitions(self, topic: str) -> list[int]:
        return _list_partitions(self.root, topic)

    def delete_topic(self, topic: str) -> None:
        """``AdminClient.deleteTopics`` analog: remove the topic and all
        its data. Refuses unknown topics (UNKNOWN_TOPIC_OR_PARTITION) and
        dot-prefixed/internal names; like Kafka, committed group offsets
        for the topic are NOT cleaned up here (they expire separately —
        offsets.retention semantics), so a recreated topic starts at 0
        with stale commits clamped by the readers' range checks."""
        _check_name(topic, "topic")
        self._require("DELETE", "topic", topic)
        path = os.path.join(self.root, topic)
        if not os.path.isdir(path):
            raise ValueError(f"unknown topic {topic!r}")
        import shutil

        shutil.rmtree(path)
        # tiered copies go with the topic (a broker's remote-log cleaner)
        shutil.rmtree(os.path.join(self.root, ".remote", topic),
                      ignore_errors=True)

    def describe_log_dirs(self, topic: str | None = None) -> dict:
        """``AdminClient.describeLogDirs`` analog: per topic-partition
        on-disk size in bytes and segment count — the capacity-planning
        view operators actually watch. Metadata-sized (directory stats
        only, no record reads)."""
        out: dict = {}
        for t in [topic] if topic is not None else self.topics():
            parts = {}
            for pid in _list_partitions(self.root, t):
                pdir = _part_dir(self.root, t, pid)
                segs = _list_segments(pdir)
                parts[pid] = {
                    "size_bytes": sum(
                        os.path.getsize(path) for _, _, path in segs
                    ),
                    "n_segments": len(segs),
                }
                rdir = _remote_dir(self.root, t, pid)
                if os.path.isdir(rdir):  # tiered topics also report the
                    # remote tier (a broker's remote-log size metrics)
                    rsegs = _list_segments(rdir)
                    parts[pid]["remote_size_bytes"] = sum(
                        os.path.getsize(path) for _, _, path in rsegs
                    )
                    parts[pid]["n_remote_segments"] = len(rsegs)
                    # the KIP-405 dual-copy window: segments uploaded
                    # eagerly whose local copy hasn't hit local retention
                    # yet — held in BOTH tiers, served from local
                    local_keys = {(s, c) for s, c, _ in segs}
                    parts[pid]["n_dual_segments"] = sum(
                        1 for s, c, _ in rsegs if (s, c) in local_keys
                    )
            if not parts and not os.path.isdir(os.path.join(self.root, t)):
                raise ValueError(f"unknown topic {t!r}")
            out[t] = parts
        return out

    def end_offsets(self, topic: str) -> dict[int, int]:
        return {
            pid: _end_offset(_part_dir(self.root, topic, pid))
            for pid in _list_partitions(self.root, topic)
        }

    # ------------------------------------------------- consumer-group offsets
    # The __consumer_offsets analog: committed positions per
    # (group, topic, partition), durable beside the log. librdkafka exposes
    # the same triple through committed()/position() and its statistics
    # callback's per-partition ``consumer_lag`` — the reference's Consumer
    # rides those semantics implicitly via auto-commit. Files live under
    # <root>/.groups/<group>/<topic>.json (dot-dir: invisible to topics()),
    # written atomically (tmp + os.replace) so a crashed committer leaves
    # the previous generation readable, like the compacted
    # __consumer_offsets topic always holding the last whole record.

    def _group_file(self, group: str, topic: str) -> str:
        # both path components are user strings — validate both, or
        # commit_offsets(group, "../x", ...) escapes the group directory
        for label, part in (("group id", group), ("topic", topic)):
            _check_name(part, label)
        return os.path.join(self.root, ".groups", group, f"{topic}.json")

    def commit_offsets(
        self,
        group: str,
        topic: str,
        offsets: dict[int, int],
        *,
        generation: int | None = None,
        metadata: dict[int, str] | None = None,
        instance_id: str | None = None,
        member_token: int | None = None,
    ) -> None:
        """Merge ``{partition: offset}`` into the group's committed state.
        Offsets are positions-to-resume-from (the NEXT offset to read, like
        Kafka's commit contract), validated non-negative; partitions not in
        ``offsets`` keep their previous commit. Rewinds are allowed —
        committing a lower offset is how a group replays, same as
        ``commitSync`` with an earlier position.

        ``generation`` is the zombie-commit fence (Kafka's OffsetCommit
        carries the member's generation id; the coordinator rejects commits
        from a superseded generation with ILLEGAL_GENERATION so a member
        that missed a rebalance — or an admin reset — cannot clobber state
        it no longer owns). None = the standalone/``assign()`` posture
        (Kafka's generation −1), which always commits. ``metadata`` is the
        per-partition opaque commit-metadata string Kafka stores alongside
        each offset (consumers stash resume context there).

        ``instance_id``/``member_token`` extend the fence to STATIC
        membership (KIP-345): a bounced member's replacement takes a new
        token WITHOUT a generation bump, so generation alone cannot fence
        the pre-bounce zombie's commits — Kafka rejects OffsetCommit from
        a fenced ``group.instance.id`` with FENCED_INSTANCE_ID, and so
        does this when the token is presented. Static members should
        commit with both."""
        # broker rule: OffsetCommit needs READ on the group AND the topic
        self._require("READ", "group", group)
        self._require("READ", "topic", topic)
        for pid, off in offsets.items():
            if int(off) < 0:
                raise ValueError(f"negative offset {off} for partition {pid}")
        if generation is not None:
            cur_gen = self.group_generation(group)
            if int(generation) != cur_gen:
                raise IllegalGenerationError(
                    f"commit from generation {generation} rejected: group "
                    f"{group!r} is at generation {cur_gen} (zombie fenced)"
                )
        if instance_id is not None:
            cur_tok = self._group_state(group).get(
                "instances", {}).get(instance_id)
            if cur_tok is None:
                raise ValueError(
                    f"unknown group.instance.id {instance_id!r} "
                    f"in group {group!r}"
                )
            if member_token is None or int(member_token) != int(cur_tok):
                raise FencedInstanceIdError(
                    f"commit from instance {instance_id!r} token "
                    f"{member_token} fenced: a newer member holds token "
                    f"{cur_tok}"
                )
        path = self._group_file(group, topic)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cur = self.committed_full(group, topic)
        for p, o in offsets.items():
            ent = {"o": int(o)}
            m = (metadata or {}).get(p)
            if m is None and int(p) in cur:
                m = cur[int(p)].get("m")  # metadata survives plain commits
            if m is not None:
                ent["m"] = str(m)
            cur[int(p)] = ent
        out = {str(p): e for p, e in sorted(cur.items())}
        # file-level last-commit stamp, the expiration clock (KIP-211
        # expires a group's offsets relative to its LAST activity, not
        # per-partition — this matches the modern group-level behavior)
        out["__meta"] = {"ts": int(time.time() * 1000)}
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(out, f)
        os.replace(tmp, path)

    def committed(self, group: str, topic: str) -> dict[int, int]:
        """The group's committed ``{partition: offset}`` (empty when the
        group has never committed for this topic — a fresh group, which
        Kafka resolves through auto.offset.reset)."""
        return {p: e["o"] for p, e in self.committed_full(group, topic).items()}

    def committed_full(self, group: str, topic: str) -> dict[int, dict]:
        """Committed state with commit metadata: ``{partition: {"o": offset,
        "m": metadata?}}`` — the full OffsetFetch response shape. Reads both
        the bare-int legacy file layout and the entry layout."""
        path = self._group_file(group, topic)
        if not os.path.exists(path):
            return {}
        with open(path, encoding="utf-8") as f:
            raw = json.load(f)
        return {
            int(p): (dict(e) if isinstance(e, dict) else {"o": int(e)})
            for p, e in raw.items()
            if p.lstrip("-").isdigit()  # "__meta" is bookkeeping, not a pid
        }

    def delete_group(self, group: str) -> list[str]:
        """``AdminClient.deleteConsumerGroups`` / ``kafka-consumer-groups
        --delete``: drop the group — its committed offsets for every
        topic, its coordination state (generation, assignment, tokens),
        and its session stamps. Refuses a group with LIVE members
        (Kafka's GROUP_NOT_EMPTY / NON_EMPTY_GROUP error: members must
        leave — here via ``remove_member`` or ``expire_members`` — before
        deletion) and an unknown group (GROUP_ID_NOT_FOUND). Returns the
        topics whose offsets were dropped."""
        if group not in self.groups():
            raise ValueError(f"unknown group {group!r}")
        members = self._group_state(group).get("members") or []
        if members:
            raise ValueError(
                f"group {group!r} is not empty (live members: "
                f"{sorted(members)}); remove them before deleting "
                "(Kafka's GROUP_NOT_EMPTY)"
            )
        gdir = os.path.dirname(self._group_file(group, "t"))
        topics = sorted(
            n[:-5] for n in os.listdir(gdir)
            if n.endswith(".json") and ".tmp-" not in n
            and not n.startswith(".")
        )
        import shutil

        shutil.rmtree(gdir)
        return topics

    def verify_log(self, topic: str) -> dict[int, dict]:
        """Log-integrity audit (the ``DumpLogSegments`` / post-incident
        check an operator runs): per partition, re-read every segment in
        BOTH tiers and verify (a) every line parses and carries ``ts``,
        (b) offsets are strictly increasing and match the name contract
        (dense from the name's start when no explicit ``"o"``, inside
        the name's span when gapped), (c) segment spans don't overlap
        and the log ends at end_offsets, (d) ``.timeindex`` sidecars are
        fresh (size-matched). Returns per-partition
        {records, segments, issues: [...]}; an empty issues list
        everywhere = a log the readers can serve end-to-end."""
        out: dict[int, dict] = {}
        for pid in _list_partitions(self.root, topic):
            issues: list[str] = []
            records = 0
            prev_end = 0
            segs = _list_segments_tiered(self.root, topic, pid)
            for seg_start, count, path in segs:
                name = os.path.basename(path)
                if seg_start < prev_end:
                    issues.append(
                        f"{name}: span overlaps previous segment "
                        f"(starts {seg_start} < {prev_end})"
                    )
                prev_end = max(prev_end, seg_start + count)
                last_off = None
                n_lines = 0
                gapped = False
                try:
                    for i, (off, rec, _ln) in enumerate(
                            _scan_segment(path, seg_start)):
                        if "ts" not in rec:
                            issues.append(f"{name}:{i}: record missing ts")
                        gapped = gapped or "o" in rec
                        if not seg_start <= off < seg_start + count:
                            issues.append(
                                f"{name}:{i}: offset {off} outside the "
                                f"name's span [{seg_start}, "
                                f"{seg_start + count})"
                            )
                        if last_off is not None and off <= last_off:
                            issues.append(
                                f"{name}:{i}: offset {off} not "
                                f"increasing after {last_off}"
                            )
                        last_off = off
                        n_lines += 1
                except (OSError, ValueError) as exc:
                    issues.append(f"{name}: unreadable ({exc})")
                if n_lines and not gapped and n_lines != count:
                    # a DENSE segment's line count must equal its name
                    # count — dense offsets are synthesized seg_start+i,
                    # so a lost line would silently renumber every later
                    # record; this is the only way to catch it. (A gapped
                    # segment's name carries the logical SPAN, and the
                    # empty spanning segments trim leaves behind carry no
                    # lines to judge — both legitimately differ.)
                    issues.append(
                        f"{name}: dense segment holds {n_lines} lines but "
                        f"its name claims {count} records"
                    )
                records += n_lines
                tix = path + ".timeindex"
                if os.path.exists(tix):
                    try:
                        with open(tix, encoding="utf-8") as f:
                            idx = json.load(f)
                        if idx.get("src_size") != os.path.getsize(path):
                            issues.append(f"{name}: stale timeindex sidecar")
                    except (OSError, ValueError):
                        issues.append(f"{name}: corrupt timeindex sidecar")
            end = _end_offset(_part_dir(self.root, topic, pid))
            if segs and prev_end != end:
                issues.append(
                    f"log ends at {prev_end} but end_offsets says {end}"
                )
            out[pid] = {"records": records, "segments": len(segs),
                        "issues": issues}
        return out

    def expire_group_offsets(
        self, retention_ms: int, now_ms: int | None = None
    ) -> dict[str, list[str]]:
        """``offsets.retention.ms``: drop every (group, topic) commit file
        whose last commit is older than the retention window, and delete
        groups left with no offsets at all (Kafka's coordinator removes
        the group once its last offset expires). Kafka only expires
        INACTIVE groups; with no live-member registry, running this
        one-shot is the admin's assertion of inactivity — same
        single-writer window as compact()/run_retention(). Files
        predating the commit-stamp layout are grandfathered (stamped
        now, expirable one retention later, never silently dropped).
        Returns ``{group: [topics whose offsets expired]}``."""
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        out: dict[str, list[str]] = {}
        for group in self.groups():
            gdir = os.path.dirname(self._group_file(group, "t"))
            for name in sorted(os.listdir(gdir)):
                if not name.endswith(".json") or ".tmp-" in name \
                        or name.startswith("."):
                    continue
                path = os.path.join(gdir, name)
                with open(path, encoding="utf-8") as f:
                    raw = json.load(f)
                meta = raw.get("__meta")
                if not isinstance(meta, dict) or "ts" not in meta:
                    raw["__meta"] = {"ts": now}  # grandfather legacy files
                    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
                    with open(tmp, "w", encoding="utf-8") as f:
                        json.dump(raw, f)
                    os.replace(tmp, path)
                    continue
                if now - int(meta["ts"]) > retention_ms:
                    os.remove(path)
                    out.setdefault(group, []).append(name[:-5])
            remaining = [
                n for n in os.listdir(gdir)
                if n.endswith(".json") and ".tmp-" not in n
                and not n.startswith(".")
            ]
            st = self._group_state(group)
            if not remaining and not (st.get("members") or []):
                # last offset gone AND no live membership -> the group is
                # gone (the coordinator removes EMPTY groups only; a group
                # with a standing assignment keeps its generation/token
                # state even with zero commits — wiping it would reset the
                # fence history and orphan its members' heartbeats)
                import shutil

                shutil.rmtree(gdir)
        return out

    # -------------------------------------------- group membership / fencing
    # Kafka's group coordinator bumps generation_id on every rebalance
    # (JoinGroup); members carry it on every OffsetCommit and a stale id is
    # fenced with ILLEGAL_GENERATION. The durable analog: one counter per
    # group beside its offset files. No heartbeat/session machinery — the
    # topiclog transport has no live members to time out; what matters for
    # correctness (and what the tests + q278 exercise) is the fencing
    # contract itself: after a bump, every commit from the old generation
    # is rejected, so an admin reset or a rebalance can never be clobbered
    # by a straggler's in-flight commit.

    def _state_file(self, group: str) -> str:
        return os.path.join(
            os.path.dirname(self._group_file(group, "t")), ".state.json"
        )

    def _hb_file(self, group: str, instance_id: str) -> str:
        """Per-member session-clock stamp. Stamps live OUTSIDE the shared
        group state file on purpose: heartbeats are the high-frequency
        concurrent op every member runs, and a read-modify-write of the
        whole state there would let one member's heartbeat clobber a
        concurrent join's token bump (lost-update). One file per member =
        one writer per file = no cross-member race."""
        _check_name(instance_id, "group.instance.id")
        return os.path.join(
            os.path.dirname(self._group_file(group, "t")),
            ".hb", f"{instance_id}.json",
        )

    def _stamp_hb(self, group: str, instance_id: str,
                  now_ms: int | None = None) -> None:
        path = self._hb_file(group, instance_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(int(time.time() * 1000) if now_ms is None
                      else int(now_ms), f)
        os.replace(tmp, path)

    def _read_hb(self, group: str, instance_id: str) -> int | None:
        try:
            with open(self._hb_file(group, instance_id),
                      encoding="utf-8") as f:
                return int(json.load(f))
        except (OSError, ValueError):
            return None

    def group_generation(self, group: str) -> int:
        """Current generation id (0 = group has never been joined)."""
        path = self._state_file(group)
        if not os.path.exists(path):
            return 0
        with open(path, encoding="utf-8") as f:
            return int(json.load(f).get("generation", 0))

    def _group_state(self, group: str) -> dict:
        path = self._state_file(group)
        if not os.path.exists(path):
            return {}
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def _write_group_state(self, group: str, state: dict) -> None:
        path = self._state_file(group)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    def join_group(self, group: str) -> int:
        """Bump and return the group's generation (the rebalance analog).
        Every member of the new generation commits with this id; commits
        carrying any older id are fenced from then on. Non-generation
        state (the stored assignment) is preserved — it describes the
        group's last sync even while a new rebalance is in flight."""
        self._require("READ", "group", group)
        state = self._group_state(group)
        state["generation"] = int(state.get("generation", 0)) + 1
        self._write_group_state(group, state)
        return state["generation"]

    def rebalance_group(
        self,
        group: str,
        topics: str | Sequence[str],
        members: Sequence[str],
        strategy: str = "range",
    ) -> dict:
        """Full group rebalance: JoinGroup + leader assignment + SyncGroup
        in one durable step. Bumps the generation (fencing every commit
        from the previous membership), runs the named
        ``partition.assignment.strategy`` (range / roundrobin / sticky /
        cooperative-sticky — `streaming/assignors.py`) over the topics'
        current partitions with the group's PRIOR stored assignment as
        the stickiness input, and persists the result in the group state
        (the SyncGroup response members fetch). Returns
        ``{"generation": g, "strategy": s, "assignment": {member:
        [[topic, pid], ...]}, "revoked": [[topic, pid], ...]}`` —
        ``revoked`` (owner-changing partitions, KIP-429's first-round
        revocations) is only non-empty for cooperative-sticky.
        Metadata-sized: one state file write, no log scan."""
        from rdkafka_streams_spark.streaming.assignors import (
            assign,
            cooperative_rebalance,
        )

        if isinstance(topics, str):
            topics = [topics]
        parts: dict[str, list[int]] = {}
        for t in topics:
            ps = _list_partitions(self.root, t)
            if not ps and not os.path.isdir(os.path.join(self.root, t)):
                raise ValueError(f"unknown topic {t!r}")
            parts[t] = ps
        state = self._group_state(group)
        prior = state.get("assignment") or {}
        prior = {m: [tuple(tp) for tp in tps] for m, tps in prior.items()}
        if strategy == "cooperative-sticky":
            target, revoked = cooperative_rebalance(members, parts, prior)
        else:
            target, revoked = assign(strategy, members, parts, prior), []
        state["generation"] = int(state.get("generation", 0)) + 1
        state["strategy"] = strategy
        state["members"] = sorted(members)
        state["topics"] = sorted(topics)
        state["assignment"] = {
            m: [[t, p] for t, p in tps] for m, tps in target.items()
        }
        self._write_group_state(group, state)
        return {
            "generation": state["generation"],
            "strategy": strategy,
            "assignment": state["assignment"],
            "revoked": [[t, p] for t, p in revoked],
        }

    # ------------------------------------- static membership (KIP-345)
    # group.instance.id: assignment is keyed by the STABLE instance id
    # (exactly KIP-345's move — member.id churn stops mattering), so a
    # bounced member gets its old partitions back without a rebalance.
    # Each join hands out a fresh member token; the previous holder of
    # the instance id is fenced (FENCED_INSTANCE_ID) on its next
    # heartbeat — replacement without churn. Removal is an ADMIN act
    # (removeMembersFromConsumerGroup), the only thing that rebalances.

    @staticmethod
    def _next_member_token(state: dict, instance_id: str) -> int:
        """Issue the next member token for an instance id — always
        strictly above BOTH the live token and the retained floor.

        r13 marker-family audit: eviction/removal used to ``pop`` the
        instance's token entirely, so a later rejoin restarted the
        counter at 1 — the delete-then-reclaim hazard class (a zombie
        holding old token N and a reborn member reaching token N after N
        rejoins would BOTH pass ``heartbeat``'s equality fence). The
        ``instance_floor`` map retains the last token across eviction
        (the same monotonic-floor pattern as
        ``ShareGroup.gc_epoch_markers``), so a token value, once fenced,
        is never handed out again. Invariant: deleted ⇒ never
        re-claimable, because issuance reads ``max(live, floor) + 1``
        and the floor is only ever raised."""
        return max(
            int(state.get("instances", {}).get(instance_id, 0)),
            int(state.get("instance_floor", {}).get(instance_id, 0)),
        ) + 1

    @staticmethod
    def _retire_member_token(state: dict, instance_id: str) -> None:
        """Evict an instance's live token, retaining it as the floor so
        rejoin issuance never rewinds (see ``_next_member_token``)."""
        tok = state.get("instances", {}).pop(instance_id, None)
        if tok is not None:
            floor = state.setdefault("instance_floor", {})
            floor[instance_id] = max(int(floor.get(instance_id, 0)),
                                     int(tok))

    def static_join(
        self,
        group: str,
        topics: str | Sequence[str],
        instance_id: str,
        strategy: str = "range",
    ) -> dict:
        """JoinGroup with ``group.instance.id=instance_id``. A KNOWN
        instance with a stored assignment gets it straight back — no
        generation bump, no reassignment (the rolling-restart path; a
        restart completing inside session.timeout never disturbs the
        group). An unknown instance triggers a full rebalance over the
        stored members plus this one. Either way the caller receives a
        fresh ``member_token`` and every earlier holder of this instance
        id is fenced. Returns ``{"generation", "assignment": [[topic,
        pid], ...], "member_token", "rebalanced"}``."""
        if not instance_id:
            raise ValueError("empty group.instance.id")
        if isinstance(topics, str):
            topics = [topics]
        state = self._group_state(group)
        known = state.get("assignment") or {}
        if instance_id in known and sorted(topics) == state.get("topics"):
            token = self._next_member_token(state, instance_id)
            state.setdefault("instances", {})[instance_id] = token
            self._write_group_state(group, state)
            # the session timer starts at join, like the coordinator's
            self._stamp_hb(group, instance_id)
            return {
                "generation": int(state.get("generation", 0)),
                "assignment": known[instance_id],
                "member_token": token,
                "rebalanced": False,
            }
        members = sorted(set(state.get("members") or []) | {instance_id})
        sync = self.rebalance_group(group, topics, members, strategy)
        state = self._group_state(group)
        token = self._next_member_token(state, instance_id)
        state.setdefault("instances", {})[instance_id] = token
        self._write_group_state(group, state)
        self._stamp_hb(group, instance_id)
        return {
            "generation": sync["generation"],
            "assignment": sync["assignment"][instance_id],
            "member_token": token,
            "rebalanced": True,
        }

    def heartbeat(self, group: str, instance_id: str, member_token: int,
                  now_ms: int | None = None) -> None:
        """The liveness check a static member runs between polls: raises
        FencedInstanceIdError when a newer member has joined under the
        same instance id (this holder must shut down — its partitions
        now belong to its replacement), and ValueError for an instance
        the group has never seen or has since removed. A passing
        heartbeat stamps the member's session clock — the timestamp
        ``expire_members`` (session.timeout.ms) evicts against."""
        cur = self._group_state(group).get("instances", {}).get(instance_id)
        if cur is None:
            raise ValueError(
                f"unknown group.instance.id {instance_id!r} in group {group!r}"
            )
        if int(member_token) != int(cur):
            raise FencedInstanceIdError(
                f"instance {instance_id!r} token {member_token} fenced: "
                f"a newer member holds token {cur}"
            )
        # per-member stamp file: no shared-state rewrite on the heartbeat
        # hot path (a read-modify-write here could clobber a concurrent
        # join's token bump)
        self._stamp_hb(group, instance_id, now_ms)

    def expire_members(self, group: str, session_timeout_ms: int,
                       now_ms: int | None = None) -> dict:
        """The coordinator's session-timeout sweep (``session.timeout.ms``):
        evict every member whose last heartbeat is older than
        now − timeout, then rebalance the survivors once (one generation
        bump, not one per eviction — Kafka's coordinator batches the
        rebalance the same way on a timeout cascade). This is the path a
        crashed STATIC member finally leaves by when no admin calls
        ``remove_member`` (KIP-345: static members don't rebalance on
        close; they wait out session.timeout). A member that has never
        heartbeated is stamped NOW and granted one full window rather
        than evicted on a clock it never saw (same grandfathering as
        offsets.retention). Returns {"expired": [...], "generation": n}."""
        if int(session_timeout_ms) <= 0:
            raise ValueError(
                f"session.timeout.ms must be positive, got {session_timeout_ms}"
            )
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        state = self._group_state(group)
        members = list(state.get("members") or [])
        if not members:
            return {"expired": [], "generation": int(state.get("generation", 0))}
        expired = []
        for m in members:
            last = self._read_hb(group, m)
            if last is None:
                # grandfather: one full window from now — the stamp file
                # survives independent of any rebalance writes, so the
                # window is granted exactly once
                self._stamp_hb(group, m, now)
            elif int(last) < now - int(session_timeout_ms):
                expired.append(m)
        if not expired:
            return {"expired": [], "generation": int(state.get("generation", 0))}
        survivors = [m for m in members if m not in expired]
        topics = state.get("topics") or []
        if survivors:
            sync = self.rebalance_group(
                group, topics, survivors, state.get("strategy", "range")
            )
            gen = sync["generation"]
        else:
            state["generation"] = int(state.get("generation", 0)) + 1
            state["members"] = []
            state["assignment"] = {}
            self._write_group_state(group, state)
            gen = state["generation"]
        state = self._group_state(group)
        for m in expired:  # invalidate tokens + stamps with the eviction
            # retain the token as a floor: rejoin must not rewind the
            # counter into values a zombie may still hold (r13 audit)
            self._retire_member_token(state, m)
            try:
                os.unlink(self._hb_file(group, m))
            except OSError:
                pass
        self._write_group_state(group, state)
        return {"expired": sorted(expired), "generation": gen}

    def remove_member(self, group: str, instance_id: str) -> dict:
        """``AdminClient.removeMembersFromConsumerGroup`` — the ONLY way
        a static member leaves (static members don't rebalance on
        close(), they wait out session.timeout or this admin call).
        Drops the instance, re-runs the stored strategy over the stored
        topics for the remaining members (generation bump fences the
        departed member's in-flight commits), and invalidates the
        instance's member token. Returns the new SyncGroup result, with
        an empty assignment once the last member is gone."""
        state = self._group_state(group)
        members = [m for m in (state.get("members") or []) if m != instance_id]
        if instance_id not in (state.get("members") or []):
            raise ValueError(
                f"unknown group.instance.id {instance_id!r} in group {group!r}"
            )
        topics = state.get("topics") or []
        if members:
            sync = self.rebalance_group(
                group, topics, members, state.get("strategy", "range")
            )
        else:
            state["generation"] = int(state.get("generation", 0)) + 1
            state["members"] = []
            state["assignment"] = {}
            self._write_group_state(group, state)
            sync = {
                "generation": state["generation"],
                "strategy": state.get("strategy", "range"),
                "assignment": {},
                "revoked": [],
            }
        state = self._group_state(group)
        self._retire_member_token(state, instance_id)
        self._write_group_state(group, state)
        return sync

    def reset_offsets(
        self,
        group: str,
        topic: str,
        to: str | int | dict[int, int] = "earliest",
        *,
        shift_by: int | None = None,
        fence: bool = True,
    ) -> dict[int, int]:
        """``kafka-consumer-groups.sh --reset-offsets`` analog, ``--execute``
        form. ``to``: ``"earliest"`` (--to-earliest: logStartOffset, i.e.
        re-read everything retention still holds), ``"latest"``
        (--to-latest: skip to the end), an epoch-ms int (--to-datetime via
        ``offsets_for_times``; partitions whose every record precedes the
        target resolve to the end offset, the tool's null→latest fallback),
        or an explicit ``{partition: offset}`` (--to-offset). ``shift_by``
        (--shift-by, mutually exclusive with ``to``) moves each committed
        position by a signed delta. Out-of-range targets clamp to
        [logStartOffset, endOffset] exactly like the tool's
        ``checkOffsetsRange``. ``fence=True`` bumps the group generation
        first — the real tool refuses to act on a non-empty group; with no
        live-member registry, fencing makes the same guarantee
        durably (any straggler's generation-carrying commit now fails)
        rather than socially. Returns what was committed."""
        if shift_by is not None and to != "earliest":
            # the real tool rejects combined reset specs; "earliest" is
            # this signature's default, so any OTHER `to` alongside
            # shift_by is two contradictory instructions
            raise ValueError(
                f"reset_offsets: shift_by={shift_by} and to={to!r} are "
                "mutually exclusive — pass exactly one reset spec"
            )
        begins = self.beginning_offsets(topic)
        ends = self.end_offsets(topic)
        if fence:
            self.join_group(group)
        if shift_by is not None:
            cur = self.committed(group, topic)
            target = {p: cur.get(p, begins[p]) + shift_by for p in ends}
        elif to == "earliest":
            target = dict(begins)
        elif to == "latest":
            target = dict(ends)
        elif isinstance(to, dict):
            target = {int(p): int(o) for p, o in to.items()}
        elif isinstance(to, int) and not isinstance(to, bool):
            byts = self.offsets_for_times(topic, to)
            target = {p: (o if o is not None else ends[p]) for p, o in byts.items()}
        else:
            raise ValueError(f"unsupported reset target {to!r}")
        clamped = {
            p: min(max(off, begins.get(p, 0)), ends.get(p, off))
            for p, off in target.items()
        }
        self.commit_offsets(group, topic, clamped)
        return clamped

    def groups(self) -> list[str]:
        gdir = os.path.join(self.root, ".groups")
        if not os.path.isdir(gdir):
            return []
        return sorted(
            d for d in os.listdir(gdir)
            if os.path.isdir(os.path.join(gdir, d))
        )

    # ------------------------------------------------------ client quotas
    # KIP-13 client quotas: producer_byte_rate / consumer_byte_rate per
    # client.id (or the '<default>' entity), enforced as the broker does —
    # measure the client's byte rate over a rolling window and DELAY the
    # response just long enough to bring the realized rate back to the
    # quota, reporting the delay as throttle_time_ms. Quota configs live
    # in <root>/.quotas.json; per-client window state in <root>/.quotas/.

    _QUOTA_KEYS = ("producer_byte_rate", "consumer_byte_rate")
    _QUOTA_WINDOW_MS = 1_000  # sample window, quota.window.size.seconds=1

    def _quota_cfg_file(self) -> str:
        return os.path.join(self.root, ".quotas.json")

    def alter_client_quotas(
        self, client_id: str, quotas: dict[str, int | None]
    ) -> dict:
        """``AdminClient.alterClientQuotas``: set/unset byte-rate quotas
        for a client.id (use ``"<default>"`` for the default entity —
        matched when a client has no specific entry, Kafka's quota
        resolution order). ``None`` deletes a key; an entity with no keys
        left is dropped. Returns the entity's effective config."""
        if client_id != "<default>":  # the default entity is a keyword,
            # everything else names a state file under .quotas/
            _check_name(client_id, "client id")
        cfg = {}
        try:
            with open(self._quota_cfg_file(), encoding="utf-8") as f:
                cfg = json.load(f)
        except (OSError, json.JSONDecodeError):
            pass
        ent = cfg.get(client_id, {})
        for k, v in quotas.items():
            if k not in self._QUOTA_KEYS:
                raise ValueError(
                    f"unsupported quota {k!r} (supported: {self._QUOTA_KEYS})"
                )
            if v is None:
                ent.pop(k, None)
            else:
                if int(v) <= 0:
                    raise ValueError(f"{k} must be positive, got {v}")
                ent[k] = int(v)
        if ent:
            cfg[client_id] = ent
        else:
            cfg.pop(client_id, None)
        tmp = self._quota_cfg_file() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cfg, f)
        os.replace(tmp, self._quota_cfg_file())
        return dict(ent)

    def describe_client_quotas(self) -> dict:
        """All configured quota entities (describeClientQuotas)."""
        try:
            with open(self._quota_cfg_file(), encoding="utf-8") as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def _quota_for(self, client_id: str, key: str) -> int | None:
        cfg = self.describe_client_quotas()
        ent = cfg.get(client_id)
        if ent is not None and key in ent:
            return int(ent[key])
        dflt = cfg.get("<default>", {})
        return int(dflt[key]) if key in dflt else None

    def record_quota_usage(
        self, client_id: str, kind: str, n_bytes: int,
        now_ms: int | None = None,
    ) -> int:
        """Record ``n_bytes`` of produce/consume against the client's
        quota and return the throttle_time_ms the broker would impose —
        a TOKEN BUCKET refilled at the quota rate with one window of
        burst capacity: a burst inside the window's allowance passes
        (Kafka's multi-sample Rate gives bursts the same tolerance),
        SUSTAINED overage pays exactly the deficit, and — unlike a
        resetting sample window — a never-idle client can neither bank
        unbounded idle credit (capacity caps the bucket) nor shed its
        overage debt at a window boundary (the deficit carries). Pure
        accounting: the CALLER sleeps (a broker delays the response; a
        good-citizen client backs off), which keeps this testable
        against a pinned clock. State is a per-(client, kind) file whose
        update is read-modify-write: concurrent committers sharing one
        client.id can lose an increment (bounded undercount — the same
        node-local approximation a multi-broker Kafka quota makes);
        one streaming query = one driver-side committer = exact."""
        if kind not in ("produce", "consume"):
            raise ValueError(f"kind must be produce|consume, got {kind!r}")
        quota = self._quota_for(
            client_id,
            "producer_byte_rate" if kind == "produce" else "consumer_byte_rate",
        )
        if quota is None:
            # no quota resolves -> pure no-op. Validation comes AFTER this
            # gate on purpose: Kafka's client.id allows any string, and a
            # quota-less pipeline must never start failing at its commit
            # boundary just because its id has a path separator — only an
            # id that actually names a quota state file is constrained.
            return 0
        try:
            _check_name(client_id, "client id")
        except ValueError:
            raise ValueError(
                f"client id {client_id!r} cannot carry a byte-rate quota: "
                "quota state is a file per (client, kind) and the id must "
                "be a clean path component"
            ) from None
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        cap = quota * self._QUOTA_WINDOW_MS / 1000.0  # one window of burst
        sdir = os.path.join(self.root, ".quotas")
        os.makedirs(sdir, exist_ok=True)
        spath = os.path.join(sdir, f"{client_id}.{kind}.json")
        tokens, ts = cap, now  # an unseen client starts with a full bucket
        try:
            with open(spath, encoding="utf-8") as f:
                prev = json.load(f)
            ts = int(prev["ts"])
            tokens = min(cap, float(prev["tokens"])
                         + quota * max(0, now - ts) / 1000.0)
        except (OSError, ValueError, KeyError):
            pass
        tokens -= int(n_bytes)
        throttle = int(max(0.0, -tokens * 1000.0 / quota))
        tmp = spath + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"ts": now, "tokens": tokens}, f)
        os.replace(tmp, spath)
        return throttle

    def create_partitions(self, topic: str, total: int) -> None:
        """``AdminClient.createPartitions``: grow the topic to ``total``
        partitions (Kafka only ever ADDS partitions — shrinking would
        orphan offsets). New partitions start empty at offset 0; keyed
        routing changes from the next produce on, exactly the broker's
        caveat that key→partition affinity breaks on expansion. Running
        consumers pick the new partitions up on their next micro-batch
        plan (the stream reader's new-partition-from-0 semantics)."""
        cur = _list_partitions(self.root, topic)
        if not cur and not os.path.isdir(os.path.join(self.root, topic)):
            raise ValueError(f"unknown topic {topic!r}")
        if total <= len(cur):
            raise ValueError(
                f"topic {topic!r} has {len(cur)} partitions; createPartitions "
                f"can only grow (got {total})"
            )
        for pid in range(len(cur), total):
            os.makedirs(_part_dir(self.root, topic, pid), exist_ok=True)

    def describe_group(self, group: str) -> dict:
        """``kafka-consumer-groups.sh --describe`` one-call overview:
        the group's generation plus, per topic it has commits for,
        per-partition {offset, metadata, end_offset, lag}. Metadata-sized
        (files only, no log scan beyond segment names)."""
        gdir = os.path.dirname(self._group_file(group, "t"))
        topics = (
            sorted(f[:-5] for f in os.listdir(gdir)
                   if f.endswith(".json") and ".tmp-" not in f
                   and not f.startswith("."))  # .state.json is not a topic
            if os.path.isdir(gdir) else []
        )
        state = self._group_state(group)
        out: dict = {"group": group,
                     "generation": int(state.get("generation", 0)),
                     "topics": {}}
        if "assignment" in state:  # last SyncGroup result, if any
            out["strategy"] = state.get("strategy")
            out["members"] = state.get("members")
            out["assignment"] = state["assignment"]
        if state.get("instances"):  # static members' live tokens (KIP-345)
            out["static_instances"] = dict(state["instances"])
        for t in topics:
            full = self.committed_full(group, t)
            ends = self.end_offsets(t)
            out["topics"][t] = {
                pid: {
                    "offset": full.get(pid, {}).get("o"),
                    "metadata": full.get(pid, {}).get("m"),
                    "end_offset": end,
                    "lag": max(0, end - full.get(pid, {}).get("o", 0)),
                }
                for pid, end in ends.items()
            }
        return out

    # ----------------------------------------------------- topic configs
    # The AdminClient alterConfigs/describeConfigs surface for the policy
    # knobs this log actually enforces: retention.ms / retention.bytes
    # (cleanup.policy=delete) and cleanup.policy=compact. Configs live in
    # <topic>/.config.json (dot-file: invisible to the partition listing);
    # run_retention() is the broker's log-cleaner thread as a one-shot —
    # the same offline single-writer window as compact()/delete_records.

    _CONFIG_KEYS = ("retention.ms", "retention.bytes", "cleanup.policy",
                    "delete.retention.ms", "compression.type",
                    "segment.bytes", "remote.storage.enable",
                    "local.retention.ms", "local.retention.bytes",
                    "max.message.bytes")

    def _config_file(self, topic: str) -> str:
        return os.path.join(self.root, topic, ".config.json")

    def describe_configs(self, topic: str) -> dict[str, str]:
        """Explicitly-set configs for the topic (empty = all defaults:
        infinite retention, cleanup.policy=delete), the describeConfigs
        DYNAMIC_TOPIC_CONFIG slice."""
        path = self._config_file(topic)
        if not os.path.exists(path):
            return {}
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def alter_configs(self, topic: str, configs: dict[str, str | int | None]) -> dict[str, str]:
        """Merge config overrides (``None`` deletes a key back to default).
        Unknown keys and non-numeric retention values are rejected up
        front, like the broker's INVALID_CONFIG. Returns the full config
        after the merge."""
        self._require("ALTER_CONFIGS", "topic", topic)
        if not os.path.isdir(os.path.join(self.root, topic)):
            raise ValueError(f"unknown topic {topic!r}")
        cur = self.describe_configs(topic)
        for k, v in configs.items():
            if k not in self._CONFIG_KEYS:
                raise ValueError(
                    f"unsupported config {k!r} (supported: {self._CONFIG_KEYS})"
                )
            if v is None:
                cur.pop(k, None)
                continue
            if k in ("retention.ms", "retention.bytes"):
                if int(v) <= 0:
                    raise ValueError(f"{k} must be positive, got {v}")
                cur[k] = str(int(v))
            elif k == "delete.retention.ms":
                if int(v) < 0:
                    raise ValueError(f"{k} must be >= 0, got {v}")
                cur[k] = str(int(v))
            elif k == "compression.type":
                _norm_compression(v)  # reject unknown codecs up front
                cur[k] = str(v).lower()
            elif k == "segment.bytes":
                # Kafka's LogConfig floor is one record's overhead; a sane
                # lower bound keeps a typo from exploding into per-record
                # segments
                if int(v) < 1024:
                    raise ValueError(f"segment.bytes must be >= 1024, got {v}")
                cur[k] = str(int(v))
            elif k in ("local.retention.ms", "local.retention.bytes",
                       "max.message.bytes"):
                if int(v) <= 0:
                    raise ValueError(f"{k} must be positive, got {v}")
                cur[k] = str(int(v))
            elif k == "remote.storage.enable":
                vs = str(v).lower()
                if vs not in ("true", "false"):
                    raise ValueError(f"{k} must be true|false, got {v!r}")
                if vs == "true" and cur.get("cleanup.policy") == "compact":
                    # Kafka's own restriction: tiered storage does not
                    # support compacted topics
                    raise ValueError(
                        "remote.storage.enable=true is incompatible with "
                        "cleanup.policy=compact (KIP-405 restriction)"
                    )
                cur[k] = vs
            else:
                if v not in ("delete", "compact"):
                    raise ValueError(f"cleanup.policy must be delete|compact, got {v!r}")
                if v == "compact" and \
                        str(cur.get("remote.storage.enable", "")).lower() == "true":
                    raise ValueError(
                        "cleanup.policy=compact is incompatible with "
                        "remote.storage.enable=true (KIP-405 restriction)"
                    )
                cur[k] = str(v)
        path = self._config_file(topic)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(cur, f)
        os.replace(tmp, path)
        return cur

    def delete_records_to_size(self, topic: str, max_bytes: int) -> dict[str, int]:
        """retention.bytes enforcement: per PARTITION (Kafka's unit), keep
        the newest whole segments whose cumulative file size fits
        ``max_bytes`` and truncate below — segment granularity, exactly a
        broker's size-based retention (the newest/active segment always
        survives, even oversized). With tiered storage the budget spans
        BOTH tiers — retention.bytes bounds the TOTAL log, local + remote
        (KIP-405's split: local.retention.bytes bounds the local tier)."""
        before: dict[int, int] = {}
        for pid in _list_partitions(self.root, topic):
            segs = _list_segments_tiered(self.root, topic, pid)
            if not segs:
                continue
            kept, boundary = 0, segs[-1][0]
            for seg_start, _count, path in reversed(segs):
                kept += os.path.getsize(path)
                if kept > max_bytes and seg_start != segs[-1][0]:
                    break
                boundary = seg_start
            if boundary > segs[0][0]:
                before[pid] = boundary
        return self.delete_records(topic, before)

    def tier_segments(self, topic: str, now_ms: int | None = None) -> dict[int, int]:
        """KIP-405 tiered storage, the broker's ACTUAL two-phase
        lifecycle (r8 verdict item 5 closed the documented divergence):

        1. **Eager copy** (RemoteLogManager's copy task): EVERY closed
           (non-active) segment not yet in the remote tier
           (``<root>/.remote/...``, the object-store stand-in) is copied
           there at once — not at expiry — via tmp + rename, time-index
           sidecar included. The local copy STAYS: this opens the
           dual-copy window a real broker holds between upload and
           local-retention expiry (``describe_log_dirs`` reports it as
           ``n_dual_segments``), during which reads serve the LOCAL copy
           (``_list_segments_tiered`` prefers local twins).
        2. **Local retention reap**: closed segments past
           ``local.retention.ms`` (largest timestamp off the KIP-33 time
           index older than now−R, prefix/take-while semantics like the
           broker's own walk) or outside the ``local.retention.bytes``
           budget have their LOCAL copy deleted — but ONLY if the remote
           copy exists (a segment that somehow missed phase 1 is never
           dropped; data loss is impossible by construction).

        The ACTIVE (newest) segment never tiers, exactly like a broker —
        which also keeps end_offsets a pure local listing. Reads stitch
        the tiers transparently; total retention.ms/bytes keep bounding
        the WHOLE log via run_retention. Crash ladder: a crash after any
        copy leaves a harmless dual segment (that IS the steady state
        now); a crash mid-copy leaves only an invisible tmp file,
        re-done next pass; a crash between reaps re-runs idempotently.
        Returns {partition: local segments reaped} (the local-tier
        shrink, same contract as before)."""
        cfg = self.describe_configs(topic)
        if str(cfg.get("remote.storage.enable", "false")).lower() != "true":
            raise ValueError(
                f"topic {topic!r}: remote.storage.enable is not true"
            )
        lr_ms = cfg.get("local.retention.ms")
        lr_bytes = cfg.get("local.retention.bytes")
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        moved: dict[int, int] = {}
        for pid in _list_partitions(self.root, topic):
            pdir = _part_dir(self.root, topic, pid)
            segs = _list_segments(pdir)
            if len(segs) <= 1:
                moved[pid] = 0
                continue
            candidates = segs[:-1]  # the active segment never tiers
            rdir = _remote_dir(self.root, topic, pid)
            # phase 1: eager copy — every closed segment reaches the
            # remote tier NOW (KIP-405 uploads at roll, not at expiry)
            import shutil
            for s, c, p in candidates:
                os.makedirs(rdir, exist_ok=True)
                dst = os.path.join(rdir, os.path.basename(p))
                if not os.path.exists(dst):
                    tmp = os.path.join(rdir, f".tier-{uuid.uuid4().hex}")
                    shutil.copyfile(p, tmp)
                    os.replace(tmp, dst)
                tix = p + ".timeindex"
                if os.path.exists(tix) and not os.path.exists(dst + ".timeindex"):
                    # tmp + rename like the segment itself: a crash
                    # mid-copy must not publish a truncated sidecar that
                    # the existence guard would then pin forever
                    ttmp = os.path.join(rdir, f".tierix-{uuid.uuid4().hex}")
                    shutil.copyfile(tix, ttmp)
                    os.replace(ttmp, dst + ".timeindex")
            # phase 2: local-retention reap of already-uploaded segments
            to_reap: list[tuple[int, int, str]] = []
            if lr_ms is not None:
                cutoff = now - int(lr_ms)
                for s, c, p in candidates:
                    # PREFIX (take-while) semantics: stop at the first
                    # surviving segment, even if a later one is older by
                    # CreateTime (non-monotonic stamps) — the local tier
                    # must stay a strict offset suffix, or
                    # localLogStartOffset and the tiered-listing merge
                    # ("remote segments are strictly older") break.
                    # Kafka's own segment retention walks the same way.
                    idx = _segment_time_index(p)
                    if idx["max_ts"] is None or idx["max_ts"] >= cutoff:
                        break
                    to_reap.append((s, c, p))
            if lr_bytes is not None:
                budget = int(lr_bytes)
                keep_paths = set()
                for s, c, p in reversed(segs):  # newest-first, incl. active
                    sz = os.path.getsize(p)
                    if budget - sz < 0 and p != segs[-1][2]:
                        break
                    budget -= sz
                    keep_paths.add(p)
                to_reap += [t for t in candidates if t[2] not in keep_paths]
            n = 0
            for s, c, p in sorted(set(to_reap)):
                if not os.path.exists(
                    os.path.join(rdir, os.path.basename(p))
                ):
                    continue  # never drop a local copy the remote lacks
                tix = p + ".timeindex"
                if os.path.exists(tix):
                    os.unlink(tix)
                os.unlink(p)
                n += 1
            moved[pid] = n
        return moved

    def run_retention(self, topic: str | None = None,
                      now_ms: int | None = None) -> dict[str, dict]:
        """One sweep of the log-cleaner: apply each topic's configured
        policy. cleanup.policy=compact → ``compact()``; delete (default) →
        ``retention.ms`` (records older than now−R reaped, via the
        time-boundary path) then ``retention.bytes`` (size cap per
        partition). ``now_ms`` pins the clock for deterministic tests and
        replayable maintenance jobs. Returns per-topic actions."""
        topics = [topic] if topic is not None else self.topics()
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        out: dict[str, dict] = {}
        if topic is None:  # full sweeps also prune sink txn metadata
            out["__txn_gc__"] = {"removed": self.gc_sink_txn_state()}
        for t in topics:
            cfg = self.describe_configs(t)
            acts: dict = {}
            if cfg.get("cleanup.policy") == "compact":
                acts["compacted"] = self.compact(t, now_ms=now)
            else:
                if str(cfg.get("remote.storage.enable", "false")).lower() == "true" \
                        and ("local.retention.ms" in cfg
                             or "local.retention.bytes" in cfg):
                    # tier first, then total retention bounds BOTH tiers
                    acts["tiered"] = self.tier_segments(t, now_ms=now)
                if "retention.ms" in cfg:
                    cutoff = now - int(cfg["retention.ms"])
                    acts["reaped_by_time"] = self.delete_records_before_timestamp(
                        t, cutoff
                    )
                if "retention.bytes" in cfg:
                    acts["reaped_by_size"] = self.delete_records_to_size(
                        t, int(cfg["retention.bytes"])
                    )
            out[t] = acts
        return out

    # ------------------------------------------------ producer transactions
    # Kafka's transactional produce: records of an open transaction ride
    # the log immediately (occupying offsets) but read_committed consumers
    # only see them once the producer commits; an abort hides them forever.
    # The broker tracks txn state in the coordinator's __transaction_state
    # topic and writes per-partition CONTROL records (commit/abort markers)
    # that consume offsets and are never delivered to applications. The
    # durable analog: one JSON state file per txn id under <root>/.txns/
    # (the coordinator), plus the same control records in the segments
    # (offset parity + self-describing log). Filtering reads the state
    # files — driver-side metadata, O(#txns), passed to executors with the
    # scan plan — never the markers, so a crash between marker append and
    # state flip leaves the txn open (pending, invisible to
    # read_committed), exactly Kafka's pessimistic window.

    def _txn_file(self, txn_id: str) -> str:
        _check_name(txn_id, "transactional id")
        return os.path.join(self.root, ".txns", f"{txn_id}.json")

    def _txn_write(self, txn_id: str, state: dict) -> None:
        path = self._txn_file(txn_id)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    def txn_state(self, txn_id: str) -> dict | None:
        """{"state": open|commit|abort, "partitions": {topic: [pid]}}
        or None for an unknown id."""
        path = self._txn_file(txn_id)
        if not os.path.exists(path):
            return None
        with open(path, encoding="utf-8") as f:
            return json.load(f)

    def begin_txn(self, txn_id: str, *, now_ms: int | None = None) -> None:
        """Open a transaction. Re-beginning a COMPLETED id starts a fresh
        transaction under the same transactional.id (Kafka's epoch bump —
        the old generation's outcome is already sealed in the log);
        re-beginning an OPEN id is an error (the zombie producer must
        abort or be fenced first). ``began_ms`` is stamped so the
        KIP-664 admin surface can report transaction DURATION (the
        hung-transaction signal ``list-transactions --older-than-ms``
        filters on)."""
        self._require("WRITE", "transactional_id", txn_id)
        st = self.txn_state(txn_id)
        if st is not None and st["state"] == "open":
            raise ValueError(f"transaction {txn_id!r} is already open")
        began = int(time.time() * 1000) if now_ms is None else int(now_ms)
        self._txn_write(
            txn_id, {"state": "open", "partitions": {}, "began_ms": began}
        )

    def _txn_touch(self, txn_id: str, topic: str, pids: list[int]) -> None:
        st = self.txn_state(txn_id)
        cur = set(st["partitions"].get(topic, []))
        add = set(int(p) for p in pids) - cur
        if add:
            st["partitions"][topic] = sorted(cur | add)
            lso = st.setdefault("lso", {}).setdefault(topic, {})
            for p in sorted(add):
                # the txn's first record in p lands at or above the
                # CURRENT end (touch happens BEFORE publish): record the
                # floor a read_committed planner must stall at — the LSO
                lso[str(p)] = _end_offset(_part_dir(self.root, topic, p))
            self._txn_write(txn_id, st)

    def last_stable_offsets(self, topic: str) -> dict[int, int]:
        """Kafka's LSO (last stable offset) per partition: the floor of
        the earliest still-OPEN transaction's first record, below which a
        ``read_committed`` fetch may safely serve data. Partitions absent
        from the result are ungated (LSO == log end). The streaming
        read_committed planner bounds every micro-batch at the LSO —
        without it, records of a transaction that commits AFTER the plan
        would be filtered by that batch and then skipped forever by the
        checkpoint (they sit below the committed planned offsets).
        Legacy open-txn states without a recorded floor are grandfathered
        ungated (pre-LSO behavior), never stalled at 0."""
        tdir = os.path.join(self.root, ".txns")
        out: dict[int, int] = {}
        if not os.path.isdir(tdir):
            return out
        for name in os.listdir(tdir):
            if not name.endswith(".json") or ".tmp-" in name:
                continue
            try:
                with open(os.path.join(tdir, name), encoding="utf-8") as f:
                    st = json.load(f)
            except (OSError, json.JSONDecodeError):
                continue
            if st.get("state") != "open":
                continue
            for p, floor in (st.get("lso", {}).get(topic, {})).items():
                pid = int(p)
                out[pid] = min(out.get(pid, int(floor)), int(floor))
        return out

    def _txn_finish(self, txn_id: str, outcome: str) -> None:
        st = self.txn_state(txn_id)
        if st is None or st["state"] != "open":
            raise ValueError(
                f"transaction {txn_id!r} is "
                f"{'unknown' if st is None else st['state']}; cannot {outcome}"
            )
        ts = int(time.time() * 1000)
        # markers first, state flip last: see block comment above
        for topic, pids in st["partitions"].items():
            for pid in pids:
                _publish_segment(
                    _part_dir(self.root, topic, pid),
                    [_encode_line(None, b"", ts, txn=txn_id, ctl=outcome)],
                )
        st["state"] = outcome
        st["ended_ms"] = ts
        self._txn_write(txn_id, st)

    def send_offsets_to_txn(
        self, txn_id: str, group: str, topic: str, offsets: dict[int, int],
        generation: int | None = None,
    ) -> None:
        """``producer.sendOffsetsToTransaction`` — the consume-transform-
        produce EOS closer: the consumer group's offsets ride INSIDE the
        producer transaction, so output records and input positions become
        visible in the same atomic step. Offsets are staged in the txn
        state file; ``commit_txn`` applies them to the group store,
        ``abort_txn`` discards them — a crashed cycle neither advances the
        group nor leaks output.

        ``generation`` is the consumer group's generation at staging time
        (Kafka's TxnOffsetCommit carries it for exactly this reason): it
        is re-checked when the transaction COMMITS, so an admin
        ``reset_offsets`` (which bumps the generation) that lands while
        the txn is in flight fences the staged offsets — the output still
        publishes, but the group position is NOT clobbered back over the
        reset."""
        st = self.txn_state(txn_id)
        if st is None or st["state"] != "open":
            raise ValueError(
                f"transaction {txn_id!r} is "
                f"{'unknown' if st is None else st['state']}; begin_txn first"
            )
        for pid, off in offsets.items():
            if int(off) < 0:
                raise ValueError(f"negative offset {off} for partition {pid}")
        self._group_file(group, topic)  # validate both name components
        if generation is not None:
            cur_gen = self.group_generation(group)
            if int(generation) != cur_gen:
                raise IllegalGenerationError(
                    f"txn offset commit from generation {generation} rejected:"
                    f" group {group!r} is at generation {cur_gen}"
                )
        staged = st.setdefault("offsets", {})
        ent = staged.setdefault(group, {}).setdefault(topic, {})
        ent.update({str(int(p)): int(o) for p, o in offsets.items()})
        if generation is not None:
            st.setdefault("offsets_gen", {})[group] = int(generation)
        self._txn_write(txn_id, st)
        # Residual window, documented: offsets apply AFTER the visibility
        # flip, so a crash exactly between them re-delivers the input cycle
        # (at-least-once inward, never lost output) — the batch-tagged
        # atomic sink's replay dedup absorbs it in the streaming path.

    def commit_txn(self, txn_id: str) -> None:
        """Seal the transaction: its records become visible to
        read_committed consumers. Appends one commit CONTROL record to
        every partition the txn touched (offset parity with a broker),
        then applies any offsets staged via ``send_offsets_to_txn`` to
        their group stores."""
        self._require("WRITE", "transactional_id", txn_id)
        self._txn_finish(txn_id, "commit")
        st = self.txn_state(txn_id)
        gens = st.get("offsets_gen") or {}
        for group, topics in (st.get("offsets") or {}).items():
            staged_gen = gens.get(group)
            if staged_gen is not None and staged_gen != self.group_generation(group):
                continue  # group was rebalanced/reset mid-txn: offsets are
                # fenced (output stays committed; the position does NOT
                # clobber the newer generation's state)
            for topic, offs in topics.items():
                self.commit_offsets(
                    group, topic, {int(p): o for p, o in offs.items()}
                )

    def abort_txn(self, txn_id: str) -> None:
        """Discard the transaction: its records stay in the log (offsets
        are immutable) but read_committed consumers never see them."""
        self._require("WRITE", "transactional_id", txn_id)
        self._txn_finish(txn_id, "abort")

    def gc_sink_txn_state(self, keep_last: int = 100) -> int:
        """Prune COMMITTED atomic-sink txn state files (``__sink-<query>-
        <batch>``), keeping the newest ``keep_last`` batches per query id —
        without GC the sink writes one small state file per micro-batch
        forever (the same growth __consumer_offsets solves with
        compaction). Safe because the engine only ever replays its LAST
        unacknowledged batch: a state file ``keep_last`` batches old can no
        longer be consulted by any replay. Open/aborted states are never
        pruned (read_committed filtering depends on them). Returns the
        number of files removed."""
        tdir = os.path.join(self.root, ".txns")
        if not os.path.isdir(tdir):
            return 0
        by_query: dict[str, list[tuple[int, str]]] = {}
        for name in os.listdir(tdir):
            if not (name.startswith("__sink-") and name.endswith(".json")) \
                    or ".tmp-" in name:
                continue
            stem = name[:-5]
            qid, _, bid = stem.rpartition("-")
            if not bid.isdigit():
                continue
            by_query.setdefault(qid, []).append((int(bid), name))
        removed = 0
        for _, entries in by_query.items():
            entries.sort()
            for _, name in entries[:-keep_last] if keep_last > 0 else entries:
                path = os.path.join(tdir, name)
                with open(path, encoding="utf-8") as f:
                    if json.load(f).get("state") != "commit":
                        continue  # open/aborted: visibility filter needs it
                os.unlink(path)
                removed += 1
        return removed

    # --------------------------------------- transaction admin (KIP-664)
    # kafka-transactions.sh: an OPEN transaction holds the LSO floor down,
    # wedging every read_committed consumer and share-fetch on the topics
    # it touched. Before KIP-664 the only remedy was knowing the txn id
    # out-of-band; these three give the operator list / describe /
    # forceful-abort, exactly the tool's surface.

    def list_transactions(
        self,
        *,
        state: str | None = None,
        older_than_ms: int | None = None,
        now_ms: int | None = None,
    ) -> list[dict]:
        """``kafka-transactions.sh list`` analog: one row per
        transactional id ever used on this root — id, state, age
        (duration since ``begin_txn`` for OPEN txns; None for sealed or
        legacy pre-timestamp states), touched-partition counts.
        ``state`` filters (open/commit/abort); ``older_than_ms``
        reproduces the tool's ``--duration-filter`` (only OPEN txns with
        a KNOWN age ≥ the threshold — the hung-transaction sweep).
        Metadata-sized: one read per txn state file, no log scan."""
        self._require("DESCRIBE", "cluster", "kafka-cluster")
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        tdir = os.path.join(self.root, ".txns")
        if not os.path.isdir(tdir):
            return []
        out: list[dict] = []
        for name in sorted(os.listdir(tdir)):
            if not name.endswith(".json") or ".tmp-" in name:
                continue
            try:
                with open(os.path.join(tdir, name), encoding="utf-8") as f:
                    st = json.load(f)
            except FileNotFoundError:
                continue  # GC'd between listdir and open
            except (OSError, json.JSONDecodeError):
                # a corrupt/unreadable state file must SURFACE in the
                # operator's sweep, never vanish from it — it may be the
                # very transaction holding the LSO floor down (same
                # fail-loudly posture as ShareGroup._load). Reported
                # under every filter: an unreadable state matches no
                # state and has no age, but hiding it defeats the sweep.
                out.append({
                    "txn_id": name[:-5], "state": "unreadable",
                    "age_ms": None, "n_topics": None, "n_partitions": None,
                })
                continue
            if state is not None and st.get("state") != state:
                continue
            age = None
            if st.get("state") == "open" and "began_ms" in st:
                age = max(0, now - int(st["began_ms"]))
            if older_than_ms is not None and (
                age is None or age < older_than_ms
            ):
                continue
            parts = st.get("partitions", {})
            out.append({
                "txn_id": name[:-5],
                "state": st.get("state"),
                "age_ms": age,
                "n_topics": len(parts),
                "n_partitions": sum(len(v) for v in parts.values()),
            })
        return out

    def describe_transaction(self, txn_id: str) -> dict:
        """``kafka-transactions.sh describe`` analog: full state for one
        transactional id — outcome, touched partitions, the LSO floors it
        holds down, staged EOS group offsets, begin/end timestamps."""
        self._require("DESCRIBE", "transactional_id", txn_id)
        st = self.txn_state(txn_id)
        if st is None:
            raise ValueError(f"unknown transactional id {txn_id!r}")
        return {
            "txn_id": txn_id,
            "state": st.get("state"),
            "began_ms": st.get("began_ms"),
            "ended_ms": st.get("ended_ms"),
            "partitions": st.get("partitions", {}),
            "lso_floors": st.get("lso", {}),
            "staged_offset_groups": sorted(st.get("offsets", {})),
            "forced": st.get("forced", False),
        }

    def force_abort_txn(
        self,
        txn_id: str,
        *,
        min_age_ms: int = 0,
        now_ms: int | None = None,
    ) -> dict:
        """``kafka-transactions.sh abort`` analog: operator-forced abort
        of a HUNG open transaction — the path that unwedges
        read_committed consumers and share-fetch when the producer that
        opened it is gone. Requires CLUSTER_ACTION on the cluster (the
        broker's WriteTxnMarkers ACL), NOT the producer's WRITE on the
        transactional id — the operator is not the producer.

        ``min_age_ms`` is the safety interlock: when > 0 the abort is
        REFUSED unless the txn's age is known and at least that old
        (aborting a young txn races its live producer; Kafka's tool makes
        you name the exact coordinates for the same reason). Legacy
        states without ``began_ms`` have unknown age and are refused
        under any positive threshold — pass 0 to force those."""
        self._require("CLUSTER_ACTION", "cluster", "kafka-cluster")
        st = self.txn_state(txn_id)
        if st is None or st.get("state") != "open":
            raise ValueError(
                f"transaction {txn_id!r} is "
                f"{'unknown' if st is None else st['state']}; only an OPEN "
                "transaction can be force-aborted"
            )
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        age = (
            max(0, now - int(st["began_ms"])) if "began_ms" in st else None
        )
        if min_age_ms > 0 and (age is None or age < min_age_ms):
            raise ValueError(
                f"transaction {txn_id!r} is "
                f"{'of unknown age' if age is None else f'only {age} ms old'}"
                f" (< min_age_ms={min_age_ms}) — refusing to abort under a "
                "possibly-live producer; lower min_age_ms to force"
            )
        self._txn_finish(txn_id, "abort")
        st = self.txn_state(txn_id)
        st["forced"] = True
        st["ended_ms"] = now
        self._txn_write(txn_id, st)
        return {"txn_id": txn_id, "aborted": True, "age_ms": age}

    def unresolved_txn_ids(self) -> frozenset[str]:
        """Txn ids a read_committed scan must filter: every id whose state
        is not ``commit``-sealed (open + aborted). Metadata-sized (one
        stat + read per txn id ever used on this log root)."""
        tdir = os.path.join(self.root, ".txns")
        if not os.path.isdir(tdir):
            return frozenset()
        out = set()
        for name in os.listdir(tdir):
            if not name.endswith(".json") or ".tmp-" in name:
                continue
            with open(os.path.join(tdir, name), encoding="utf-8") as f:
                if json.load(f).get("state") != "commit":
                    out.add(name[:-5])
        return frozenset(out)

    # ------------------------------------ idempotent producer (KIP-98 half 1)
    # Reference anchor: the reference's Producer retries on queue-full with
    # no dedupe (src/Producer.coffee produce/poll loop) — at-least-once.
    # librdkafka's enable.idempotence=true upgrades that to exactly-once
    # per partition: every producer session holds a broker-issued
    # (producer id, epoch); every batch to a partition carries a base
    # sequence; the broker appends only a batch that CONTINUES the
    # per-(pid, partition) sequence chain, answers a replayed batch with
    # its original base offset (the duplicate ack), and fences stale
    # epochs. State lives beside the log under ``.pids/``.

    def _pid_name_file(self, name: str) -> str:
        _check_name(name, "producer name")
        return os.path.join(self.root, ".pids", f"{name}.json")

    def init_producer_id(
        self, name: str, transactional: bool = False
    ) -> tuple[int, int]:
        """``InitProducerId``: allocate (or re-claim) a producer id for
        ``name`` and bump its epoch. The FIRST init allocates a fresh pid
        (lock-free ``open(x)`` claim on ``.pids/.alloc-<n>``); every later
        init under the same name keeps the pid and bumps the epoch —
        fencing every in-flight producer still holding the old one
        (Kafka's zombie-producer story). ``transactional=True`` applies
        KIP-98's other InitProducerId duty: a transaction left OPEN under
        ``txn_id == name`` by the fenced session is ABORTED before the
        new epoch is handed out, so its records never commit."""
        # broker rule: transactional init needs WRITE on the
        # transactional.id; plain idempotence needs IDEMPOTENT_WRITE on
        # the cluster (KIP-98 ACLs)
        if transactional:
            self._require("WRITE", "transactional_id", name)
        else:
            self._require("IDEMPOTENT_WRITE", "cluster", "kafka-cluster")
        path = self._pid_name_file(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if transactional:
            st = self.txn_state(name)
            if st is not None and st["state"] == "open":
                self.abort_txn(name)
        # epoch allocation must be EXCLUSIVE, not read-modify-write: two
        # concurrent inits under one name that both read epoch N and both
        # get issued N+1 would leave neither fenced — defeating the zombie
        # fencing this API exists for. Claim the epoch with an open(x)
        # marker BEFORE binding a pid: the bootstrap (no name file) winner
        # claims epoch-0 and allocates the pid; a concurrent bootstrap
        # LOSER waits (bounded) for the winner's publish and adopts its
        # pid with the next epoch — so the concurrent fresh-name case
        # converges on ONE pid with distinct epochs, not two unfenced
        # pids. (Residual: a winner that CRASHES between marker claim and
        # publish makes the loser fall through to a fresh pid after the
        # wait — the same state a crashed solo init leaves.)
        pid: int | None = None
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                cur = json.load(f)
            pid, epoch = int(cur["pid"]), int(cur["epoch"]) + 1
        else:
            epoch = 0
        while True:
            try:
                fd = os.open(
                    os.path.join(self.root, ".pids", f".{name}.epoch-{epoch}"),
                    os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                )
                os.close(fd)
            except FileExistsError:
                for _ in range(50):  # adopt the concurrent winner's pid
                    if os.path.exists(path):
                        break
                    time.sleep(0.02)
                if os.path.exists(path):
                    with open(path, encoding="utf-8") as f:
                        cur = json.load(f)
                    pid = int(cur["pid"])
                    epoch = max(epoch, int(cur["epoch"])) + 1
                else:
                    epoch += 1
                continue
            # the claim succeeded — but a marker below the published
            # epoch may have been GC'd and re-claimed by a STALLED init
            # (we could be that stalled init). The name file is the
            # commit record: if the world already moved at/past our
            # claimed epoch, our claim is dead — retry above it rather
            # than publish a regressed epoch that would unfence zombies.
            if os.path.exists(path):
                with open(path, encoding="utf-8") as f:
                    cur = json.load(f)
                if int(cur["epoch"]) >= epoch:
                    pid = int(cur["pid"])
                    epoch = int(cur["epoch"]) + 1
                    continue
            break
        if pid is None:
            n = 0
            while True:  # same claim protocol as _publish_segment: the
                # open(x) winner owns pid n; losers probe the next slot
                try:
                    fd = os.open(
                        os.path.join(self.root, ".pids", f".alloc-{n}"),
                        os.O_CREAT | os.O_EXCL | os.O_WRONLY,
                    )
                    os.close(fd)
                    break
                except FileExistsError:
                    n += 1
            pid = n
        # publish-ordering guard: the claim loop guarantees concurrent
        # inits DISTINCT epochs, but if the lower-epoch init's os.replace
        # lands LAST, the name/binding files would regress to the lower
        # epoch and NEITHER session would be fenced (epoch < cur is false
        # for both). Re-read immediately before each replace and skip the
        # publish when the world already moved at/past this epoch — the
        # binding never regresses, so the higher epoch always fences.
        # (The check→replace window is not atomic, but both racers run
        # this same guard, so a regression needs the re-read AND replace
        # of the higher epoch to interleave inside the lower's window —
        # the practical residue of a lock-free file protocol.)
        def _publish(target: str, payload: dict) -> None:
            if os.path.exists(target):
                try:
                    with open(target, encoding="utf-8") as f:
                        if int(json.load(f)["epoch"]) >= epoch:
                            return
                except (ValueError, KeyError, OSError):
                    pass  # unreadable/torn current file: overwrite it
            tmp = f"{target}.tmp-{uuid.uuid4().hex}"
            with open(tmp, "w", encoding="utf-8") as f:
                json.dump(payload, f)
            os.replace(tmp, target)

        _publish(path, {"pid": pid, "epoch": epoch})
        bp = os.path.join(self.root, ".pids", f".by-pid-{pid}.json")
        _publish(bp, {"name": name, "epoch": epoch})
        # dead-marker GC: epochs below the just-published one can never
        # be re-claimed (any later init reads the name file and starts at
        # published+1; the bootstrap epoch-0 path requires the name file
        # to be ABSENT), so their claim markers are pure litter — without
        # this, one zero-byte file per epoch accumulates forever
        for i in range(epoch):
            try:
                os.unlink(
                    os.path.join(self.root, ".pids", f".{name}.epoch-{i}")
                )
            except OSError:
                pass
        return pid, epoch

    def _pid_epoch(self, pid: int) -> int:
        bp = os.path.join(self.root, ".pids", f".by-pid-{pid}.json")
        if not os.path.exists(bp):
            raise ValueError(f"unknown producer id {pid} (init_producer_id first)")
        with open(bp, encoding="utf-8") as f:
            return int(json.load(f)["epoch"])

    def produce_idempotent(
        self,
        topic: str,
        values: Sequence[bytes | str],
        partition: int,
        pid: int,
        epoch: int,
        base_seq: int,
        keys: Sequence[bytes | str | None] | None = None,
        timestamps: Sequence[int] | None = None,
        headers: Sequence[Sequence[tuple[str, bytes | None]] | None] | None = None,
        txn: str | None = None,
    ) -> dict:
        """One idempotent ProduceRequest batch — Kafka batches are per
        topic-partition with one base sequence, and so is this call.
        Returns ``{"base_offset": o, "duplicate": bool}``.

        Broker-side checks, in Kafka's order: a stale ``epoch`` raises
        ProducerFencedError; a batch whose exact (base, last) sequence
        range matches one of the last 5 appended batches is a RETRY —
        acked with its original base offset, nothing appended (the
        at-most-once half); a batch continuing the chain
        (``base_seq == last + 1``, or 0 on a fresh epoch, whose sequences
        reset) appends; anything else raises OutOfOrderSequenceError.
        Sequence state is per (pid, topic, partition), a metadata file —
        the 100 TB posture is unchanged (state size tracks producer
        count, not data volume).

        Crash recovery: the segment publish and the state write are two
        steps; a crash between them would re-ack the client's retry as a
        FRESH batch. A broker closes this by recovering producer state
        from the log on restart — so does this log: every record carries
        its (pid, epoch, seq, batch-base) like a Kafka batch header, and
        ``rebuild_producer_state`` reconstructs the sequence files from
        the log alone. Run it before resuming produce after any unclean
        stop."""
        self._require("WRITE", "topic", topic)
        cur_epoch = self._pid_epoch(pid)
        if int(epoch) < cur_epoch:
            raise ProducerFencedError(
                f"producer id {pid} epoch {epoch} fenced: current epoch is "
                f"{cur_epoch} (another session ran init_producer_id)"
            )
        if int(epoch) > cur_epoch:
            raise ValueError(
                f"producer id {pid} epoch {epoch} ahead of issued {cur_epoch}"
            )
        n = len(values)
        if n == 0:
            raise ValueError("empty idempotent batch")
        if int(base_seq) < 0:
            raise ValueError(f"negative base sequence {base_seq}")
        sdir = os.path.join(self.root, ".pids", "seq")
        spath = os.path.join(sdir, f"{int(pid)}.{topic}.{int(partition)}.json")
        st = {"epoch": -1, "last": -1, "batches": []}
        if os.path.exists(spath):
            with open(spath, encoding="utf-8") as f:
                st = json.load(f)
        if int(st["epoch"]) < int(epoch):
            # new epoch: sequences restart at 0 (Kafka resets the chain on
            # every epoch bump; cached batches of the old epoch can no
            # longer be replayed)
            st = {"epoch": int(epoch), "last": -1, "batches": []}
        last_seq = int(base_seq) + n - 1
        for b, l, off in st["batches"]:
            if (b, l) == (int(base_seq), last_seq):
                return {"base_offset": int(off), "duplicate": True}
        if int(base_seq) != int(st["last"]) + 1:
            raise OutOfOrderSequenceError(
                f"pid {pid} {topic}-{partition}: batch sequence {base_seq} "
                f"neither continues the chain (expected {int(st['last']) + 1}) "
                f"nor replays a cached batch"
            )
        if txn is not None:
            tst = self.txn_state(txn)
            if tst is None or tst["state"] != "open":
                raise ValueError(
                    f"transaction {txn!r} is "
                    f"{'unknown' if tst is None else tst['state']}; begin_txn first"
                )
            self._txn_touch(txn, topic, [int(partition)])
        ts = int(time.time() * 1000)
        lines = []
        for i, v in enumerate(values):
            vb = v.encode() if isinstance(v, str) else v
            k = keys[i] if keys is not None else None
            kb = k.encode() if isinstance(k, str) else k
            if vb is None and kb is None:
                raise ValueError("tombstone (None value) requires a key")
            rts = int(timestamps[i]) if timestamps is not None else ts
            hdr = _headers_to_wire(headers[i]) if headers is not None else None
            lines.append(_encode_line(
                kb, vb, rts, headers=hdr, txn=txn,
                producer=(int(pid), int(epoch), int(base_seq) + i,
                          int(base_seq)),
            ))
        cfg = _topic_config(self.root, topic)
        _check_max_message(self.root, topic, lines, cfg)
        base_off = _publish_segment(
            _part_dir(self.root, topic, int(partition)), lines,
            compression=_norm_compression(cfg.get("compression.type")),
        )
        st["last"] = last_seq
        st["batches"] = (st["batches"] + [[int(base_seq), last_seq, base_off]])[-5:]
        os.makedirs(sdir, exist_ok=True)
        tmp = f"{spath}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(st, f)
        os.replace(tmp, spath)
        return {"base_offset": base_off, "duplicate": False}

    def rebuild_producer_state(self, topic: str) -> int:
        """Broker-style log recovery for idempotent-producer state: scan
        the topic's partitions and reconstruct every per-(pid, partition)
        sequence file from the (pid, epoch, seq, batch-base) metadata the
        records themselves carry — the unclean-shutdown path (a real
        broker rebuilds its producer-state snapshots from the log tail
        the same way). Per pid the HIGHEST epoch wins (older epochs are
        pre-fence history); its last sequence and the 5 most recent batch
        ranges (grouped by batch base) are restored, so a client retry
        from before the crash still dedupes against the original base
        offset. Compaction note: cleaned segments keep each key's latest
        record (so the chain head — the highest sequence — always
        survives), but batches thinned by cleaning lose their exact
        ranges, same as a broker past a cleaning pass. Returns the number
        of state files rebuilt."""
        sdir = os.path.join(self.root, ".pids", "seq")
        rebuilt = 0
        for pid_part in _list_partitions(self.root, topic):
            # (pid, epoch) -> {batch_base: [last_seq, base_off]}
            runs: dict[tuple[int, int], dict[int, list[int]]] = {}
            for seg_start, _count, path in _list_segments_tiered(
                    self.root, topic, pid_part):
                for off, rec, _ln in _scan_segment(path, seg_start):
                    if "pi" not in rec:
                        continue  # non-idempotent produce
                    key = (int(rec["pi"]), int(rec["pe"]))
                    ent = runs.setdefault(key, {}).get(int(rec["bs"]))
                    if ent is None:
                        runs[key][int(rec["bs"])] = [int(rec["sq"]), off]
                    else:
                        ent[0] = max(ent[0], int(rec["sq"]))
                        ent[1] = min(ent[1], off)
            by_pid: dict[int, tuple[int, dict[int, list[int]]]] = {}
            for (pi, pe), batches in runs.items():
                if pi not in by_pid or pe > by_pid[pi][0]:
                    by_pid[pi] = (pe, batches)
            for pi, (pe, batches) in by_pid.items():
                recent = sorted(batches.items())[-5:]
                st = {
                    "epoch": pe,
                    "last": max(last for _, (last, _off) in recent),
                    "batches": [[bs, last, off] for bs, (last, off) in recent],
                }
                os.makedirs(sdir, exist_ok=True)
                spath = os.path.join(sdir, f"{pi}.{topic}.{pid_part}.json")
                tmp = f"{spath}.tmp-{uuid.uuid4().hex}"
                with open(tmp, "w", encoding="utf-8") as f:
                    json.dump(st, f)
                os.replace(tmp, spath)
                rebuilt += 1
        return rebuilt

    def offsets_for_times(
        self, topic: str, ts_ms: int | dict[int, int]
    ) -> dict[int, int | None]:
        """``Consumer.offsetsForTimes`` analog: per partition, the EARLIEST
        offset whose record timestamp is >= the target (Kafka's contract for
        both CreateTime and LogAppendTime logs), or None when every record —
        or no record — precedes the target (Kafka returns null there; the
        caller picks a reset strategy). ``ts_ms`` is one epoch-ms target for
        all partitions or ``{partition: ts_ms}``. Index-driven, the KIP-33
        walk a broker does: each segment's sparse ``.timeindex`` sidecar
        (lazily built, then cached — see ``_segment_time_index``) is read
        first, whole segments whose ``max_ts`` precedes the target are
        skipped WITHOUT touching their data, and only the one segment that
        provably contains the answer gets a columnar ts read. Warm seeks
        are O(segments) sidecar stats + one segment parse regardless of
        how many records sit below the match — flat as the log grows."""
        import pyarrow as pa
        import pyarrow.compute as pc

        out: dict[int, int | None] = {}
        for pid in _list_partitions(self.root, topic):
            target = ts_ms.get(pid) if isinstance(ts_ms, dict) else ts_ms
            if target is None:
                continue
            target = int(target)
            found = None
            for seg_start, count, path in _list_segments_tiered(
                    self.root, topic, pid):
                idx = _segment_time_index(path)
                if idx["max_ts"] is None or idx["max_ts"] < target:
                    continue  # max-so-far proof: no record here qualifies
                # the first qualifying record of the log is in THIS segment;
                # the index narrows the scan to one interval past the last
                # entry whose running max still precedes the target
                lo = 0
                for p, m in idx["entries"]:
                    if m < target:
                        lo = p + 1
                    else:
                        break
                tbl = _read_json_seg(
                    path,
                    pa.schema([pa.field("ts", pa.int64()),
                               pa.field("o", pa.int64())]),
                )
                hit = pc.index(
                    pc.greater_equal(tbl["ts"].slice(lo).combine_chunks(),
                                     target),
                    pa.scalar(True),
                ).as_py()
                # idx["max_ts"] >= target guarantees a hit in this segment
                pos = lo + hit
                o = tbl["o"][pos].as_py()  # compacted segments carry
                # explicit, possibly-gapped offsets; append segments stay
                # dense from seg_start
                found = seg_start + pos if o is None else o
                break
            out[pid] = found
        return out

    def offsets_for_max_timestamp(self, topic: str) -> dict[int, dict | None]:
        """``ListOffsets`` MAX_TIMESTAMP (KIP-734): per partition, the
        offset and timestamp of the record carrying the LARGEST
        CreateTime — what operators use to ask "how fresh is this
        partition really" under non-monotonic producer clocks, where the
        last offset is NOT necessarily the newest record. Ties resolve
        to the earliest offset holding the max (a later equal stamp adds
        no freshness). DATA records only: transaction control markers
        carry produce wall-clock stamps that would otherwise masquerade
        as freshness over event-time CreateTime data (and are never
        delivered to applications anyway). Index-driven descent: segments
        are visited in sidecar-``max_ts`` order and the walk stops once
        the best data-record timestamp found can no longer be beaten —
        usually one columnar read, a few when the index max belongs to a
        marker. None = empty / marker-only partition."""
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = pa.schema([
            pa.field("ts", pa.int64()), pa.field("o", pa.int64()),
            pa.field("ctl", pa.string()),
        ])
        out: dict[int, dict | None] = {}
        for pid in _list_partitions(self.root, topic):
            segs = _list_segments_tiered(self.root, topic, pid)
            idxs = [(s, c, p, _segment_time_index(p)) for s, c, p in segs]
            # the sidecar max_ts (markers included) upper-bounds each
            # segment's data max, so a descending walk can stop early
            cands = sorted(
                (x for x in idxs if x[3]["max_ts"] is not None),
                key=lambda x: -x[3]["max_ts"],
            )
            best: dict | None = None
            for seg_start, _c, path, idx in cands:
                if best is not None and idx["max_ts"] < best["timestamp"]:
                    break  # no remaining segment can beat the best
                tbl = _read_json_seg(path, schema)
                ts = tbl["ts"].combine_chunks()
                if tbl["ctl"].null_count != tbl.num_rows:
                    ts = pc.if_else(pc.is_null(tbl["ctl"].combine_chunks()),
                                    ts, pa.scalar(None, pa.int64()))
                m = pc.max(ts).as_py()
                if m is None:
                    continue  # marker-only segment
                if best is not None and (
                        m < best["timestamp"]
                        or (m == best["timestamp"]
                            and seg_start > best["offset"])):
                    continue
                pos = pc.index(pc.equal(ts, m), pa.scalar(True)).as_py()
                o = tbl["o"][pos].as_py()
                off = seg_start + pos if o is None else o
                if best is None or m > best["timestamp"] or (
                        m == best["timestamp"] and off < best["offset"]):
                    best = {"offset": off, "timestamp": m}
            out[pid] = best
        return out

    def delete_records_before_timestamp(self, topic: str, ts_ms: int) -> dict[str, int]:
        """Time-based retention (the ``retention.ms`` reaper's one-shot
        form, and the right-to-forget-by-age path): drop every record whose
        timestamp precedes ``ts_ms``. Composition of the two existing
        primitives — ``offsets_for_times`` finds, per partition, the
        earliest offset at/after the cutoff (None = every record is older),
        and ``delete_records`` truncates below it with all its crash-safety
        (stale-marker recovery, empty-spanning-segment, end-offset
        preservation). Same offline single-writer window as compact().
        NOTE: with non-monotonic CreateTime, records newer than the cutoff
        that sit BELOW the boundary offset are deleted too — exactly how a
        broker's segment-granularity retention behaves."""
        before: dict[int, int] = {}
        boundary = self.offsets_for_times(topic, ts_ms)
        for pid in _list_partitions(self.root, topic):
            off = boundary.get(pid)
            before[pid] = (
                _end_offset(_part_dir(self.root, topic, pid)) if off is None else off
            )
        return self.delete_records(topic, before)

    def consumer_lag(self, group: str, topic: str) -> dict[int, dict]:
        """Per-partition ``{end_offset, committed, lag}`` — librdkafka's
        statistics-callback ``consumer_lag`` computed from durable state:
        lag = end_offset − committed, with an uncommitted partition lagging
        by the whole log (committed None, the earliest-reset posture).
        Lag clamps at 0: a commit past the log end (stale state after a
        log reset, or a bad commit) reads as caught-up, Kafka's clamped
        semantics, never negative. Metadata-sized output (one row per
        partition), driver-side by design."""
        ends = self.end_offsets(topic)
        comm = self.committed(group, topic)
        return {
            pid: {
                "end_offset": end,
                "committed": comm.get(pid),
                "lag": max(0, end - comm.get(pid, 0)),
            }
            for pid, end in ends.items()
        }

    def beginning_offsets(self, topic: str) -> dict[int, int]:
        """Kafka ``beginningOffsets`` (logStartOffset): the first readable
        offset per partition — 0 on a fresh partition, the retention cutoff
        after ``delete_records`` has reaped the head. Documented divergence:
        a later ``compact()`` renames its output to span [0, end), so the
        reported start rewinds to 0 — the reaped records stay gone (the
        gapped segment simply omits them; a read from 0 serves identical
        data), only the reported logStartOffset differs from a broker's."""
        out = {}
        for pid in _list_partitions(self.root, topic):
            segs = _list_segments_tiered(self.root, topic, pid)
            out[pid] = segs[0][0] if segs else 0
        return out

    def local_log_start_offset(self, topic: str) -> dict[int, int]:
        """KIP-405's localLogStartOffset: the first offset still served
        from the LOCAL tier (== logStartOffset when nothing has tiered).
        The [logStartOffset, localLogStartOffset) range reads from remote."""
        out = {}
        for pid in _list_partitions(self.root, topic):
            segs = _list_segments(_part_dir(self.root, topic, pid))
            out[pid] = segs[0][0] if segs else 0
        return out

    def describe_topic(self, topic: str) -> dict[int, dict]:
        """One-call topic description (the AdminClient describe + listOffsets
        composite): per partition, {start, end, records, bytes} — offsets
        from segment names, record counts via the name-or-scan rule
        (_segment_record_count), bytes from the filesystem. Metadata-sized
        output; reads segment names, not records, for dense logs."""
        out: dict[int, dict] = {}
        for pid in _list_partitions(self.root, topic):
            pdir = _part_dir(self.root, topic, pid)
            segs = _list_segments_tiered(self.root, topic, pid)
            out[pid] = {
                "start": segs[0][0] if segs else 0,
                "end": _end_offset(pdir),
                "records": sum(_segment_record_count(p, c) for _s, c, p in segs),
                "bytes": sum(os.path.getsize(p) for _s, _c, p in segs),
            }
        return out

    def delete_records(self, topic: str, before: dict[int, int]) -> dict[str, int]:
        """Kafka ``AdminClient.deleteRecords`` analog: per partition, drop
        every record with offset < ``before[pid]`` (the retention /
        right-to-forget truncation path — Kafka advances logStartOffset and
        reaps whole segments). Segments entirely below the cutoff unlink;
        the spanning segment is rewritten trimmed — its new name
        ``seg-<cutoff>-<kept>`` keeps the dense-offset invariant, so
        end_offsets never move and consumer positions stay valid: a read
        from earliest simply starts at the cutoff, exactly like a broker
        after deleteRecords. Cutoffs clamp to [0, end]. Offline maintenance
        op (same single-writer window as compact()). Returns
        {deleted, kept}; counts are actual record counts (a compacted
        segment's name carries its logical SPAN, which exceeds its line
        count once compaction opens gaps)."""
        self._require("DELETE", "topic", topic)
        deleted = kept = 0
        for pid in _list_partitions(self.root, topic):
            cutoff = before.get(pid)
            if cutoff is None:
                continue
            pdir = _part_dir(self.root, topic, pid)
            # finish any interrupted compact() swap first: truncating live
            # segments while a stale cleaner- marker exists would let the
            # next compact() resurrect the deleted records
            _recover_compaction(pdir)
            end = _end_offset(pdir)
            cutoff = max(0, min(int(cutoff), end))
            # truncation spans BOTH tiers: remote segments below the cutoff
            # unlink like local ones (Kafka's tiered retention deletes
            # remote log metadata past logStartOffset the same way)
            rdir = _remote_dir(self.root, topic, pid)
            for seg_start, count, path in _list_segments_tiered(
                    self.root, topic, pid):
                # a segment caught mid-tier (crash between remote copy and
                # local unlink) exists in BOTH tiers under one name; the
                # listing serves the local copy, so the twin must go too
                # or it would resurrect the deleted records
                twin = os.path.join(
                    rdir if os.path.dirname(path) == pdir else pdir,
                    os.path.basename(path),
                )
                if seg_start + count <= cutoff:
                    deleted += _segment_record_count(path, count)
                    os.unlink(path)
                    if os.path.exists(twin):
                        os.unlink(twin)
                elif seg_start < cutoff:
                    lines = list(_scan_segment(path, seg_start))
                    keep = [ln for off, _rec, ln in lines if off >= cutoff]
                    # the trimmed replacement lands in the TIER the source
                    # lived in (a remote spanning segment trims in place)
                    seg_dir = os.path.dirname(path)
                    tmp = os.path.join(seg_dir, f".tmp-{uuid.uuid4().hex}")
                    with open(tmp, "w", encoding="utf-8") as f:
                        # a gapped compacted segment can have every survivor
                        # below the cutoff; write an empty file rather than a
                        # lone "\n" (compact() guards the same case)
                        f.write("\n".join(keep) + "\n" if keep else "")
                    # segment names carry the LOGICAL span (compacted
                    # segments are gapped: span >= line count), so end
                    # offsets never move
                    span = seg_start + count - cutoff
                    final = os.path.join(seg_dir, f"seg-{cutoff:020d}-{span}.jsonl")
                    os.link(tmp, final)
                    os.unlink(tmp)
                    os.unlink(path)
                    if os.path.exists(twin):  # mid-tier duplicate would
                        os.unlink(twin)       # resurrect the trimmed rows
                    deleted += len(lines) - len(keep)
                    kept += len(keep)
                else:
                    kept += _segment_record_count(path, count)
            if _end_offset(pdir) < end:
                # everything was below the cutoff: leave an EMPTY segment at
                # the cutoff (Kafka's empty active segment) so the log end
                # offset — the partition's clock — never rewinds
                empty = os.path.join(pdir, f"seg-{cutoff:020d}-0.jsonl")
                with open(empty, "w", encoding="utf-8"):
                    pass
            _sweep_orphan_timeindexes(pdir)
            _sweep_orphan_timeindexes(_remote_dir(self.root, topic, pid))
        return {"deleted": deleted, "kept": kept}

    def append(
        self,
        topic: str,
        values: Sequence[bytes | str],
        keys: Sequence[bytes | str | None] | None = None,
        partition: int | None = None,
        timestamps: Sequence[int] | None = None,
        headers: Sequence[Sequence[tuple[str, bytes | None]] | None] | None = None,
        txn: str | None = None,
        compression: str | None = None,
        client_id: str | None = None,
    ) -> None:
        """Append records, routing by explicit partition, else hash(key),
        else hash(value) — deterministic, like keyed Kafka producing.
        ``timestamps`` (epoch ms per record) sets CreateTime; default is
        the produce wall-clock (LogAppendTime). ``headers`` is per-record
        ordered (key, value) pairs or None (Kafka allows duplicates and
        null header values). ``txn`` produces the records INSIDE an open
        transaction (``begin_txn`` first): they ride the log immediately —
        occupying offsets like any Kafka transactional write — but a
        ``read_committed`` consumer will not see them until
        ``commit_txn``; ``abort_txn`` hides them from it forever."""
        self._require("WRITE", "topic", topic)
        if txn is not None:
            st = self.txn_state(txn)
            if st is None or st["state"] != "open":
                raise ValueError(
                    f"transaction {txn!r} is "
                    f"{'unknown' if st is None else st['state']}; begin_txn first"
                )
        pids = _list_partitions(self.root, topic) or [0]
        by_pid: dict[int, list[str]] = {}
        ts = int(time.time() * 1000)
        for i, v in enumerate(values):
            vb = v.encode() if isinstance(v, str) else v
            k = keys[i] if keys is not None else None
            kb = k.encode() if isinstance(k, str) else k
            if vb is None and kb is None:
                raise ValueError("tombstone (None value) requires a key")
            rts = int(timestamps[i]) if timestamps is not None else ts
            hdr = _headers_to_wire(headers[i]) if headers is not None else None
            pid = partition if partition is not None else _route(kb, vb, len(pids))
            by_pid.setdefault(pids[pid % len(pids)], []).append(
                _encode_line(kb, vb, rts, headers=hdr, txn=txn)
            )
        cfg = _topic_config(self.root, topic)  # one read serves the
        # size gate, the codec, and the roll bound
        for lines in by_pid.values():  # MESSAGE_TOO_LARGE rejects the
            _check_max_message(self.root, topic, lines, cfg)  # request whole
        if txn is not None:  # register touched partitions BEFORE publishing:
            # a crash in between leaves an open txn whose records stay
            # invisible to read_committed (Kafka's pending-txn posture)
            self._txn_touch(txn, topic, sorted(by_pid))
        _publish_lines(self.root, topic, by_pid.items(), cfg,
                       _norm_compression(compression, "compression"),
                       client_id)

    def append_json(self, topic: str, objs: Sequence[dict], **kw) -> None:
        """JSON.stringify-and-produce, the reference's record shape."""
        self.append(topic, [json.dumps(o, separators=(",", ":")) for o in objs], **kw)

    def compact(self, topic: str, now_ms: int | None = None) -> dict[str, int]:
        """Kafka-style log compaction: per partition, keep only the
        highest-offset record for each key. A key whose latest record is
        a tombstone (null value) follows ``delete.retention.ms``: with
        the config UNSET the tombstone is dropped in the same pass
        (this log's legacy immediate-drop, kept as the default); with it
        SET, the broker's two-phase KIP-534 horizon applies — the first
        cleaning pass stamps the tombstone with a delete horizon
        (``"dh"`` = cleaning time + delete.retention.ms) and keeps it
        visible (so a lagging consumer bootstrapping off the compacted
        topic still learns about the deletion), and only a LATER pass
        past the horizon removes it. ORIGINAL OFFSETS ARE
        PRESERVED: the compacted segment covers the full [0, end) range
        and carries an explicit ``"o"`` per line, so consumer positions
        and startingOffsets semantics survive compaction exactly like a
        broker's. Requires every record keyed (Kafka's own precondition
        for ``cleanup.policy=compact``). Offline maintenance op: run it
        while no producer is appending AND no reader is scanning the
        topic — mid-swap a concurrent reader can observe a partially
        emptied partition (a broker's cleaner holds a lock for the same
        reason). CRASH-SAFE: the compacted replacement is hard-linked
        under a reader-invisible ``cleaner-`` marker name BEFORE any old
        segment is unlinked, so a crash at any point loses nothing — the
        next ``compact()`` call finishes the interrupted swap from the
        marker (the marker always holds the complete compacted state).
        Returns {kept, superseded, tombstoned} counts (a horizon-stamped
        tombstone still awaiting removal counts as kept)."""
        kept = superseded = tombstoned = 0
        cfg = self.describe_configs(topic)
        if str(cfg.get("remote.storage.enable", "false")).lower() == "true":
            # Kafka's own restriction, enforced at both config-time
            # (alter_configs) and clean-time: the cleaner only sees the
            # local tier, so compacting a tiered topic would resurrect
            # remote history
            raise ValueError(
                f"topic {topic!r} has remote.storage.enable=true; "
                "compaction is unsupported on tiered topics (KIP-405)"
            )
        drm_raw = cfg.get("delete.retention.ms")
        now = int(time.time() * 1000) if now_ms is None else int(now_ms)
        # txn visibility BEFORE dedup, like the broker's cleaner: aborted
        # records are removed (never allowed to supersede a committed
        # value — keeping them would erase the key's real value for
        # read_committed and surface the aborted one to read_uncommitted),
        # and cleaning stops at the first record of a still-OPEN txn (the
        # first unstable offset — Kafka cleans only below the LSO), the
        # tail above it retained verbatim until the txn resolves.
        open_ids: set[str] = set()
        aborted_ids: set[str] = set()
        tdir = os.path.join(self.root, ".txns")
        if os.path.isdir(tdir):
            for name in os.listdir(tdir):
                if not name.endswith(".json") or ".tmp-" in name:
                    continue
                try:
                    with open(os.path.join(tdir, name),
                              encoding="utf-8") as f:
                        s = json.load(f).get("state")
                except (OSError, json.JSONDecodeError):
                    continue
                if s == "open":
                    open_ids.add(name[:-5])
                elif s == "abort":
                    aborted_ids.add(name[:-5])
        aborted = 0
        for pid in _list_partitions(self.root, topic):
            pdir = _part_dir(self.root, topic, pid)
            _recover_compaction(pdir)
            segs = _list_segments(pdir)
            if not segs:
                continue
            end = _end_offset(pdir)
            # key bytes → (offset, ts_ms, value bytes|None)
            latest: dict[bytes, tuple[int, int, bytes | None]] = {}
            n_records = 0
            retained: list[tuple] = []  # the unstable tail, verbatim
            unstable = False
            for seg_start, _count, path in segs:
                for off, rec, _ln in _scan_segment(path, seg_start):
                    x = rec.get("x")
                    if not unstable and x is not None and x in open_ids:
                        unstable = True  # first unstable offset found
                    if unstable:
                        # above the LSO: nothing is cleaned — keep the
                        # record (marker or data, any txn state) as-is
                        prod = (
                            (rec["pi"], rec["pe"], rec["sq"], rec["bs"])
                            if "pi" in rec else None
                        )
                        retained.append((
                            off, rec["ts"], _rec_key(rec), _rec_val(rec),
                            rec.get("h"), x, prod, rec.get("dh"),
                            rec.get("ctl"),
                        ))
                        continue
                    if "ctl" in rec:
                        # txn markers: the cleaner removes resolved
                        # control records (their offsets stay gapped,
                        # like a broker past delete.retention.ms)
                        continue
                    if x is not None and x in aborted_ids:
                        aborted += 1  # the cleaner removes aborted
                        continue      # records outright
                    kb = _rec_key(rec)
                    if kb is None:
                        raise UnkeyedTopicError(
                            "compact() requires every record keyed "
                            f"(keyless record at {topic}/p{pid} offset {off})"
                        )
                    n_records += 1
                    # carry headers through in wire form: the key's
                    # latest record keeps ITS headers, like a broker;
                    # committed txn tags survive, and so does the
                    # idempotent-producer metadata, keeping sequence
                    # state log-recoverable post-cleaning
                    prod = (
                        (rec["pi"], rec["pe"], rec["sq"], rec["bs"])
                        if "pi" in rec else None
                    )
                    latest[kb] = (off, rec["ts"], _rec_val(rec),
                                  rec.get("h"), rec.get("x"), prod,
                                  rec.get("dh"))
            survivors = []
            for kb, (off, ts, vb, h, x, pr, dh) in latest.items():
                if vb is not None:
                    survivors.append((off, ts, kb, vb, h, x, pr, None))
                    continue
                if drm_raw is None or (dh is not None and now >= int(dh)):
                    tombstoned += 1  # legacy immediate drop, or the
                    continue  # horizon a PRIOR pass stamped has passed
                horizon = int(dh) if dh is not None else now + int(drm_raw)
                survivors.append((off, ts, kb, None, h, x, pr, horizon))
            survivors.sort(key=lambda s: s[0])
            superseded += n_records - len(latest)
            kept += len(survivors) + len(retained)
            lines = [
                _encode_line(kb, vb, ts, off=off, headers=h, txn=x,
                             producer=pr, delete_horizon=dh)
                for off, ts, kb, vb, h, x, pr, dh in survivors
            ] + [
                _encode_line(kb, vb, ts, off=off, headers=h, txn=x,
                             producer=pr, delete_horizon=dh, ctl=ctl)
                for off, ts, kb, vb, h, x, pr, dh, ctl in retained
            ]
            tmp = os.path.join(pdir, f".tmp-{uuid.uuid4().hex}")
            with open(tmp, "w", encoding="utf-8") as f:
                f.write("\n".join(lines) + "\n" if lines else "")
            # Crash-safe swap: publish the full compacted state under a
            # marker name readers never match FIRST, then retire the old
            # segments, then promote the marker to its final segment name.
            # A crash anywhere in between leaves either the old segments or
            # the marker (or both) on disk — never a data loss window.
            marker = os.path.join(pdir, f"cleaner-{end:020d}.jsonl")
            os.link(tmp, marker)
            os.unlink(tmp)
            for _s, _c, path in segs:
                os.unlink(path)
            os.link(marker, os.path.join(pdir, f"seg-{0:020d}-{end}.jsonl"))
            os.unlink(marker)
            _sweep_orphan_timeindexes(pdir)
        return {"kept": kept, "superseded": superseded,
                "tombstoned": tombstoned, "aborted": aborted}


_CLEANER_RE = re.compile(r"^cleaner-(\d{20})\.jsonl$")


def _recover_compaction(pdir: str) -> None:
    """Finish an interrupted ``compact()`` swap. A ``cleaner-`` marker always
    holds the COMPLETE compacted state for its partition (it is linked before
    any old segment is unlinked), so recovery is unconditional: retire
    whatever segments remain, promote the marker, drop it."""
    if not os.path.isdir(pdir):
        return
    markers = [n for n in os.listdir(pdir) if _CLEANER_RE.match(n)]
    for name in markers:
        end = int(_CLEANER_RE.match(name).group(1))
        marker = os.path.join(pdir, name)
        final = os.path.join(pdir, f"seg-{0:020d}-{end}.jsonl")
        for _s, _c, path in _list_segments(pdir):
            if path != final:
                os.unlink(path)
        if not os.path.exists(final):
            os.link(marker, final)
        os.unlink(marker)


def _route(key: bytes | None, value: bytes, n: int) -> int:
    import zlib

    basis = key if key is not None else value
    return zlib.crc32(basis) % n if n > 0 else 0


def _read_best(partition: "_Part"):
    """Arrow-batched read of one scan partition. A ``None`` partition is
    the engine's empty-scan probe (partitions() returned []) — yield
    nothing. A headers read takes the same path: _read_range_arrow adds
    the ``headers`` column (Kafka's includeHeaders default is false
    because the column costs a per-row base64 decode)."""
    if partition is None:
        return iter(())
    return _read_range_arrow(
        partition.root, partition.topic, partition.pid,
        partition.start, partition.end,
        excluded_txns=getattr(partition, "excluded", None),
        include_headers=getattr(partition, "headers", False),
    )


# ------------------------------------------------------------- the datasource
class _Part(InputPartition):
    def __init__(self, root: str, topic: str, pid: int, start: int, end: int,
                 headers: bool = False,
                 excluded: frozenset[str] | None = None):
        self.root, self.topic, self.pid, self.start, self.end = root, topic, pid, start, end
        self.headers = headers
        #: txn ids a read_committed scan filters (None = read_uncommitted)
        self.excluded = excluded


def _split_parts(parts: list["_Part"], min_partitions: int | None) -> list["_Part"]:
    """The Kafka source's ``minPartitions``: when the (topic, partition)
    count is below the requested parallelism, split large offset ranges
    into sub-ranges so a 4-partition topic can still feed a 32-core stage.
    Ranges split proportionally to their size (largest first), preserving
    per-sub-range offset order; correctness is unaffected because the
    envelope carries (partition, offset) and downstream order never relies
    on task boundaries."""
    if min_partitions is None or len(parts) >= min_partitions or not parts:
        return parts
    total = sum(p.end - p.start for p in parts)
    if total <= 0:
        return parts
    out: list[_Part] = []
    for p in parts:
        span = p.end - p.start
        # at least 1 slice; proportional share of the requested parallelism
        n = max(1, round(min_partitions * span / total))
        step = max(1, -(-span // n))
        s = p.start
        while s < p.end:
            e = min(p.end, s + step)
            out.append(_Part(p.root, p.topic, p.pid, s, e, headers=p.headers,
                             excluded=p.excluded))
            s = e
    return out


def _authorize_ds(options: dict, operation: str, names) -> None:
    """Planning-time (driver-side) ACL gate for the datasource paths: the
    ``principal`` option is the client identity (Kafka's ANONYMOUS when
    unauthenticated); with no ``.acls/`` store on the root this is a
    no-op, like a broker without an authorizer. One metadata check per
    query plan — nothing rides the per-record path."""
    from rdkafka_streams_spark.streaming.acl import AclStore

    store = AclStore(options.get("path") or options.get("root"))
    principal = options.get("principal", "User:ANONYMOUS")
    for n in ([names] if isinstance(names, str) else names):
        store.require(principal, operation, "topic", n)


def _resolve_topics(options: dict) -> tuple[str, list[str], dict[str, list[int]] | None]:
    """The Kafka source's three subscription modes: ``subscribe`` (comma
    list), ``subscribePattern`` (regex), and ``assign`` (explicit JSON
    ``{"topic": [0, 2]}`` — consume exactly those partitions, the
    partition-level manual assignment librdkafka's ``assign()`` does).
    Returns (root, topics, assigned) with ``assigned`` None unless
    ``assign`` was used."""
    root = options.get("path") or options.get("root")
    if not root:
        raise ValueError("topiclog requires option 'path' (the log root dir)")
    if "assign" in options:
        parsed = json.loads(options["assign"])
        assigned = {t: [int(p) for p in pids] for t, pids in parsed.items()}
        return root, sorted(assigned), assigned
    if "subscribepattern" in options:
        pat = re.compile(options["subscribepattern"])
        topics = [t for t in TopicLog(root).topics() if pat.fullmatch(t)]
    else:
        sub = options.get("subscribe") or options.get("topic")
        if not sub:
            raise ValueError(
                "topiclog requires 'subscribe', 'topic', 'subscribePattern' or 'assign'"
            )
        topics = [t.strip() for t in sub.split(",") if t.strip()]
    return root, topics, None


def _parse_duration_ms(raw: str | int) -> float:
    """Kafka-style duration: bare number = ms, else '500ms'/'30s'/'15m'/'1h'."""
    s = str(raw).strip().lower()
    for suffix, mult in (("ms", 1), ("s", 1000), ("m", 60_000), ("h", 3_600_000)):
        if s.endswith(suffix) and s[: -len(suffix)].strip():
            try:
                return float(s[: -len(suffix)]) * mult
            except ValueError:
                break
    try:
        return float(s)
    except ValueError:
        raise ValueError(f"cannot parse duration {raw!r} (try '500ms', '30s', '15m')")


def _parse_isolation(options: dict) -> str:
    """Kafka consumer ``isolation.level``: read_uncommitted (default, all
    data records) or read_committed (records of aborted/open transactions
    filtered out; control records are invisible at BOTH levels)."""
    iso = str(options.get("isolation", "read_uncommitted")).lower()
    if iso not in ("read_uncommitted", "read_committed"):
        raise ValueError(
            f"isolation={iso!r}: expected read_uncommitted or read_committed"
        )
    return iso


def _parse_offsets(raw: str | None, what: str, lowest: int) -> dict[str, int] | None:
    """The Kafka source's per-partition offsets JSON form
    ``{"topic": {"0": 23, "1": -2}}`` (-2 = earliest, -1 = latest) as a
    flat {"topic/pid": offset} dict; None for the "earliest"/"latest"
    string forms. A value below ``lowest`` (the smallest sentinel ``what``
    accepts) raises: read as a literal start it would silently read the
    whole partition."""
    if raw is None or not raw.strip().startswith("{"):
        return None
    out = {
        f"{t}/{pid}": int(off)
        for t, parts in json.loads(raw).items()
        for pid, off in parts.items()
    }
    for k, off in out.items():
        if off < lowest:
            valid = "-2 (earliest), -1 (latest)" if lowest == -2 else "-1 (latest)"
            raise ValueError(
                f"{what} for {k}: {off} — only {valid} or an absolute offset "
                "is valid (Kafka source contract)"
            )
    return out


class _TopicLogSource:
    """Option parsing shared by the batch and stream readers, each option
    parsed once: the subscription (root/topics/assign) and its READ ACL
    check, ``minPartitions``, ``isolation`` and the per-partition
    ``startingOffsets`` JSON form. ``includeHeaders`` is read off the
    ``schema`` Spark hands the reader (TopicLogDataSource.schema is the one
    place that parses the option)."""

    def __init__(self, options: dict, schema: StructType):
        self.root, self.topics, self.assigned = _resolve_topics(options)
        _authorize_ds(options, "READ", self.topics)
        self.headers = "headers" in schema.fieldNames()
        self.min_partitions = (
            int(options["minpartitions"]) if "minpartitions" in options else None
        )
        self.isolation = _parse_isolation(options)
        self.start_off = _parse_offsets(options.get("startingoffsets"),
                                        "startingOffsets", -2)

    def _pids(self, topic: str) -> list[int]:
        return (self.assigned.get(topic, []) if self.assigned is not None
                else _list_partitions(self.root, topic))

    def _start(self, key: str, end: int) -> int:
        """Start offset of partition ``key`` under the JSON form: -2 (or
        absent) = earliest, -1 = latest, else clamped to the log end."""
        raw = self.start_off.get(key, -2)
        return 0 if raw == -2 else end if raw == -1 else min(raw, end)


class _TopicLogBatchReader(_TopicLogSource, DataSourceReader):
    """Bounded batch scan with the Kafka batch source's option surface:
    ``startingOffsets``/``endingOffsets`` ("earliest"/"latest" or the
    per-partition JSON form with -2 = earliest, -1 = latest) and
    ``startingTimestamp``/``endingTimestamp`` (epoch ms, resolved through
    offsetsForTimes — the shape of a daily batch ETL reading yesterday's
    window off a topic). Timestamp options win over offset options, like
    the Kafka source rejects mixing (here: documented precedence).
    A start timestamp with no qualifying record → that partition reads
    nothing (startingOffsetsByTimestampStrategy=latest); an end timestamp
    with no qualifying record → reads to the log end."""

    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema)
        raw_start = options.get("startingoffsets")
        if raw_start is not None and raw_start.strip().lower() == "latest":
            # the Kafka batch source rejects startingOffsets=latest (an
            # empty scan by definition); silently reading the full range
            # instead would be worse than the error
            raise ValueError("batch read does not accept startingOffsets=latest")
        self.end_off = _parse_offsets(options.get("endingoffsets"),
                                      "endingOffsets", -1)
        self.start_ts = options.get("startingtimestamp")
        self.end_ts = options.get("endingtimestamp")

    def partitions(self) -> Sequence[InputPartition]:
        out = []
        log = TopicLog(self.root)
        excl = (log.unresolved_txn_ids()
                if self.isolation == "read_committed" else None)
        for t in self.topics:
            starts_by_time = (
                log.offsets_for_times(t, int(self.start_ts))
                if self.start_ts is not None else None
            )
            ends_by_time = (
                log.offsets_for_times(t, int(self.end_ts))
                if self.end_ts is not None else None
            )
            for pid in self._pids(t):
                end = _end_offset(_part_dir(self.root, t, pid))
                s, e = 0, end
                if starts_by_time is not None:
                    got = starts_by_time.get(pid)
                    s = end if got is None else got  # no match -> read nothing
                elif self.start_off is not None:
                    s = self._start(f"{t}/{pid}", end)
                if ends_by_time is not None:
                    got = ends_by_time.get(pid)
                    e = end if got is None else got  # no match -> to the end
                elif self.end_off is not None:
                    raw = self.end_off.get(f"{t}/{pid}", -1)
                    e = end if raw == -1 else min(raw, end)
                if e > s:
                    out.append(_Part(self.root, t, pid, s, e,
                                     headers=self.headers, excluded=excl))
        # a scan of nothing still needs ≥0 partitions; Spark handles []
        return _split_parts(out, self.min_partitions)

    def read(self, partition: _Part):
        return _read_best(partition)


class _TopicLogStreamReader(_TopicLogSource, DataSourceStreamReader):
    """Per-(topic,partition) offset tracking. Offsets are a flat JSON dict
    {"topic/pid": next_offset}. ``batchSize`` caps offsets consumed per
    partition per trigger (maxOffsetsPerTrigger analog — the reference's
    16-message pull loop, src/Consumer.coffee:57)."""

    def __init__(self, options: dict, schema: StructType):
        super().__init__(options, schema)
        self.pattern = options.get("subscribepattern")
        # startingOffsets: "earliest", "latest" (the default) or the
        # per-partition JSON form (start_off, Kafka-source parity S4)
        self.from_latest = options.get("startingoffsets", "latest").lower() == "latest"
        self.cap = int(options["batchsize"]) if "batchsize" in options else None
        # Kafka source minOffsetsPerTrigger/maxTriggerDelay: hold the
        # trigger until >= N new offsets are available, but never longer
        # than the delay (Kafka's default 15m) — small-batch suppression
        # for low-traffic topics
        self.min_offsets = (
            int(options["minoffsetspertrigger"])
            if "minoffsetspertrigger" in options else None
        )
        self.max_trigger_delay_ms = _parse_duration_ms(
            options.get("maxtriggerdelay", "15m")
        )
        self._last_fire = time.monotonic()
        self._planned: dict[str, int] | None = None

    def _current_topics(self) -> list[str]:
        if self.pattern:
            pat = re.compile(self.pattern)
            return [t for t in TopicLog(self.root).topics() if pat.fullmatch(t)]
        return self.topics

    def _ends(self) -> dict[str, int]:
        ends = {
            f"{t}/{pid}": _end_offset(_part_dir(self.root, t, pid))
            for t in self._current_topics()
            for pid in self._pids(t)
        }
        if self.isolation == "read_committed":
            # LSO gate: never PLAN past an open transaction's first record
            # — a txn that commits after the plan would otherwise have its
            # records filtered by this batch and skipped forever once the
            # checkpoint advances (Kafka bounds read_committed fetches at
            # the LSO for exactly this reason). The stall lifts the moment
            # the txn commits or aborts.
            log = TopicLog(self.root)
            for t in self._current_topics():
                for pid, floor in log.last_stable_offsets(t).items():
                    k = f"{t}/{pid}"
                    if k in ends:
                        ends[k] = min(ends[k], int(floor))
        return ends

    def _start_offsets(self) -> dict[str, int]:
        ends = self._ends()
        if self.start_off is not None:
            return {k: self._start(k, end) for k, end in ends.items()}
        return ends if self.from_latest else {k: 0 for k in ends}

    def initialOffset(self) -> dict:
        start = self._start_offsets()
        if self._planned is None:
            self._planned = dict(start)
        return start

    def latestOffset(self) -> dict:
        """Available end offsets, capped at ``_planned + batchSize`` per
        partition. The engine probes availability BEFORE initialOffset on a
        fresh query (and never calls initialOffset on a checkpoint restart),
        so the cap baseline initializes lazily from the startingOffsets
        semantics and is re-synced to the engine's authoritative positions
        by partitions()/commit(). Values never regress: a stale baseline
        yields at worst an empty no-op batch, never re-delivery."""
        ends = self._ends()
        if self._planned is None:
            self._planned = self._start_offsets()
        if self.min_offsets is not None:
            available = sum(
                max(0, end - self._planned.get(k, 0)) for k, end in ends.items()
            )
            held = (time.monotonic() - self._last_fire) * 1000.0
            if available < self.min_offsets and held < self.max_trigger_delay_ms:
                # hold the trigger: report no progress (empty batch)
                return dict(self._planned)
        planned = {}
        for k, end in ends.items():
            # a key absent from the seeded baseline is a partition/topic
            # discovered AFTER the stream started: consume it from 0 even
            # under startingOffsets=latest (Kafka's new-partition semantics —
            # "latest" describes the subscription start, not data loss later)
            base = self._planned.get(k, 0)
            capped = min(end, base + self.cap) if self.cap is not None else end
            planned[k] = max(base, capped)
        if planned != self._planned:
            self._last_fire = time.monotonic()
        self._planned = planned
        return planned

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # the engine's (start, end) is authoritative — sync the cap baseline
        if self._planned is None:
            self._planned = {}
        # read_committed: resolve txn visibility ONCE per micro-batch plan
        # (driver-side metadata read), shipped with every scan partition
        excl = (TopicLog(self.root).unresolved_txn_ids()
                if self.isolation == "read_committed" else None)
        out = []
        for k in set(start) | set(end):
            s, e = start.get(k, 0), end.get(k, 0)
            self._planned[k] = max(self._planned.get(k, 0), s, e)
            if e > s:
                topic, pid = k.rsplit("/", 1)
                out.append(_Part(self.root, topic, int(pid), s, e,
                                 headers=self.headers, excluded=excl))
        return _split_parts(out, self.min_partitions)

    def read(self, partition: _Part):
        return _read_best(partition)

    def commit(self, end: dict) -> None:
        if self._planned is None:
            self._planned = {}
        for k, v in end.items():
            self._planned[k] = max(self._planned.get(k, 0), v)

    def stop(self) -> None:
        pass


class _Staged(WriterCommitMessage):
    def __init__(self, files: list[tuple[int, str]], txn: str | None = None):
        self.files = files  # (pid, staged path)
        self.txn = txn  # atomic-batch txn tag (option atomic=true)


def _sink_txn_tag() -> str:
    """Executor-side: the batch-scoped transaction id for the atomic sink —
    derived from the engine's task-local streaming properties so every task
    of one micro-batch (and every replay attempt of it) computes the SAME
    id, with no driver→executor coordination."""
    from pyspark import TaskContext

    tc = TaskContext.get()
    qid = tc.getLocalProperty("sql.streaming.queryId") if tc else None
    bid = tc.getLocalProperty("streaming.sql.batchId") if tc else None
    if not qid or bid is None:
        raise RuntimeError(
            "atomic=true needs the streaming batch id in the task context "
            "(streaming sink only)"
        )
    return f"__sink-{qid}-{bid}"


def _to_epoch_ms(v, default_ms: int) -> int:
    """Producer-supplied record timestamp → epoch millis (the Kafka sink's
    optional ``timestamp`` column: CreateTime semantics). Accepts datetime
    (tz-aware or naive-UTC), int/float epoch ms, or None (falls back to the
    batch's produce wall-clock, Kafka's broker-side LogAppendTime)."""
    if v is None:
        return default_ms
    if isinstance(v, (int, float)):
        return int(v)
    if v.tzinfo is None:
        v = v.replace(tzinfo=timezone.utc)
    # exact integer arithmetic: float .timestamp()*1000 truncates 1 ms low
    # for values like 1.001 s (1000.9999... -> 1000), drifting CreateTime
    return (v - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(
        milliseconds=1
    )


def _write_staged(root: str, topic: str, by_pid: dict[int, list[str]],
                  txn: str | None = None) -> _Staged:
    staging = os.path.join(root, topic, ".staging")
    os.makedirs(staging, exist_ok=True)
    files = []
    cfg = _topic_config(root, topic)  # one read per task, not per bucket
    for lines in by_pid.values():  # executor-side fail-fast, like the
        _check_max_message(root, topic, lines, cfg)  # broker rejecting
    for pid, lines in by_pid.items():
        path = os.path.join(staging, f"{uuid.uuid4().hex}-p{pid}.jsonl")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        files.append((pid, path))
    return _Staged(files, txn=txn)


def _stage_batches(
    batches, root: str, topic: str, fields: list[str], tombstones: bool = False,
    txn_tag: str | None = None,
) -> _Staged:
    """Executor side: bucket records by partition, write one staged file per
    bucket; nothing becomes visible until driver-side commit links it in.
    The sink takes Arrow batches (the produce-path twin of
    _read_range_arrow) because columns come out of a RecordBatch as plain
    Python lists in one call, skipping the engine's per-row pickle → Row
    materialization (measured ~3× the Row-iterator rate at 100k records).
    Line encode/base64 is per record by format, but runs over local
    bindings only."""
    n_parts = len(_list_partitions(root, topic)) or 1
    has_key, has_part = "key" in fields, "partition" in fields
    has_ts = "timestamp" in fields
    has_hdr = "headers" in fields
    ts = int(time.time() * 1000)
    by_pid: dict[int, list[str]] = {}
    enc = _encode_line
    route = _route
    for batch in batches:
        names = batch.schema.names
        cols = {name: batch.column(i) for i, name in enumerate(names)}
        vals = cols["value"].to_pylist()
        keys = cols["key"].to_pylist() if has_key else None
        tss = cols["timestamp"].to_pylist() if has_ts else None
        hdrs = cols["headers"].to_pylist() if has_hdr else None
        parts = cols["partition"].to_pylist() if has_part else None
        for i, v in enumerate(vals):
            kb = keys[i] if keys is not None else None
            if isinstance(kb, str):
                kb = kb.encode()
            if v is None:
                if not tombstones:
                    raise ValueError(
                        "topiclog sink: null 'value' requires option tombstones=true"
                    )
                if kb is None:
                    raise ValueError("topiclog sink: tombstone requires a key")
                vb = None
            else:
                vb = v.encode() if isinstance(v, str) else v
            if parts is not None and parts[i] is not None:
                pid = int(parts[i]) % n_parts
            else:
                pid = route(kb, vb, n_parts)
            hdr = None
            if hdrs is not None and hdrs[i] is not None:
                hdr = _headers_to_wire([(h["key"], h["value"]) for h in hdrs[i]])
            bucket = by_pid.get(pid)
            if bucket is None:
                bucket = by_pid[pid] = []
            bucket.append(enc(kb, vb, _to_epoch_ms(tss[i], ts) if tss else ts,
                              headers=hdr, txn=txn_tag))
    return _write_staged(root, topic, by_pid, txn=txn_tag)


def _commit_staged(messages, root: str, topic: str,
                   compression: str | None = None,
                   client_id: str | None = None) -> None:
    """Driver side: publish every staged file as a segment (serialized here,
    so offset assignment needs no cross-task coordination), then drop the
    staging files. ``compression`` is the sink's normalized
    ``compression.type`` option and ``client_id`` its produce-quota
    entity — both applied by _publish_lines, the commit boundary being
    the sink-side analog of a broker delaying the produce response."""

    def staged():  # one file in memory at a time; unlinked once published
        for m in messages:
            if m is None:
                continue
            for pid, path in m.files:
                with open(path, encoding="utf-8") as f:
                    lines = [ln.rstrip("\n") for ln in f if ln.strip()]
                if lines:
                    yield pid, lines
                os.unlink(path)

    _publish_lines(root, topic, staged(), _topic_config(root, topic),
                   compression, client_id)


def _commit_staged_txn(
    messages, root: str, topic: str, txn_id: str | None, batch_id: int,
    compression: str | None = None, client_id: str | None = None,
) -> None:
    """Streaming commit with optional transactional batch dedup (the
    ``transactional.id`` analog of the Kafka producer): when ``txnId`` is
    set, each committed micro-batch leaves a marker under
    ``<topic>/.txn-<id>/<batchId>``; a REPLAYED batch (restart re-running
    an epoch the sink already published) finds its marker and discards the
    staged files instead of appending duplicates — at-least-once upgrades
    to effectively-exactly-once per (txnId, batchId). The marker lands
    AFTER the publish, so a crash in between still degrades to
    at-least-once (a real Kafka transaction closes that window with
    broker-side txn state; this is the single-writer file-log equivalent,
    and the remaining window is restart-only, not steady-state). Markers
    are scoped by txnId because Spark batch ids are per-query — two
    queries sharing a topic must not dedup against each other."""
    if txn_id is not None:
        marker_dir = os.path.join(root, topic, f".txn-{txn_id}")
        os.makedirs(marker_dir, exist_ok=True)
        marker = os.path.join(marker_dir, str(batch_id))
        if os.path.exists(marker):
            _abort_staged(messages)
            return
        _commit_staged(messages, root, topic, compression, client_id)
        tmp = marker + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("")
        os.replace(tmp, marker)
        return
    _commit_staged(messages, root, topic, compression, client_id)


def _commit_staged_atomic(messages, root: str, topic: str) -> None:
    """Atomic micro-batch publish (sink option ``atomic=true``) — the
    exactly-once upgrade a real Kafka EOS pipeline gets from transactional
    produce, built from the txn layer this module already has:

    1. every task tags its records with the batch-scoped txn id
       (``_sink_txn_tag``: same id for every task AND every replay of the
       batch);
    2. commit publishes the staged segments — visible to read_uncommitted,
       INVISIBLE to read_committed (the id is unresolved) — recording each
       claimed segment name + inode in the txn state file BEFORE linking
       (a write-ahead intent log);
    3. one commit marker per touched partition, then a single atomic
       ``os.replace`` of the state file flips the WHOLE batch visible.

    Crash anywhere before step 3's flip → the replayed batch finds the
    open txn, rolls back the previous attempt's segments (inode-checked:
    a name claimed by a foreign producer in the meantime is left alone)
    and re-publishes; a replay AFTER the flip finds state=commit and
    discards its staging. Net: a read_committed consumer sees every
    micro-batch exactly once and never partially, even across
    crash-replay; read_uncommitted degrades to at-least-once, exactly
    Kafka's isolation split. Rollback can leave offset HOLES (gapped
    segments are first-class here, as after compaction)."""
    msgs = [m for m in messages or [] if m is not None]
    tags = {m.txn for m in msgs if getattr(m, "txn", None)}
    if not tags:
        _abort_staged(msgs)
        return
    if len(tags) > 1:  # tasks of one batch can never disagree
        raise RuntimeError(f"atomic sink: mixed txn tags {sorted(tags)}")
    tag = tags.pop()
    log = TopicLog(root)
    st = log.txn_state(tag)
    if st is not None and st["state"] == "commit":
        _abort_staged(msgs)  # replay of an already-committed batch
        return
    if st is not None and st["state"] == "open":
        for final, ino in st.get("wal", []):  # crashed attempt: roll back
            try:
                if os.stat(final).st_ino == ino:
                    os.unlink(final)
            except OSError:
                pass
    st = {"state": "open", "partitions": {}, "wal": []}
    log._txn_write(tag, st)
    touched: set[int] = set()
    for m in msgs:
        for pid, path in m.files:
            pdir = _part_dir(root, topic, pid)
            os.makedirs(pdir, exist_ok=True)
            with open(path, encoding="utf-8") as f:
                n = sum(1 for ln in f if ln.strip())
            if n == 0:
                os.unlink(path)
                continue
            ino = os.stat(path).st_ino
            linked = False
            with _claim_lock(pdir):
                for _ in range(1000):
                    start = _end_offset(pdir)
                    final = os.path.join(pdir, f"seg-{start:020d}-{n}.jsonl")
                    st["wal"].append((final, ino))
                    # LSO floor for concurrent read_committed streams: they
                    # must not plan past this in-flight batch's first record
                    lso = st.setdefault("lso", {}).setdefault(topic, {})
                    lso[str(pid)] = min(lso.get(str(pid), start), start)
                    log._txn_write(tag, st)  # intent BEFORE the link
                    try:
                        os.link(path, final)
                        linked = True
                        break
                    except FileExistsError:
                        continue  # name taken; intent is inode-guarded,
                        # so the stale entry is rollback-inert
            if not linked:
                raise RuntimeError(f"could not claim an offset range in {pdir}")
            os.unlink(path)
            touched.add(pid)
    ts = int(time.time() * 1000)
    for pid in sorted(touched):
        _publish_segment(
            _part_dir(root, topic, pid),
            [_encode_line(None, b"", ts, txn=tag, ctl="commit")],
        )
    st["state"] = "commit"
    st["partitions"] = {topic: sorted(touched)}
    st.pop("wal", None)
    log._txn_write(tag, st)  # the atomic visibility flip


def _abort_staged(messages) -> None:
    for m in messages or []:
        if m is None:
            continue
        for _pid, path in m.files:
            try:
                os.unlink(path)
            except OSError:
                pass


class _TopicLogSink:
    """Option parsing and validation shared by the batch and streaming
    sinks (Kafka sink contract: a ``value`` column, optional ``key`` /
    ``partition`` / ``timestamp`` / ``headers``). ``_check_options`` holds
    the checks that differ per sink and runs before the ``value`` check."""

    def __init__(self, options: dict, schema: StructType):
        self.root = options.get("path") or options.get("root")
        self.topic = options["topic"]
        _authorize_ds(options, "WRITE", self.topic)
        self.fields = [f.name for f in schema.fields]
        self.tombstones = str(options.get("tombstones", "false")).lower() == "true"
        self.compression = _norm_compression(options.get("compression.type"))
        self.client_id = options.get("client.id")
        self.txn_id = options.get("txnid")
        self.atomic = str(options.get("atomic", "false")).lower() == "true"
        self._check_options()
        if "value" not in self.fields:
            raise ValueError("topiclog sink requires a 'value' column (kafka sink contract)")

    def _check_options(self) -> None:
        raise NotImplementedError


class _TopicLogArrowWriter(_TopicLogSink, DataSourceArrowWriter):
    """Batch sink: stages Arrow batches per task (_stage_batches), publishes
    them at commit (_commit_staged)."""

    def _check_options(self) -> None:
        if self.atomic or self.txn_id:
            # streaming-only options: a one-shot batch write has no
            # micro-batch replay to dedup and no batch-scoped txn tag —
            # reject rather than silently publishing without the guarantee
            raise ValueError(
                "topiclog batch sink: atomic/txnId are streaming-only; "
                "use the streaming writer for exactly-once publish"
            )

    def write(self, iterator) -> WriterCommitMessage:
        return _stage_batches(iterator, self.root, self.topic, self.fields, self.tombstones)

    def commit(self, messages) -> None:
        _commit_staged(messages, self.root, self.topic, self.compression,
                       self.client_id)

    def abort(self, messages) -> None:
        _abort_staged(messages)


class _TopicLogStreamArrowWriter(_TopicLogSink, DataSourceStreamArrowWriter):
    """Streaming sink: the batch sink's staging plus per-micro-batch txnId
    dedup or the atomic (read_committed exactly-once) publish."""

    def _check_options(self) -> None:
        if self.atomic and (self.compression or self.client_id):
            # the atomic sink hard-links staged files into place (WAL +
            # inode protocol), so it can neither recompress nor meter at
            # commit — reject rather than silently dropping the options
            raise ValueError(
                "topiclog sink: atomic=true is incompatible with "
                "compression.type/client.id (the atomic WAL links staged "
                "files; publish plain and set the codec as a topic config "
                "for non-atomic producers, or drop atomic)"
            )

    def write(self, iterator) -> WriterCommitMessage:
        return _stage_batches(iterator, self.root, self.topic, self.fields,
                              self.tombstones,
                              txn_tag=_sink_txn_tag() if self.atomic else None)

    def commit(self, messages, batchId: int) -> None:
        if self.atomic:
            # atomic mode hard-links staged files into place (the WAL/inode
            # protocol), so it always publishes plain segments: recompression
            # would break link-from-stage. compression.type is ignored here.
            _commit_staged_atomic(messages, self.root, self.topic)
        else:
            _commit_staged_txn(messages, self.root, self.topic, self.txn_id,
                               batchId, self.compression, self.client_id)

    def abort(self, messages, batchId: int) -> None:
        _abort_staged(messages)


class TopicLogDataSource(DataSource):
    """``format("topiclog")`` — Kafka-envelope source / Kafka-contract sink
    over a durable partitioned directory log."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        if str(self._options().get("includeheaders", "false")).lower() == "true":
            return f"{ENVELOPE_DDL}, {HEADERS_DDL}"
        return ENVELOPE_DDL

    def _options(self) -> dict:
        return {k.lower(): v for k, v in self.options.items()}

    def reader(self, schema: StructType) -> DataSourceReader:
        return _TopicLogBatchReader(self._options(), schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _TopicLogStreamReader(self._options(), schema)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _TopicLogArrowWriter(self._options(), schema)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return _TopicLogStreamArrowWriter(self._options(), schema)


_REGISTERED: set[str] = set()


def register(spark: SparkSession) -> None:
    """Idempotently register the topiclog format on the session."""
    sid = spark.sparkContext.applicationId
    if sid not in _REGISTERED:
        spark.dataSource.register(TopicLogDataSource)
        _REGISTERED.add(sid)


def commit_query_progress(query_or_progress, root: str, group: str) -> dict[str, dict[int, int]]:
    """Bridge a Structured Streaming query's source positions into the
    consumer-group store, Kafka's ``enable.auto.commit`` analog (the
    reference Consumer auto-commits the same way, src/Consumer.coffee's
    librdkafka defaults): after (or during) a run, the group's committed
    offsets reflect what the streaming consumer actually processed, so
    ``consumer_lag`` monitoring covers Spark queries — whose real progress
    otherwise lives only inside their checkpoint — alongside hand-driven
    consumers. Accepts a StreamingQuery (uses lastProgress) or a progress
    dict; parses each topiclog source's ``endOffset`` flat-dict form
    ({"topic/pid": next_offset}) and commits per topic. Returns what was
    committed. The Kafka source's endOffset JSON ({"topic": {"pid": off}})
    is accepted too."""
    import json as _json

    p = query_or_progress
    if hasattr(p, "lastProgress"):
        p = p.lastProgress
    if p is None:
        return {}
    # StreamingQueryProgress subclasses dict but its nested SourceProgress
    # stringifies endOffset with Python repr quoting — always renormalize
    # through the canonical JSON form when available
    if hasattr(p, "json"):
        p = _json.loads(p.json)
    log = TopicLog(root)
    committed: dict[str, dict[int, int]] = {}
    for src in p.get("sources") or []:
        end = src.get("endOffset")
        if isinstance(end, str):
            try:
                end = _json.loads(end)
            except ValueError:
                continue
        if not isinstance(end, dict):
            continue
        for k, v in end.items():
            if isinstance(v, dict):  # kafka-source nested form
                for pid, off in v.items():
                    committed.setdefault(k, {})[int(pid)] = int(off)
            elif "/" in k:  # topiclog flat form "topic/pid"
                topic, pid = k.rsplit("/", 1)
                committed.setdefault(topic, {})[int(pid)] = int(v)
    for topic, offs in committed.items():
        log.commit_offsets(group, topic, offs)
    return committed


def read_topic(
    spark: SparkSession, root: str, topics: str, include_headers: bool = False,
    **options: str,
) -> DataFrame:
    """Batch-read a topic (or comma list) as a Kafka-envelope DataFrame.
    Extra ``options`` pass through to the batch reader (startingOffsets /
    endingOffsets / startingTimestamp / endingTimestamp / assign)."""
    register(spark)
    reader = spark.read.format(FORMAT_NAME).option("path", root).option("subscribe", topics)
    if include_headers:
        reader = reader.option("includeHeaders", "true")
    for k, v in options.items():
        reader = reader.option(k, str(v))
    return reader.load()
