"""Windows Event Log (.evtx) binary decode.

The reference drives the public ``evtx`` crate from EvtxReader
(src/readers/evtxreader.rs:101-238: open → iterate records → re-sort
into a BTreeMap keyed (datetime, enum idx), counting out-of-order
records at :458-462) and renders each record's timestamp + XML.  The
file format itself is public (libyal "Windows XML Event Log (EVTX)"
documentation):

 * file header, 4096 bytes — magic ``ElfFile\\x00``, u16 chunk count
   at offset 42
 * chunks of 65536 bytes — magic ``ElfChnk\\x00``, u32 free-space
   offset at 48, event records from offset 512
 * event record — magic ``\\x2a\\x2a\\x00\\x00``, u32 size, u64
   record identifier, u64 FILETIME written-time, binary-XML payload
   (size − 28 bytes), u32 size copy

Spark-first shape: whole files via the binaryFile source, decoded in
an Arrow-batched ``mapInPandas`` (one walk per file — the
one-reader-per-file model, same as fixedstruct).  Record headers are
fixed-offset slices; the binary-XML payload stays opaque (the
reference hands it to the crate's template expansion — a vendored
parser we deliberately do not port; payloads here surface as
replacement-decoded text + exact length).  Re-sort and the
out-of-order count are ordinary window/sort operations downstream —
they run distributed, unlike the reference's in-memory BTreeMap.

CRC32 checksums (file header, chunk header, event-records region) are
computed by the fixture encoder but not enforced by the reader — a
torn chunk ends the walk at its first bad record magic instead of
failing the file, matching the crate's lenient chunk recovery.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..sources.logfiles import read_binary

FILE_MAGIC = b"ElfFile\x00"
CHUNK_MAGIC = b"ElfChnk\x00"
REC_MAGIC = b"\x2a\x2a\x00\x00"
FILE_HEADER_SIZE = 4096
CHUNK_SIZE = 65536
CHUNK_DATA_START = 512
REC_HEADER_SIZE = 24  # magic+size+record_id+filetime
REC_OVERHEAD = REC_HEADER_SIZE + 4  # + trailing size copy

# FILETIME epoch (1601-01-01) to unix epoch, in seconds
_FILETIME_EPOCH_S = 11_644_473_600

RECORDS_SCHEMA = (
    "source string, rec_idx int, record_id long, ts timestamp, "
    "payload string, payload_len int"
)


def filetime_to_us(ft: np.ndarray | int):
    """FILETIME (100 ns ticks since 1601) → unix microseconds."""
    return ft // 10 - _FILETIME_EPOCH_S * 1_000_000


def us_to_filetime(us: int) -> int:
    return (us + _FILETIME_EPOCH_S * 1_000_000) * 10


def decode_evtx_file(content: bytes) -> pd.DataFrame:
    """One .evtx file's bytes → record frame (enumeration order).

    Chunk walk per the public layout; each record's fixed header is
    read by offset, the payload kept opaque.  A record with a bad
    magic or an implausible size ends that chunk's walk (crate-style
    recovery); remaining chunks still decode.
    """
    rec_idx: list[int] = []
    record_id: list[int] = []
    ts_us: list[int] = []
    payload: list[str] = []
    plen: list[int] = []
    if len(content) < FILE_HEADER_SIZE or not content.startswith(FILE_MAGIC):
        return _frame(rec_idx, record_id, ts_us, payload, plen)
    (n_chunks,) = struct.unpack_from("<H", content, 42)
    i = 0
    for c in range(n_chunks):
        base = FILE_HEADER_SIZE + c * CHUNK_SIZE
        chunk = content[base : base + CHUNK_SIZE]
        if len(chunk) < CHUNK_DATA_START or not chunk.startswith(
            CHUNK_MAGIC
        ):
            continue
        (free_off,) = struct.unpack_from("<I", chunk, 48)
        end = min(free_off, len(chunk))
        off = CHUNK_DATA_START
        while off + REC_OVERHEAD <= end:
            if chunk[off : off + 4] != REC_MAGIC:
                break
            size, rid, ft = struct.unpack_from("<IQQ", chunk, off + 4)
            if size < REC_OVERHEAD or off + size > end:
                break
            data = chunk[off + REC_HEADER_SIZE : off + size - 4]
            rec_idx.append(i)
            record_id.append(rid)
            ts_us.append(filetime_to_us(ft))
            payload.append(data.decode("utf-8", errors="replace"))
            plen.append(len(data))
            i += 1
            off += size
    return _frame(rec_idx, record_id, ts_us, payload, plen)


def _frame(rec_idx, record_id, ts_us, payload, plen) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "rec_idx": np.asarray(rec_idx, dtype="int32"),
            "record_id": np.asarray(record_id, dtype="int64"),
            "ts": pd.to_datetime(
                np.asarray(ts_us, dtype="int64"), unit="us"
            ),
            "payload": pd.Series(payload, dtype="object"),
            "payload_len": np.asarray(plen, dtype="int32"),
        }
    )


def as_rows(rec: pd.DataFrame) -> pd.DataFrame:
    """Records → the routed row shape (sources.logfiles.ROWS_SCHEMA,
    minus conv_id/tool): the payload is the text, the record's
    written-time the pre-stamped ts."""
    return pd.DataFrame(
        {
            "turn_idx": rec["rec_idx"].astype("int32"),
            "role": "evtx",
            "text": rec["payload"],
            "ts": rec["ts"],
            "sink": "evtx",
        }
    )


def read_evtx(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """.evtx files → records DataFrame (enumeration order, one walk
    per file inside mapInPandas; binaryFile never splits a file)."""
    return read_binary(spark, paths, decode_evtx_file, RECORDS_SCHEMA)


def resort_with_ooo(records: DataFrame) -> DataFrame:
    """The EvtxReader re-sort: records ordered (ts, rec_idx) per
    source — the BTreeMap<(DateTimeL, usize)> key — plus ``ooo``
    marking records whose predecessor in ENUMERATION order has a later
    timestamp (evtxreader.rs:458-462).  Pure window functions; sums of
    ``ooo`` reproduce the reader's out_of_order counter."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w_enum = Window.partitionBy("source").orderBy("rec_idx")
    prev_ts = F.lag("ts").over(w_enum)
    w_sort = Window.partitionBy("source").orderBy("ts", "rec_idx")
    return records.withColumn(
        "ooo",
        (prev_ts.isNotNull() & (prev_ts > F.col("ts"))).cast("int"),
    ).withColumn("sorted_idx", F.row_number().over(w_sort) - 1)


def encode_evtx(records: list[dict]) -> bytes:
    """Inverse encoder (fixtures/tests): dict rows with ``record_id``,
    ``ts_us`` and ``payload`` (str/bytes) → a valid .evtx byte string
    with real CRC32 header/data checksums, splitting into new 64 KiB
    chunks as they fill."""
    chunks: list[bytes] = []
    cur: list[bytes] = []
    cur_len = CHUNK_DATA_START
    meta: list[tuple[int, int]] = []  # (first_rid, last_rid) per chunk

    def flush():
        nonlocal cur, cur_len
        if not cur:
            return
        data = b"".join(cur)
        first_rid, last_rid = meta[len(chunks)]
        hdr = bytearray(CHUNK_DATA_START)
        hdr[0:8] = CHUNK_MAGIC
        # first/last event record number == identifier for fixtures
        struct.pack_into(
            "<QQQQ", hdr, 8, first_rid, last_rid, first_rid, last_rid
        )
        struct.pack_into("<I", hdr, 40, 128)  # header size
        # last event record data offset = start of the last record
        last_off = CHUNK_DATA_START + len(data) - len(cur[-1])
        struct.pack_into("<I", hdr, 44, last_off)
        struct.pack_into("<I", hdr, 48, CHUNK_DATA_START + len(data))
        struct.pack_into("<I", hdr, 52, zlib.crc32(data))
        struct.pack_into(
            "<I", hdr, 124, zlib.crc32(bytes(hdr[0:120]))
        )
        chunk = bytes(hdr) + data
        chunks.append(chunk.ljust(CHUNK_SIZE, b"\x00"))
        cur, cur_len = [], CHUNK_DATA_START

    for r in records:
        payload = r.get("payload", b"")
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        size = REC_OVERHEAD + len(payload)
        if cur_len + size > CHUNK_SIZE:
            flush()
        rid = int(r["record_id"])
        rec = (
            REC_MAGIC
            + struct.pack(
                "<IQQ", size, rid, us_to_filetime(int(r["ts_us"]))
            )
            + payload
            + struct.pack("<I", size)
        )
        if len(meta) == len(chunks):
            meta.append((rid, rid))
        else:
            meta[-1] = (meta[-1][0], rid)
        cur.append(rec)
        cur_len += size
    flush()

    hdr = bytearray(FILE_HEADER_SIZE)
    hdr[0:8] = FILE_MAGIC
    next_rid = int(records[-1]["record_id"]) + 1 if records else 1
    struct.pack_into("<QQQ", hdr, 8, 0, max(len(chunks) - 1, 0), next_rid)
    struct.pack_into("<I", hdr, 32, 128)  # header size
    struct.pack_into("<HH", hdr, 36, 1, 3)  # minor, major
    struct.pack_into("<HH", hdr, 40, FILE_HEADER_SIZE, len(chunks))
    struct.pack_into("<I", hdr, 124, zlib.crc32(bytes(hdr[0:120])))
    return bytes(hdr) + b"".join(chunks)
