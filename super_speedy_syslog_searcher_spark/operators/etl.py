"""Windows Event Trace Log (.etl) decode.

The reference processes .etl through a vendored Python reader
(src/readers/pyeventreader.rs; expected rendering in
tools/compare-current-and-expected/logs/programs/Event_Trace_Log/
*.etl.stdout).  This module is written from the PUBLIC ETW/ETL
layouts — the WMI buffer + trace-header structures are documented in
the Windows SDK headers (evntrace.h / evntcons.h / ntwmi), libyal's
"Event Tracing Log (ETL) format" notes, and Geoff Chappell's WMI
buffer documentation — plus direct inspection of the genuine corpus
file; the vendored parser was not read or ported.

Container: a sequence of fixed-size WMI buffers (size = u32 at file
offset 0, 0x2000 in the corpus file); events start at buffer offset
0x48, each 8-byte aligned, walked until an unknown header type or
zero size (torn-tail recovery — the walk reproduces the reference's
exact record count on its own file).

Trace headers by HeaderType byte (offset 2):

- 0x01/0x02 SYSTEM trace header: u16 version, u8 type, u8 flags,
  u16 size, u16 hook_id, u32 thread_id, u32 process_id, i64
  timestamp, u64 processor_time — payload follows (size includes
  the 0x20 header).
- 0x10/0x11 PERFINFO trace header: u16 version, u8 type, u8 flags,
  u16 size, u16 hook_id, i64 timestamp — 0x10-byte header.
- 0x12/0x13 full EVENT_HEADER (crimson/tracelogging): u16 size, u16
  header_type, u16 flags, u16 event_property, u32 thread_id, u32
  process_id, i64 timestamp, GUID provider_id, EVENT_DESCRIPTOR
  (id u16, version u8, channel u8, level u8, opcode u8, task u16,
  keyword u64), u64 processor_time, GUID activity_id = 0x50 bytes;
  when flags bit 0 (EXTENDED_INFO) is set, a linkage-chained list of
  extended-data items follows (u16 item_size, u16 ext_type, u16
  linkage, u16 data_size, data, 8-byte aligned), then the user
  payload.

Timestamps: with the logfile header's ReservedFlags == 1 the
per-event stamps are QPC ticks; wall time anchors the FIRST event's
ticks to the header's StartTime FILETIME and scales by PerfFreq
(10 MHz in the corpus → 100 ns ticks).  The float pipeline is
deliberately ``fromtimestamp(ticks * 1e-7 - 11644473600)`` — proven
to reproduce the reference's microsecond rounding on every record
(tests/test_etl.py; other float orders differ by ±1 µs).
ReservedFlags == 2 means stamps are already FILETIME.

Rendering is validated against the reference's expected output for
its real waasmedic .etl — all 21 records byte-identical modulo the
``NULLx<hex>L`` token on two PERFINFO payload lines (that token is a
memory-address artifact of the vendored renderer's run, not data;
the test normalizes it on both sides).
"""

from __future__ import annotations

import datetime as dt
import struct
import uuid
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from ..sources.logfiles import read_binary

# public constant (evntrace.h EventTraceGuid) — the provider of the
# kernel's EventTrace group
EVENT_TRACE_GUID = "68fdd900-4a3e-11d1-84f4-0000f80464e3"

# public EVENT_TRACE_GROUP opcodes observed in EventTrace (group 0)
_EVENTTRACE_OPCODES = {
    0: "Header",
    5: "Extension",
    8: "RDComplete",
    32: "EndExtension",
    64: "DbgIdRSDS",
    66: "BuildInfo",
    80: "PartitionInfoExtension",
}

# public evntcons.h EVENT_HEADER_EXT_TYPE_* names
_EXT_TYPES = {
    1: "RELATED_ACTIVITYID", 2: "SID", 3: "TS_ID", 4: "INSTANCE_INFO",
    5: "STACK_TRACE32", 6: "STACK_TRACE64", 7: "PEBS_INDEX",
    8: "PMC_COUNTERS", 9: "PSM_KEY", 10: "EVENT_KEY",
    11: "EVENT_SCHEMA_TL", 12: "PROV_TRAITS", 13: "PROCESS_START_KEY",
    14: "CONTROL_GUID", 15: "QPC_DELTA", 16: "CONTAINER_ID",
    17: "STACK_KEY32", 18: "STACK_KEY64",
}

_FILETIME_DELTA_S = 11_644_473_600

RECORDS_SCHEMA = (
    "source string, rec_idx long, ts timestamp, kind string, "
    "provider_id string, thread_id int, process_id int, "
    "opcode string, payload_len int, line string"
)


def _wall(ticks: int) -> dt.datetime:
    # exact float pipeline — see module docstring
    return dt.datetime.fromtimestamp(
        ticks * 1e-7 - _FILETIME_DELTA_S, tz=dt.timezone.utc
    )


def _guid(b: bytes) -> str:
    return str(uuid.UUID(bytes=b))


def _wsz(b: bytes) -> str:
    return b.decode("utf-16-le", "replace").split("\x00", 1)[0]


def _render_logfile_header(pl: bytes) -> str:
    f = struct.unpack_from("<IIIIQIIIIIIIIQQ", pl, 0)
    (bufsz, ver, pver, ncpu, endt, tres, maxf, mode, bw, sb, psz,
     lost, cpu, logger, logfile) = f
    tz = list(pl[72:248])
    boot, freq, start = struct.unpack_from("<QQQ", pl, 248)
    rflags, blost = struct.unpack_from("<II", pl, 272)
    # two NUL-terminated UTF-16 strings follow
    sess = _wsz(pl[280:])
    off2 = 280 + (len(sess) + 1) * 2
    logname = _wsz(pl[off2:])
    return (
        f"<EventTrace_Header BufferSize={bufsz:#x} Version={ver:#x} "
        f"ProviderVersion={pver:#x} NumberOfProcessors={ncpu:#x} "
        f"EndTime={endt:#x} TimerResolution={tres:#x} "
        f"MaxFileSize={maxf:#x} LogFileMode={mode:#x} "
        f"BuffersWritten={bw:#x} StartBuffers={sb:#x} "
        f"PointerSize={psz:#x} EventsLost={lost:#x} CPUSpeed={cpu:#x} "
        f"LoggerName={logger} LogFileName={logfile} "
        f"TimeZoneInformation={tz} BootTime={boot:#x} "
        f"PerfFreq={freq:#x} StartTime={start:#x} "
        f"ReservedFlags={rflags:#x} BuffersLost={blost:#x} "
        f"SessionNameString={sess!r} LogFileNameString={logname!r}>"
    )


def _render_payload(opcode: int, pl: bytes) -> str:
    """EventTrace-group payload templates for the opcodes the corpus
    exercises; anything else renders as an honest hex summary."""
    if opcode == 0:
        return _render_logfile_header(pl)
    if opcode == 80:
        ev, res = struct.unpack_from("<HH", pl, 0)
        ptype, qpc = struct.unpack_from("<IQ", pl, 4)
        return (
            f"<Header_PartitionInformation_TypeGroup "
            f"EventVersion={ev:#x} Reserved={res:#x} "
            f"PartitionType={ptype:#x} QpcOffsetFromRoot={qpc:#x} "
            f"PartitionId={pl[16:32]!r} ParentId={pl[32:48]!r}>"
        )
    if opcode == 66:
        return f"<NULLx0L BuildString={pl.rstrip(chr(0).encode())!r}>"
    if opcode == 64:
        age = struct.unpack_from("<I", pl, 16)[0]
        pdb = pl[20:].rstrip(b"\x00")
        return (
            f"<NULLx0L Guid={pl[:16]!r} Age={age:#x} PdbName={pdb!r}>"
        )
    return f"<Opcode{opcode} payload_len={len(pl)}>"


def _render_extensions(items: list[tuple]) -> str:
    parts = []
    for ext_type, data in items:
        name = _EXT_TYPES.get(ext_type, str(ext_type))
        tok = f"<ExtType.{name}: {ext_type}>"
        if ext_type == 12:  # PROV_TRAITS
            tsize = struct.unpack_from("<H", data, 0)[0]
            name_end = data.find(b"\x00", 2)
            pname = data[2:name_end if name_end >= 0 else len(data)]
            parts.append(
                "{'ExtType': %s, 'TraitSize': %d, 'ProviderName': %r,"
                " 'Traits': []}" % (tok, tsize, pname)
            )
        elif ext_type == 11:  # EVENT_SCHEMA_TL
            parts.append("{'ExtType': %s, 'EventSchema': %r}" % (tok, data))
        else:
            parts.append("{'ExtType': %s, 'Data': %r}" % (tok, data))
    return "[" + ", ".join(parts) + "]"


def walk_etl(data: bytes) -> Iterator[dict]:
    """Raw event walk over all WMI buffers (no time conversion)."""
    if len(data) < 0x48:
        raise ValueError("not an ETL file (shorter than one header)")
    bufsz = struct.unpack_from("<I", data, 0)[0]
    if bufsz == 0 or bufsz % 1024 or bufsz > len(data):
        raise ValueError(f"not an ETL file (buffer size {bufsz:#x})")
    for b in range(len(data) // bufsz):
        base = b * bufsz
        off = base + 0x48
        while off + 8 <= base + bufsz:
            ver, htype, hflags = struct.unpack_from("<HBB", data, off)
            if htype in (0x01, 0x02):
                size, hook, tid, pid = struct.unpack_from(
                    "<HHII", data, off + 4
                )
                if size < 0x20 or off + size > base + bufsz:
                    break
                qpc = struct.unpack_from("<q", data, off + 16)[0]
                ptime = struct.unpack_from("<Q", data, off + 24)[0]
                yield {
                    "kind": "SystemHeader", "version": ver,
                    "hook": hook, "tid": tid, "pid": pid, "qpc": qpc,
                    "ptime": ptime, "payload": data[off + 32 : off + size],
                }
            elif htype in (0x10, 0x11):
                size, hook = struct.unpack_from("<HH", data, off + 4)
                if size < 0x10 or off + size > base + bufsz:
                    break
                qpc = struct.unpack_from("<q", data, off + 8)[0]
                yield {
                    "kind": "PerfinfoTraceHeader", "version": ver,
                    "hook": hook, "tid": None, "pid": None, "qpc": qpc,
                    "payload": data[off + 16 : off + size],
                }
            elif htype in (0x12, 0x13):
                size = ver  # u16 at offset 0 IS the size here
                if size < 0x50 or off + size > base + bufsz:
                    break
                eflags, _prop = struct.unpack_from("<HH", data, off + 4)
                tid, pid = struct.unpack_from("<II", data, off + 8)
                qpc = struct.unpack_from("<q", data, off + 16)[0]
                provider = bytes(data[off + 24 : off + 40])
                desc = data[off + 40 : off + 56]
                activity = bytes(data[off + 64 : off + 80])
                p = off + 0x50
                items = []
                if eflags & 0x0001:  # EXTENDED_INFO
                    while p + 8 <= off + size:
                        isz, etype, link, dsz = struct.unpack_from(
                            "<HHHH", data, p
                        )
                        if isz < 8 or p + isz > off + size:
                            break
                        items.append(
                            (etype, bytes(data[p + 8 : p + 8 + dsz]))
                        )
                        p += isz
                        if not (link & 0x0001):
                            break
                yield {
                    "kind": "EventHeader",
                    "version": desc[2],  # EVENT_DESCRIPTOR.Version
                    "provider": provider, "activity": activity,
                    "tid": tid, "pid": pid, "qpc": qpc,
                    "items": items, "payload": data[p : off + size],
                }
            else:
                break
            off += (size + 7) & ~7


def decode_etl_file(data: bytes) -> pd.DataFrame:
    events = list(walk_etl(data))
    # time anchor: logfile header's StartTime <-> first event's ticks
    anchor_wall = None
    reserved_flags = 1
    for e in events:
        if e["kind"] == "SystemHeader" and e["hook"] & 0xFF == 0:
            pl = e["payload"]
            if len(pl) >= 280:
                start = struct.unpack_from("<Q", pl, 264)[0]
                reserved_flags = struct.unpack_from("<I", pl, 272)[0]
                anchor_wall = start
            break
    qpc0 = events[0]["qpc"] if events else 0
    rows = []
    for i, e in enumerate(events):
        if reserved_flags == 2:
            ticks = e["qpc"]  # already FILETIME
        elif anchor_wall is not None:
            ticks = anchor_wall + (e["qpc"] - qpc0)
        else:
            ticks = None
        wall = _wall(ticks) if ticks is not None else None
        tstr = str(wall) if wall is not None else "unknown"
        if e["kind"] == "EventHeader":
            provider = _guid(e["provider"])
            opname = None
            head = (
                f"<EventHeader version={e['version']} "
                f"provider_id={provider} timestamp={tstr} "
                f"ThreadId={e['tid']} ProcessId={e['pid']} "
                f"ActivityId={_guid(e['activity'])} "
                f"Extensions={_render_extensions(e['items'])}>"
            )
            line = head + "<Event />"
        else:
            provider = EVENT_TRACE_GUID
            opcode = e["hook"] & 0xFF
            opname = _EVENTTRACE_OPCODES.get(opcode, f"Op{opcode}")
            if e["kind"] == "SystemHeader":
                head = (
                    f"<SystemHeader version={e['version']} "
                    f"provider_id={provider} timestamp={tstr} "
                    f"ThreadId={e['tid']} ProcessId={e['pid']} "
                    f"ProcessorTime={e['ptime']}>"
                )
            else:
                head = (
                    f"<PerfinfoTraceHeader version={e['version']} "
                    f"provider_id={provider} timestamp={tstr} >"
                )
            line = (
                f"{head} <EventTraceEvent/{opname} "
                f"{_render_payload(opcode, e['payload'])}>"
                f'<Event provider_name="Windows Kernel" '
                f'symbol="EventTraceEvent/{opname}" />'
            )
        if ticks is not None:
            # the ts COLUMN is integer-exact (100ns ticks → µs floor);
            # the rendered ``line`` keeps the reference renderer's
            # float pipeline, which can differ by ±1-2 µs (that wobble
            # is the renderer's documented artifact, not data)
            us_total = ticks // 10 - _FILETIME_DELTA_S * 1_000_000
        else:
            us_total = None
        rows.append(
            (
                i, us_total, e["kind"], provider,
                e["tid"], e["pid"], opname, len(e["payload"]), line,
            )
        )
    cols = [
        "rec_idx", "ts_us", "kind", "provider_id", "thread_id",
        "process_id", "opcode", "payload_len", "line",
    ]
    df = pd.DataFrame(rows, columns=cols)
    if len(df):
        df["ts"] = pd.to_datetime(
            df.pop("ts_us").astype("float").astype("Int64"), unit="us",
            errors="coerce",
        )
    else:
        df["ts"] = pd.Series(dtype="datetime64[ns]")
        df = df.drop(columns=["ts_us"])
    df["rec_idx"] = df["rec_idx"].astype("int64")
    for c in ("thread_id", "process_id"):
        df[c] = df[c].astype("Int32")
    df["payload_len"] = df["payload_len"].astype("int32")
    return df[
        [
            "rec_idx", "ts", "kind", "provider_id", "thread_id",
            "process_id", "opcode", "payload_len", "line",
        ]
    ]


def as_rows(rec: pd.DataFrame) -> pd.DataFrame:
    """Records → the routed row shape (sources.logfiles.ROWS_SCHEMA,
    minus conv_id/tool): text is the reference's rendered ETL record
    line."""
    return pd.DataFrame(
        {
            "turn_idx": rec["rec_idx"].astype("int32"),
            "role": "etl",
            "text": rec["line"],
            "ts": rec["ts"],
            "sink": "etl",
        }
    )


def read_etl(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """.etl files → records DataFrame (one buffer walk per file in an
    Arrow-batched mapInPandas; binaryFile never splits a file)."""
    return read_binary(spark, paths, decode_etl_file, RECORDS_SCHEMA)


def encode_etl(
    records: list[dict],
    start_us: int,
    buffer_size: int = 0x2000,
) -> bytes:
    """Inverse encoder (fixtures/tests): an ETL byte string holding
    one logfile-header system event (StartTime = ``start_us``,
    ReservedFlags=1, PerfFreq=10 MHz) followed by one full
    EVENT_HEADER record per input dict (``ts_us``, ``provider``
    (uuid str), ``tid``/``pid``, ``version``, ``provider_name``,
    ``payload`` bytes) — QPC stamps derived so the decoder's
    anchor arithmetic reproduces ``ts_us`` exactly."""
    start_ft = (start_us + _FILETIME_DELTA_S * 1_000_000) * 10

    def sys_header_event() -> bytes:
        pl = bytearray(280)
        struct.pack_into("<IIII", pl, 0, buffer_size, 0x501000A, 0, 1)
        struct.pack_into("<Q", pl, 16, start_ft)  # EndTime (cosmetic)
        struct.pack_into("<I", pl, 24, 156250)
        struct.pack_into("<QQQ", pl, 248, start_ft, 10_000_000, start_ft)
        struct.pack_into("<II", pl, 272, 1, 0)
        sess = "fixture\x00".encode("utf-16-le")
        logn = "fixture.etl\x00".encode("utf-16-le")
        pl = bytes(pl) + sess + logn
        size = 0x20 + len(pl)
        hdr = struct.pack(
            "<HBBHHIIqQ", 2, 0x02, 0xC0, size, 0, 1000, 2000,
            0, 0,
        )
        return hdr + pl

    def event(r: dict, qpc: int) -> bytes:
        payload = r.get("payload", b"")
        prov = uuid.UUID(r["provider"]).bytes
        desc = bytes([0, 0, int(r.get("version", 0)), 11, 4, 0, 0, 0]) + b"\x00" * 8
        size = 0x50 + len(payload)
        hdr = struct.pack(
            "<HHHHIIq", size, 0x0013, 0, 0,
            int(r.get("tid", 1)), int(r.get("pid", 2)), qpc,
        )
        return (
            hdr + prov + desc + b"\x00" * 8 + b"\x00" * 16 + payload
        )

    blobs = [sys_header_event()]
    for r in records:
        qpc = (int(r["ts_us"]) - start_us) * 10
        blobs.append(event(r, qpc))
    # pack into fixed-size buffers
    out = bytearray()
    buf = bytearray(0x48)
    struct.pack_into("<III", buf, 0, buffer_size, 0x48, 0x48)

    def flush(b: bytearray) -> None:
        b.extend(b"\xff" * (buffer_size - len(b)))
        out.extend(b)

    for blob in blobs:
        pad = (-len(blob)) % 8
        chunk = blob + b"\x00" * pad
        if len(buf) + len(chunk) > buffer_size:
            flush(buf)
            buf = bytearray(0x48)
            struct.pack_into("<III", buf, 0, buffer_size, 0x48, 0x48)
        buf.extend(chunk)
    flush(buf)
    return bytes(out)
