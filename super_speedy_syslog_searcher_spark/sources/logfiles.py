"""Raw log-file sources: the reference's actual input shape.

s4 walks paths, routes each file by type
(src/readers/filepreprocessor.rs:1188,1462) and feeds one reader per
file into one processing loop (s4.rs processing_loop).  Here:

 * ``assembled_from_paths`` — `s4 <paths>` parity.  The path walk
   happens on the driver; then ONE binaryFile scan reads every file
   and ONE mapInPandas decodes it, picking the decoder per file (and
   per tar member) with ``path_to_filetype``: text lines, or the
   records of the evtx / journal / utmp / ASL / ETL / ODL readers.
   Every decoder emits one row shape (ROWS_SCHEMA: the transcripts
   columns plus ``sink``, null for text and the kind for pre-stamped
   binary records), and the same mapInPandas parses, repairs and
   assembles each decoded batch, so a search crosses into Python once
   per file and needs no window exchange.
 * ``read_log_files_decoded`` — the same decode with every file read
   as text (BOM / null-pattern encoding sniff, per-codec
   decompression).
 * ``read_binary`` / ``decode_file_batches`` — the body of the
   per-kind binary readers (read_evtx, read_journal, …);
   ``read_binary_stream`` is the same decode over a file stream.

Text rows have exactly the transcripts shape (conv_id=file,
turn_idx=line number, text=line, ts=file mtime stand-in), so the
pipeline (parse → repair → assemble → merge) runs unchanged on real
log files.  Fault isolation is per file: one undecodable file warns
and is skipped, never failing its batch.
"""

from __future__ import annotations

import codecs
import functools
import glob as _glob
import gzip
import io
import os
import sys
import tarfile
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..operators.assemble import parse_assemble

# BOM sniff table, longest first (UTF-32LE's BOM starts with
# UTF-16LE's) — detect_filetype_text_encoding parity
# (src/readers/filepreprocessor.rs:278-360).
_BOM_ENCODINGS = [
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
    (codecs.BOM_UTF8, "utf-8-sig"),
]


def sniff_encoding(head: bytes) -> str:
    """Encoding detection: BOM first, then null-byte-pattern scoring
    for BOM-less UTF-16/32 (filepreprocessor.rs:278-360 scores the
    first block's byte layout the same way); defaults to UTF-8.

    ASCII-range text encoded UTF-16LE looks like ``41 00 42 00`` (odd
    bytes null), BE like ``00 41``; UTF-32 adds three nulls per
    4-byte group.  Thresholds ask for >80% conformity over at least 8
    bytes so binary junk stays 'utf-8' (and downstream replacement
    decoding applies)."""
    for bom, enc in _BOM_ENCODINGS:
        if head.startswith(bom):
            return enc
    n = len(head) & ~3  # whole 4-byte groups
    if n >= 8:
        g = [head[i : i + 4] for i in range(0, n, 4)]
        if sum(b[1:] == b"\x00\x00\x00" and b[0] != 0 for b in g) > 0.8 * len(g):
            return "utf-32-le"
        if sum(b[:3] == b"\x00\x00\x00" and b[3] != 0 for b in g) > 0.8 * len(g):
            return "utf-32-be"
        pairs = [head[i : i + 2] for i in range(0, n, 2)]
        if sum(p[1] == 0 and p[0] != 0 for p in pairs) > 0.8 * len(pairs):
            return "utf-16-le"
        if sum(p[0] == 0 and p[1] != 0 for p in pairs) > 0.8 * len(pairs):
            return "utf-16-be"
    return "utf-8"


def _decompress(path: str, data: bytes) -> bytes:
    """Per-codec whole-file decompression by extension — BlockReader
    codec parity (blockreader.rs:3382 bz2, :3959 lz4, :4155 xz; gz
    handled by its own reader).  lz4 prefers the C-backed ``lz4``
    package when importable and otherwise uses the dependency-free
    pure-Python frame decoder (functions/lz4frame, written from the
    public LZ4 spec; validated against the reference corpus's real
    .lz4 files)."""
    if path.endswith(".gz"):
        return gzip.decompress(data)
    if path.endswith(".bz2"):
        import bz2

        return bz2.decompress(data)
    if path.endswith((".xz", ".lzma")):
        import lzma

        return lzma.decompress(data)
    if path.endswith(".lz4"):
        try:
            import lz4.frame  # optional C-speed fast path
        except ImportError:
            from ..functions import lz4frame

            return lz4frame.decompress(data)
        return lz4.frame.decompress(data)
    return data


def hadoop_glob_escape(path: str) -> str:
    """Escape glob metacharacters in a LITERAL path for Hadoop's
    GlobFilter (binaryFile/text .load treat paths as glob patterns —
    a real file named 'entry6_1_(b1_xz).wtmp.tar' or 'a[4-0].log'
    otherwise errors or silently matches nothing)."""
    out = []
    for c in path:
        if c in '*?[]{}\\':
            out.append('\\' + c)
        else:
            out.append(c)
    return "".join(out)


def read_log_files_decoded(
    spark: SparkSession, paths: list[str] | str
) -> DataFrame:
    """paths (literal files) → DataFrame(conv_id, turn_idx, role,
    text, tool, ts): every file read as text, UTF-8/16/32 ± BOM.

    The Spark text source is UTF-8-only, so every file takes the
    reference's own route (filepreprocessor.rs:278-360 detects BOM and
    transcodes the file): whole files via the binaryFile source, then
    an Arrow-batched mapInPandas decodes (BOM / null-pattern sniff),
    splits lines, and numbers turns.  A file is the unit of
    parallelism — identical to s4's one-reader-per-file model; the
    binaryFile source never splits a file, so line numbering is exact.
    Compressed payloads are decompressed before the sniff (BlockReader
    codec parity) and tar members become their own sources.  ts
    carries the file's modificationTime, the same mtime seed s4 uses
    for no-year/uptime anchoring.

    Output shape == transcripts: the whole pipeline runs unchanged on
    the result.  Every file is read as text here;
    ``assembled_from_paths`` is the routed form of the same decode.
    """
    return _routed_rows(
        spark, paths, functools.partial(_decode_routed, route=False)
    ).drop("sink")


# ---------------------------------------------------------------- routing

# path_to_filetype parity (src/readers/filepreprocessor.rs:1188,1462):
# extension → reader family.  Unknown extensions route to the text
# reader (s4 attempts text parsing for unrecognized files).
_FIXEDSTRUCT_NAMES = ("utmp", "wtmp", "btmp", "utmpx", "wtmpx", "lastlog")


_COMPRESSION_EXTS = (".gz", ".bz2", ".xz", ".lzma", ".lz4")


def strip_compression(path: str) -> str:
    """Peel compression suffixes so routing sees the inner type
    ('system.journal.gz' routes as journal; s4 decompresses to a
    temp file first — decompress_to_ntf — then routes the result)."""
    low = path.lower()
    while low.endswith(_COMPRESSION_EXTS):
        low = low[: low.rfind(".")]
    return low


def path_to_filetype(path: str) -> str:
    """'tar' | 'evtx' | 'journal' | 'odl' | 'asl' | 'etl' |
    'fixedstruct' | 'text'."""
    low = strip_compression(path)
    if low.endswith(".tar") or low.endswith(".tgz"):
        # archives route per-MEMBER (filepreprocessor.rs:1205-1260
        # routes each tar entry by its own inner type)
        return "tar"
    if low.endswith(".evtx"):
        return "evtx"
    if low.endswith(".journal"):
        return "journal"
    if low.endswith((".odl", ".odlgz", ".aodl", ".odlsent")):
        return "odl"
    if low.endswith(".asl"):
        return "asl"
    if low.endswith(".etl"):
        return "etl"
    base = low.rsplit("/", 1)[-1]
    stem = base.split(".")[0]
    if stem in _FIXEDSTRUCT_NAMES or base.endswith(
        tuple("." + n for n in _FIXEDSTRUCT_NAMES)
    ):
        return "fixedstruct"
    return "text"


# One row shape for every decoder.  sink is null for text lines (the
# parse stage assigns it) and names the kind for pre-stamped binary
# records, which keep their own ts through parse/repair/assemble.
ROWS_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp, sink string"
)
_ROW_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "sink"]
# the search's columns of operators.assemble.parse_assemble's output
ASSEMBLED_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "text string, ts timestamp, ts_eff timestamp, sink_eff string, "
    "msg_turn_idx int"
)
_ASSEMBLED_COLS = [f.split()[0] for f in ASSEMBLED_SCHEMA.split(", ")]


def _warn_failed(path: str, ex: Exception) -> None:
    print(
        f"WARNING: failed to decode {path!r}: {type(ex).__name__}: {ex}",
        file=sys.stderr,
    )


def decode_file_batches(
    batches: Iterator[pd.DataFrame],
    decode: Callable[[bytes], pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(path, content) batches → ``decode``'s record frames with a
    leading ``source`` column: the body of every binary reader
    (read_evtx, read_journal, …).  Per-file fault isolation: one
    undecodable file (wrong magic, torn stream, AppleDouble "._"
    sidecar) warns and is skipped instead of killing the job — s4
    records a per-file processing error and moves on."""
    for pdf in batches:
        frames = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                f = decode(_decompress(path, bytes(content)))
            except Exception as ex:  # noqa: BLE001
                _warn_failed(path, ex)
                continue
            f.insert(0, "source", path)
            frames.append(f)
        if frames:
            yield pd.concat(frames, ignore_index=True)


def read_binary(
    spark: SparkSession,
    paths: list[str] | str,
    decode: Callable[[bytes], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """Binary log files → record DataFrame: one ``decode`` walk per
    file inside an Arrow-batched mapInPandas (binaryFile never splits
    a file — the one-reader-per-file model)."""
    return _load_files(spark, paths).select("path", "content").mapInPandas(
        functools.partial(decode_file_batches, decode=decode), schema
    )


# the binaryFile source's fixed schema (a file stream must declare it)
BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary"
)


def read_binary_stream(
    spark: SparkSession,
    in_dir: str,
    suffix: str,
    decode: Callable[[bytes], pd.DataFrame],
    schema: str,
) -> DataFrame:
    """``read_binary`` as a file stream: new ``*suffix`` files under
    ``in_dir`` (plus their compressed variants, which batch routing
    accepts too) decode incrementally.  The stream checkpoint tracks
    processed FILES, so a restart decodes only new arrivals —
    exactly-once file accounting for the reference's one-shot
    per-file readers."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(BINARYFILE_SCHEMA)
        .option(
            "pathGlobFilter",
            f"*{suffix}{{,{','.join(_COMPRESSION_EXTS)}}}",
        )
        .load(in_dir)
    )
    return files.select("path", "content").mapInPandas(
        functools.partial(decode_file_batches, decode=decode), schema
    )


def _split_lines(s: str) -> list[str]:
    """Lines of ``s`` split at ``\\r\\n``, ``\\r`` and ``\\n`` only — the
    terminators of the Spark text source (Hadoop LineReader) — with
    no trailing empty line.  ``str.splitlines`` also breaks at form
    feeds, RS/GS/FS, NEL and U+2028/9, which log lines may hold."""
    lines = s.replace("\r\n", "\n").replace("\r", "\n").split("\n")
    if not lines[-1]:
        lines.pop()
    return lines


def _text_rows(data: bytes, mtime) -> pd.DataFrame | None:
    """One text file's (decompressed) bytes → its lines in the row
    shape minus conv_id/tool; None when it has no lines."""
    enc = sniff_encoding(data[:64])
    # the explicit-endian codecs keep U+FEFF; drop the BOM bytes so
    # line 0 starts at the real text
    for bom, e in _BOM_ENCODINGS:
        if e == enc and data.startswith(bom):
            data = data[len(bom):]
            break
    lines = _split_lines(data.decode(enc, errors="replace"))
    if not lines:
        return None
    # bulk per-file frame: one list→Series for the lines, np.arange
    # turn numbering, scalar broadcast for the per-file constants —
    # Python touches each FILE, not each line
    return pd.DataFrame(
        {
            "turn_idx": np.arange(len(lines), dtype="int32"),
            "role": "log",
            "text": pd.Series(lines, dtype="object"),
            "ts": mtime,
            "sink": None,
        }
    )


def _binary_routes() -> dict:
    """filetype → (decode file bytes → records, records → row shape)."""
    from ..operators import asl, etl, evtx, fixedstruct, journal, odl

    return {
        "evtx": (evtx.decode_evtx_file, evtx.as_rows),
        "journal": (journal.decode_journal_file, journal.as_rows),
        "asl": (asl.decode_asl_file, asl.as_rows),
        "etl": (etl.decode_etl_file, etl.as_rows),
        "odl": (odl.decode_odl_file, odl.as_rows),
        "fixedstruct": (fixedstruct.decode_records, fixedstruct.as_rows),
    }


def _sources(path: str, mtime, content: bytes):
    """(source, name, mtime, raw bytes) of a file, or of each member of
    a tar archive: members become independent sources named
    'archive.tar!member' with their own mtimes, routed by the member
    name (process_path_tar parity, filepreprocessor.rs:1205-1260).
    Member bytes stay raw — a .log.gz member keeps its gzip framing."""
    if path_to_filetype(path) != "tar":
        yield path, path, mtime, content
        return
    with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tf:
        for m in tf.getmembers():
            if m.isfile():
                # pax headers can carry float mtimes — floor to µs
                yield (
                    f"{path}!{m.name}",
                    m.name,
                    pd.Timestamp(m.mtime, unit="s").floor("us"),
                    tf.extractfile(m).read(),
                )


def _decode_routed(
    batches: Iterator[pd.DataFrame], route: bool = True
) -> Iterator[pd.DataFrame]:
    """(path, modificationTime, content) batches → ROWS_SCHEMA frames.

    Each file (or tar member) picks its decoder by path_to_filetype;
    route=False reads everything as text.  Fault isolation is per
    source: an undecodable file or member, or an unreadable archive,
    warns and is skipped, and the rest of the batch still decodes."""
    routes = _binary_routes() if route else {}
    for pdf in batches:
        frames = []
        for path, mtime, content in zip(
            pdf["path"], pdf["modificationTime"], pdf["content"]
        ):
            try:
                # real filesystems carry ns mtimes; Spark timestamps
                # are µs and the ns→µs Arrow cast is "unsafe"
                members = _sources(
                    path, pd.Timestamp(mtime).floor("us"), bytes(content)
                )
                for src, name, mt, raw in members:
                    kind = path_to_filetype(name) if route else "text"
                    if kind == "tar":
                        continue  # nested archives are not walked
                    try:
                        data = _decompress(name, raw)
                        if kind == "text":
                            f = _text_rows(data, mt)
                        else:
                            decode, as_rows = routes[kind]
                            f = as_rows(decode(data))
                    except Exception as ex:  # noqa: BLE001
                        _warn_failed(src, ex)
                        continue
                    if f is not None:
                        f["conv_id"] = src
                        f["tool"] = "none"
                        frames.append(f)
            except Exception as ex:  # noqa: BLE001
                _warn_failed(path, ex)
        if frames:
            yield pd.concat(frames, ignore_index=True)[_ROW_COLS]


def _decode_assembled(
    batches: Iterator[pd.DataFrame], tz_offset_min: int = 0
) -> Iterator[pd.DataFrame]:
    """``_decode_routed``'s rows parsed, repaired and assembled per
    decoded batch (ASSEMBLED_SCHEMA).

    Text rows parse with their own source's mtime year as the anchor
    of no-year formats (syslogprocessor.rs:628-734); pre-stamped
    binary rows (sink renamed ``_stamp``) parse a null line.  One
    ``parse_assemble`` call per batch, outside the per-file fault
    isolation: its kernels have a fixed per-call cost and never
    raise.  A source is one binaryFile row (or a member of one), so
    every batch holds whole sources and no state carries over between
    batches."""
    for rows in _decode_routed(batches):
        rows = rows.rename(columns={"sink": "_stamp"})
        yield parse_assemble(
            rows, tz_offset_min, anchor_years=rows["ts"].dt.year
        )[_ASSEMBLED_COLS]


def _load_files(spark: SparkSession, paths) -> DataFrame:
    """One binaryFile scan of literal ``paths``, a whole file per row."""
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.format("binaryFile").load(
        [hadoop_glob_escape(p) for p in paths]
    )


def _routed_rows(
    spark: SparkSession, paths, decode, schema: str = ROWS_SCHEMA
) -> DataFrame:
    """One binaryFile scan of ``paths`` and one mapInPandas ``decode``."""
    return _load_files(spark, paths).select(
        "path", "modificationTime", "content"
    ).mapInPandas(decode, schema)


def _expand_paths(paths: list[str]) -> tuple[list[str], list[str]]:
    """Input paths/globs → (files, invalid inputs).  s4 recursively
    walks directory inputs (filepreprocessor.rs process_path) and
    warns about unprocessable paths, continuing
    (print_files_processpathresult)."""
    files: list[str] = []
    invalid: list[str] = []
    for p in paths:
        for g in _glob.glob(p) or [p]:
            if os.path.isdir(g):
                found = [
                    os.path.join(root, fn)
                    for root, _dirs, names in os.walk(g)
                    for fn in sorted(names)
                    if os.path.isfile(os.path.join(root, fn))
                ]
                files.extend(found)
                if not found:
                    invalid.append(g)
            elif os.path.isfile(g):
                files.append(g)
            else:
                invalid.append(g)
    return files, invalid


def assembled_from_paths(
    spark: SparkSession,
    paths: list[str] | str,
    tz_offset_min: int = 0,
    invalid_out: list | None = None,
) -> DataFrame:
    """`s4 <paths>` parity: every input file, whatever its kind, in
    one routed decode → the assembled schema; feeds dt_filter +
    merge_ordered unchanged.

    * One scan: a single binaryFile scan reads every expanded path.
    * One Python pass, no window exchange: a single mapInPandas routes
      each file — and each tar member, by its inner type — to its
      decoder by path_to_filetype (the reference's per-LogMessageType
      reader fan-in, s4.rs processing_loop), parses the batch's text
      lines with per-source mtime anchor years and the job's
      ``tz_offset_min``, then repairs and assembles each source in
      the same frame (``operators.assemble.parse_assemble``), as s4's
      reader thread per file does.  The binary readers' pre-stamped
      records keep their own ts, sink and turn as the message's.
      Every source is one whole binaryFile row, so it never spans two
      tasks and its rows need no conv_id exchange, sort or window.

    Trade-off: a file's lines parse in the task that decodes it, like
    s4's one reader thread per file, so one very large file parses on
    one core instead of being scattered across all of them.  Measured
    on one 108k-line file on 4 cores, per drained search: a parse
    scattered across the cores took wall 3.0 s and CPU 6.7 s, the
    per-file parse with the repair/assembly windows behind a conv_id
    exchange 3.4 s and 4.9 s.  With repair and assembly in the
    decoding task and a one-partition merge, on a 108k-line 7.9 MB
    file (medians of 2 runs × 5 ops, windowed form → this): wall
    3.2–3.8 → 2.4–2.6 s, process-tree CPU 4.7–5.1 → 3.3–3.7 s.
    Files too big for one task belong in the table path (a
    transcripts-shaped table through ``pipeline.assembled``).

    An all-invalid input set raises ValueError; invalid inputs are
    warned about and appended to ``invalid_out``."""
    if isinstance(paths, str):
        paths = [paths]
    files, invalid = _expand_paths(paths)
    for g in invalid:
        print(f"WARNING: not processed: {g!r}", file=sys.stderr)
    if invalid_out is not None:
        invalid_out.extend(invalid)
    if not files:
        raise ValueError(f"no readable inputs among {paths!r}")
    return _routed_rows(
        spark, files,
        functools.partial(_decode_assembled, tz_offset_min=tz_offset_min),
        ASSEMBLED_SCHEMA,
    )
