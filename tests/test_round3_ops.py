"""Round-3 additions: simhash single-shuffle plan, fixedstruct decode,
BOM-less encodings, bz2/xz codecs, checkpoint n_buckets guard."""

import contextlib
import io
import re

import pandas as pd
import pytest



def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en"),
            (2, "quick brown the jumps fox", "en"),
            (3, "completely different text here now", "en"),
        ],
        "doc_id long, text string, lang string",
    )


def test_simhash_single_explode_no_nibble_inflation(spark):
    """Round-2 verdict: simhash must shuffle each (doc, token) row
    once — 64 conditional bit-sums in ONE groupBy, not a 16× nibble
    explode.  Plan: exactly one Generate (the token explode) and one
    hash-aggregate pair."""
    from super_speedy_syslog_searcher_spark.operators import dedup

    df = dedup.simhash(_docs(spark))
    plan = _plan(df)
    gen_ids = set(re.findall(r"\((\d+)\) Generate", plan))
    assert len(gen_ids) == 1, f"expected 1 explode, plan:\n{plan}"
    # output still correct: identical bag-of-words → identical hash
    vals = {r["doc_id"]: r["simhash_hex"] for r in df.collect()}
    assert vals[1] == vals[2] != vals[3]
    assert len(vals[1]) == 16


def test_fixedstruct_roundtrip_unit():
    from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
        UTMPX_DTYPE,
        decode_records,
        encode_records,
    )

    assert UTMPX_DTYPE.itemsize == 384  # glibc x86_64 struct utmp
    rows = [
        {
            "ut_type": 7, "ut_pid": 1234, "ut_line": "pts/3",
            "ut_id": "ts/3", "ut_user": "alice", "ut_host": "host-9",
            "tv_sec": 1704112402, "tv_usec": 16549,
        },
        {
            # tv_sec must be a sane wall-clock: round-4 validation
            # drops zero-timestamp records (the reference reports the
            # all-0x00 fixture as having no valid records)
            "ut_type": 8, "ut_pid": 99, "ut_line": "tty1",
            "ut_user": "bob", "ut_host": "",
            "tv_sec": 1704112500, "tv_usec": 0,
        },
    ]
    blob = encode_records(rows)
    assert len(blob) == 2 * 384
    got = decode_records(blob)
    assert list(got["ut_pid"]) == [1234, 99]
    assert list(got["ut_user"]) == ["alice", "bob"]
    assert got["ts"][0] == pd.Timestamp("2024-01-01 12:33:22.016549")
    # trailing partial record is dropped, like the entry-sized reader
    got2 = decode_records(blob + b"\x01\x02")
    assert len(got2) == 2


def test_fixedstruct_spark_read(spark, tmp_path):
    from super_speedy_syslog_searcher_spark.operators.fixedstruct import (
        encode_records,
        read_fixedstruct,
    )

    p = tmp_path / "wtmp"
    p.write_bytes(
        encode_records(
            [
                {"ut_type": 7, "ut_pid": 1, "ut_user": "u1",
                 "ut_line": "pts/0", "ut_host": "h",
                 "tv_sec": 1704112400, "tv_usec": 5},
                {"ut_type": 8, "ut_pid": 2, "ut_user": "u2",
                 "ut_line": "pts/1", "ut_host": "h",
                 "tv_sec": 1704112401, "tv_usec": 6},
            ]
        )
    )
    out = read_fixedstruct(spark, str(p)).orderBy("rec_idx").collect()
    assert [r["ut_pid"] for r in out] == [1, 2]
    assert [r["rec_idx"] for r in out] == [0, 1]
    assert out[0]["ut_user"] == "u1"
    assert str(out[1]["ts"]) == "2024-01-01 12:33:21.000006"


def test_sniff_encoding_bomless():
    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        sniff_encoding,
    )

    line = "2024-01-05T03:04:05 hello"
    assert sniff_encoding(line.encode("utf-16-le")) == "utf-16-le"
    assert sniff_encoding(line.encode("utf-16-be")) == "utf-16-be"
    assert sniff_encoding(line.encode("utf-32-le")) == "utf-32-le"
    assert sniff_encoding(line.encode("utf-32-be")) == "utf-32-be"
    assert sniff_encoding(line.encode("utf-8")) == "utf-8"
    assert sniff_encoding(b"\x00\x01\x02\x03\xff" * 4) == "utf-8"  # junk


def test_bomless_utf16_and_bz2_xz_sources(spark, tmp_path):
    import bz2
    import lzma

    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        read_log_files_decoded,
    )

    text = "2024-01-05T03:04:05 one\n  continuation two\n"
    p16 = tmp_path / "a_utf16.log"
    p16.write_bytes(text.encode("utf-16-le"))  # NO BOM
    pbz = tmp_path / "b.log.bz2"
    pbz.write_bytes(bz2.compress(text.encode("utf-8")))
    pxz = tmp_path / "c.log.xz"
    pxz.write_bytes(lzma.compress(text.encode("utf-8")))

    df = read_log_files_decoded(spark, [str(p16), str(pbz), str(pxz)])
    rows = df.collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["conv_id"].rsplit("/", 1)[-1], []).append(
            (r["turn_idx"], r["text"])
        )
    for fname in ("a_utf16.log", "b.log.bz2", "c.log.xz"):
        got = [t for _, t in sorted(by_file[fname])]
        assert got == ["2024-01-05T03:04:05 one", "  continuation two"], fname


def test_checkpoint_n_buckets_mismatch_fails(spark, tmp_path):
    """ADVICE r2: resuming with a different n_buckets must fail, not
    silently reuse conv-incompatible bucket manifests."""
    from super_speedy_syslog_searcher_spark import checkpoint as cp
    from super_speedy_syslog_searcher_spark.datagen import transcripts_df
    from super_speedy_syslog_searcher_spark import session

    session.prep(spark)
    t = transcripts_df(spark, "/root/testdata/sf0.001")
    out = str(tmp_path / "ckout")
    cp.run_partitioned(t, out, n_buckets=4, max_partitions=1)
    with pytest.raises(ValueError, match="n_buckets"):
        cp.run_partitioned(t, out, n_buckets=8)
    # same n_buckets resumes fine
    more = cp.run_partitioned(t, out, n_buckets=4, max_partitions=1)
    assert len(more) == 1


def test_tar_member_sources(spark, tmp_path):
    """.tar members are enumerated as independent sources
    ('archive.tar!member' — process_path_tar parity,
    filepreprocessor.rs:1205), including nested .gz members, each with
    the member's own mtime."""
    import gzip
    import io
    import tarfile

    from super_speedy_syslog_searcher_spark.sources.logfiles import (
        read_log_files_decoded,
    )

    t = tmp_path / "logs.tar"
    members = [
        ("a.log", b"2024-01-05T03:04:05 one\n  cont\n"),
        ("sub/b.log.gz", gzip.compress(b"1704112402.123456 strace\n")),
    ]
    with tarfile.open(t, "w") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 1704112400
            tf.addfile(info, io.BytesIO(data))

    rows = read_log_files_decoded(spark, str(t)).collect()
    by_src = {}
    for r in rows:
        key = r["conv_id"].split("/")[-1] if "!" not in r["conv_id"] else (
            r["conv_id"].rsplit("!", 1)[-1]
        )
        by_src.setdefault(key, []).append((r["turn_idx"], r["text"]))
    assert sorted(by_src) == ["a.log", "sub/b.log.gz"]
    assert [t for _, t in sorted(by_src["a.log"])] == [
        "2024-01-05T03:04:05 one", "  cont",
    ]
    assert by_src["sub/b.log.gz"] == [(0, "1704112402.123456 strace")]
    assert all("logs.tar!" in r["conv_id"] for r in rows)
    assert all(str(r["ts"]).startswith("2024-01-01") for r in rows)
