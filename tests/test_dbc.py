"""DATASUS `.dbc`/`.dbf` ingestion tests.

The encoder in `dbc_fixtures` is the exact inverse of the decoder's
canonical Huffman tables (built from the same compact length lists), so
these roundtrips exercise the real bit-level format: LSB-first stream,
inverted code bits, raw extra bits, LZ77 overlapping copies.
"""

from __future__ import annotations

import struct

import pytest
from dbc_fixtures import Imploder, implode, make_dbc, make_dbf
from test_datasus_ftp import FakeFtpSession

from sm_etl_cloud_run_spark.sources import dbc
from sm_etl_cloud_run_spark.sources.datasus_ftp import read_datasus_ftp
from sm_etl_cloud_run_spark.sources.dbf import decode_datasus_bytes, parse_dbf_bytes

_FIELDS = [("PA_CODUNI", "C", 7), ("PA_QTDAPR", "N", 6), ("PA_MVM", "D", 8)]
_ROWS = [
    ["2077485", "12", "20240801"],
    ["00\xe7001", "", "20240802"],  # latin-1 ç survives; empty numeric → None
]


# ---------------------------------------------------------------------------
# explode: bit-level format
# ---------------------------------------------------------------------------


def test_explode_uncoded_literals_roundtrip():
    data = bytes(range(256)) * 3
    assert dbc.explode(implode(data)) == data


def test_explode_coded_literals_roundtrip():
    data = b"SIASUS PA do DATASUS em texto plano, acentua\xe7\xe3o."
    assert dbc.explode(implode(data, coded_literals=True)) == data


def test_explode_overlapping_copy():
    enc = Imploder()
    for b in b"AB":
        enc.literal(b)
    enc.match(6, 2)  # overlapping: replicates "AB" forward
    assert dbc.explode(enc.end()) == b"ABABABAB"


def test_explode_long_match_and_big_dict():
    prefix = bytes(range(64))
    enc = Imploder(dict_bits=6)
    for b in prefix:
        enc.literal(b)
    enc.match(300, 64)  # length needs extra bits; dist uses 6-bit low part
    out = dbc.explode(enc.end())
    assert out[:64] == prefix
    assert out[64:] == (prefix * 5)[:300]


def test_explode_rejects_bad_header():
    with pytest.raises(dbc.CorruptDbcError):
        dbc.explode(b"\x02\x04\x00")
    with pytest.raises(dbc.CorruptDbcError):
        dbc.explode(b"\x00\x09\x00")


def test_explode_rejects_distance_before_start():
    enc = Imploder()
    enc.literal(ord("A"))
    enc.match(3, 2)  # only 1 byte of history
    with pytest.raises(dbc.CorruptDbcError):
        dbc.explode(enc.end())


# ---------------------------------------------------------------------------
# DBF parse + .dbc assembly
# ---------------------------------------------------------------------------


def test_parse_dbf_bytes_all_string():
    recs = list(parse_dbf_bytes(make_dbf(_FIELDS, _ROWS)))
    assert recs == [
        {"PA_CODUNI": "2077485", "PA_QTDAPR": "12", "PA_MVM": "20240801"},
        {"PA_CODUNI": "00\xe7001", "PA_QTDAPR": None, "PA_MVM": "20240802"},
    ]


def test_parse_dbf_skips_deleted_records():
    dbf = bytearray(make_dbf(_FIELDS, _ROWS))
    (hsize,) = struct.unpack_from("<H", dbf, 8)
    dbf[hsize] = 0x2A  # delete first record
    recs = list(parse_dbf_bytes(bytes(dbf)))
    assert len(recs) == 1 and recs[0]["PA_CODUNI"] == "00\xe7001"


def test_dbc_to_dbf_roundtrip():
    dbf = make_dbf(_FIELDS, _ROWS)
    rebuilt = dbc.dbc_to_dbf(make_dbc(dbf))
    # header + records identical; trailing 0x1A EOF included in compressed body
    assert rebuilt == dbf


def test_decode_datasus_autodetects_dbf_vs_dbc():
    dbf = make_dbf(_FIELDS, _ROWS)
    assert list(decode_datasus_bytes(dbf)) == list(decode_datasus_bytes(make_dbc(dbf)))


def test_read_dbf_files_end_to_end_dbc(spark):
    """The executor-side scan decodes a `.dbc` and a plain `.dbf`
    payload fetched over a fake FTP session into the same rows."""
    dbf = make_dbf(_FIELDS, _ROWS)
    tree = {"/d": {"PASP2408.dbc": make_dbc(dbf), "PASP2409.dbf": dbf}}
    df = read_datasus_ftp(
        spark, "ftp.fake", "/d", ["PASP2408.dbc", "PASP2409.dbf"],
        ["PA_CODUNI", "PA_QTDAPR", "PA_MVM"],
        transport_factory=lambda: FakeFtpSession(tree),
    )
    rows = sorted(
        (r["PA_CODUNI"], r["PA_QTDAPR"], r["PA_MVM"]) for r in df.collect()
    )
    assert rows == sorted(
        [("2077485", "12", "20240801"), ("00\xe7001", None, "20240802")] * 2
    )
    assert all(f.dataType.simpleString() == "string" for f in df.schema.fields)


def test_decode_plain_dbf_with_trailing_padding():
    """A valid plain .dbf with benign trailing bytes must not be routed
    into the PKWARE decompressor (ADVICE r1: length-exactness was too
    strict)."""
    dbf = make_dbf(_FIELDS, _ROWS)
    padded = dbf + b"\x00" * 7
    assert list(decode_datasus_bytes(padded)) == list(decode_datasus_bytes(dbf))


def test_decode_truncated_dbf_raises_clear_error():
    """Shorter-than-declared payload without a DCL stream at hsize+4 is a
    truncation, not a .dbc — want a CorruptDbcError, not a decompressor
    failure deep in explode()."""
    import pytest

    from sm_etl_cloud_run_spark.sources.dbc import CorruptDbcError

    dbf = make_dbf(_FIELDS, _ROWS)
    truncated = dbf[:-10]
    with pytest.raises(CorruptDbcError, match="truncated"):
        list(decode_datasus_bytes(truncated))
