"""Offline tests for the DATASUS FTP transport client (S1/S2/S3).

A canned fake implements the `ftplib.FTP` subset the client uses, so
the whole list → prefer-partitioned → download → `.dbc` decode path
runs end-to-end with zero sockets (reference behavior:
utilitarios/datasus_ftp.py:77-139 listing, :142-255 download/decode).
"""

from __future__ import annotations

import re
import sys

import pytest
from dbc_fixtures import make_dbc, make_dbf
from pyspark import cloudpickle

# The fake transport class lives in this test module, which executor
# Python workers cannot import — ship it by value instead.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from sm_etl_cloud_run_spark.sources.datasus_ftp import (
    CorruptDownloadError,
    DatasusFtpClient,
    read_datasus_ftp,
)
from sm_etl_cloud_run_spark.sources.ftp_list import parse_list_lines

_FIELDS = [("PA_CODUNI", "C", 7), ("PA_QTDAPR", "N", 6)]


class FakeFtpSession:
    """ftplib.FTP subset backed by a dict of {dir: {name: bytes}}."""

    def __init__(self, tree: dict, *, lie_about_size: bool = False):
        self._tree = tree
        self._cwd: str | None = None
        self._lie = lie_about_size
        self.closed = False

    def cwd(self, path: str) -> None:
        if path not in self._tree:
            raise OSError(f"550 {path}: no such directory")
        self._cwd = path

    def nlst(self) -> list[str]:
        return sorted(self._tree[self._cwd])

    def retrlines(self, cmd: str, callback) -> None:
        assert cmd == "LIST"
        for name, content in sorted(self._tree[self._cwd].items()):
            callback(f"09-03-24  03:45PM      {len(content)} {name}")

    def size(self, name: str) -> int:
        n = len(self._tree[self._cwd][name])
        return n + 7 if self._lie else n

    def retrbinary(self, cmd: str, callback) -> None:
        assert cmd.startswith("RETR ")
        content = self._tree[self._cwd][cmd[5:]]
        for i in range(0, len(content), 64):  # stream in chunks like a socket
            callback(content[i : i + 64])

    def close(self) -> None:
        self.closed = True


def _tree() -> dict:
    rows_1 = [["2077485", "12"], ["1234567", "3"]]
    rows_2 = [["7654321", "8"]]
    monolith = [["9999999", "1"]]
    return {
        "/dissemin/publicos/SIASUS/200801_/Dados": {
            "PASP2408_1.dbc": make_dbc(make_dbf(_FIELDS, rows_1)),
            "PASP2408_2.dbc": make_dbc(make_dbf(_FIELDS, rows_2)),
            "PASP2408.dbc": make_dbc(make_dbf(_FIELDS, monolith)),
            "PAAC2408.dbc": make_dbc(make_dbf(_FIELDS, rows_2)),
            "README.txt": b"not a dbc",
        }
    }


_DIR = "/dissemin/publicos/SIASUS/200801_/Dados"


def _client(tree=None, **kw) -> DatasusFtpClient:
    tree = tree or _tree()
    return DatasusFtpClient("ftp.datasus.gov.br", transport_factory=lambda: FakeFtpSession(tree, **kw))


def test_list_files_exact_name():
    assert _client().list_files(_DIR, "PAAC2408.dbc") == ["PAAC2408.dbc"]


def test_list_files_regex_prefers_partitioned_shards():
    got = _client().list_files(_DIR, re.compile(r"PASP2408.*\.dbc"))
    assert got == ["PASP2408_1.dbc", "PASP2408_2.dbc"]  # monolith superseded


def test_list_files_no_match_raises():
    with pytest.raises(FileNotFoundError):
        _client().list_files(_DIR, "PAXX0000.dbc")


def test_download_roundtrip_and_size_check():
    tree = _tree()
    content = _client(tree).download(_DIR, "README.txt")
    assert content == b"not a dbc"
    with pytest.raises(CorruptDownloadError):
        _client(tree, lie_about_size=True).download(_DIR, "README.txt")
    # size check off, or server without SIZE: both succeed
    assert _client(tree, lie_about_size=True).download(_DIR, "README.txt", verify_size=False) == b"not a dbc"


def test_fetch_decodes_dbc_driver_side():
    got = dict(_client().fetch(_DIR, "PAAC2408.dbc"))
    assert list(got) == ["PAAC2408.dbc"]
    assert got["PAAC2408.dbc"][:1] == b"\x03"  # dbf version byte survives in dbc pre-header


def test_list_metadata_lines_parse():
    rows = {r["nome"]: r for r in parse_list_lines(_client().list_metadata_lines(_DIR), ("PASP",))}
    assert set(rows) == {"PASP2408.dbc", "PASP2408_1.dbc", "PASP2408_2.dbc"}
    r = rows["PASP2408_1.dbc"]
    assert r["tamanho"] > 0 and r["timestamp_modificacao_ftp"] is not None


def test_read_datasus_ftp_end_to_end(spark):
    tree = _tree()  # built eagerly: the executor-shipped closure must not call fixture code
    df = read_datasus_ftp(
        spark,
        "ftp.datasus.gov.br",
        _DIR,
        re.compile(r"PASP2408.*\.dbc"),
        ["PA_CODUNI", "PA_QTDAPR"],
        transport_factory=lambda: FakeFtpSession(tree),
    )
    got = sorted((r["PA_CODUNI"], r["PA_QTDAPR"]) for r in df.collect())
    # shards only — the monolith row 9999999 must NOT appear
    assert got == [("1234567", "3"), ("2077485", "12"), ("7654321", "8")]
    # one task per file with no shuffle to spread the files
    assert df.rdd.getNumPartitions() == 2
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


def test_read_datasus_ftp_plain_dbf_payload(spark):
    tree = {_DIR: {"PAXX2408.dbf": make_dbf(_FIELDS, [["1111111", "5"]])}}
    df = read_datasus_ftp(
        spark,
        "ftp.datasus.gov.br",
        _DIR,
        "PAXX2408.dbf",
        ["PA_CODUNI", "PA_QTDAPR"],
        transport_factory=lambda: FakeFtpSession(tree),
    )
    assert [tuple(r) for r in df.collect()] == [("1111111", "5")]
