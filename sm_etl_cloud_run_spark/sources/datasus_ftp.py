"""DATASUS FTP transport (SURVEY §2.1 S1/S2) — transport-injectable.

The reference connects to the public DATASUS FTP with `ftplib`, lists a
directory, matches a file name or regex, prefers partitioned shards
(`BASE_1.dbc …`) over the unpartitioned monolith, downloads each match,
decompresses `.dbc` → `.dbf`, and iterates records in chunks
(utilitarios/datasus_ftp.py:77-139 listing/preference, :142-255
download/decode loop; corruption size-check at :50-75).

Spark-native shape: the LIST/match step is driver-side (tiny), but the
heavy part — download + decompress + record parse — runs on EXECUTORS:
the matched names become a one-file-per-task DataFrame and each task
opens its own FTP session, streams the payload, and parses it with the
pure-Python decoder from `sources/dbf.py`. On a 1000-executor cluster
this gives 1000 concurrent downloads with zero driver memory, where the
reference loops file-by-file on one node.

No HTTP/FTP library is baked into the logic: callers inject a
`transport_factory() -> session` whose session exposes the `ftplib.FTP`
subset (`cwd`, `nlst`, `retrlines`, `retrbinary`, `size`, `close`).
Production uses the standard-library `ftplib.FTP` (public API);
tests inject an offline fake with canned LIST/RETR fixtures.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .dbf import decode_datasus_bytes
from .ftp_list import prefer_partitioned

TransportFactory = Callable[[], object]


def _ftplib_factory(host: str) -> Callable[[], object]:
    """Default transport: anonymous-login `ftplib.FTP` session."""

    def connect() -> object:
        from ftplib import FTP  # noqa: PLC0415 — import at call site so tests never need a socket

        session = FTP(host)
        session.login()
        return session

    return connect


class CorruptDownloadError(RuntimeError):
    """Downloaded byte count disagrees with the server-declared size."""


class DatasusFtpClient:
    """Stateless façade over one FTP host; each call opens a session.

    Mirrors the reference client's surface: `list_files` (nlst + name or
    regex match + partitioned-shard preference, utilitarios/
    datasus_ftp.py:77-139), `list_metadata_lines` (raw LIST lines, the
    input of the S3 metadata scan), and `download` (RETR with the
    size-integrity check of :50-75 — the reference computes it, we
    enforce it).
    """

    def __init__(self, host: str, *, transport_factory: TransportFactory | None = None):
        self.host = host
        self._factory = transport_factory or _ftplib_factory(host)

    # -- session plumbing ---------------------------------------------------

    def _session(self):
        return self._factory()

    @staticmethod
    def _cwd(session, directory: str) -> None:
        if not directory.startswith("/"):
            directory = "/" + directory
        session.cwd(directory)

    # -- public surface -----------------------------------------------------

    def list_files(self, directory: str, name_or_pattern: str | re.Pattern) -> list[str]:
        """Names in `directory` matching an exact name or regex, with
        partitioned shards preferred over the monolith when both exist."""
        session = self._session()
        try:
            self._cwd(session, directory)
            names = list(session.nlst())
        finally:
            session.close()
        if isinstance(name_or_pattern, re.Pattern):
            matched = [n for n in names if name_or_pattern.match(n)]
        else:
            matched = [n for n in names if n == name_or_pattern]
        matched = prefer_partitioned(matched, re.compile(".*"))
        if not matched:
            raise FileNotFoundError(
                f"no file matching {name_or_pattern!r} in ftp://{self.host}{directory}"
            )
        return matched

    def list_metadata_lines(self, directory: str) -> list[str]:
        """Raw `LIST` response lines (mod-date, hour, size, name)."""
        lines: list[str] = []
        session = self._session()
        try:
            self._cwd(session, directory)
            session.retrlines("LIST", lines.append)
        finally:
            session.close()
        return lines

    def download(self, directory: str, name: str, *, verify_size: bool = True) -> bytes:
        """RETR one file fully into memory, checking declared size."""
        chunks: list[bytes] = []
        session = self._session()
        try:
            self._cwd(session, directory)
            declared: int | None = None
            if verify_size:
                try:
                    declared = session.size(name)
                except Exception:  # noqa: BLE001 — SIZE is an optional FTP extension
                    declared = None
            session.retrbinary(f"RETR {name}", chunks.append)
        finally:
            session.close()
        content = b"".join(chunks)
        if verify_size and declared is not None and declared != len(content):
            raise CorruptDownloadError(
                f"{name}: server declared {declared} bytes, received {len(content)}"
            )
        return content

    def fetch(
        self, directory: str, name_or_pattern: str | re.Pattern
    ) -> Iterator[tuple[str, bytes]]:
        """list_files + download, driver-side (small-file convenience)."""
        for name in self.list_files(directory, name_or_pattern):
            yield name, self.download(directory, name)


def read_datasus_ftp(
    spark: SparkSession,
    host: str,
    directory: str,
    name_or_pattern: str | re.Pattern,
    columns: list[str],
    *,
    transport_factory: TransportFactory | None = None,
    decoder: Callable[[bytes], Iterator[dict]] | None = None,
    batch_rows: int = 50_000,
) -> DataFrame:
    """S1 end-to-end: list on the driver, download+decode on executors.

    One task per matched file; each task opens its own FTP session (the
    factory is shipped to executors, so it must be picklable — the
    default ftplib factory and any module-level fake both are). Output
    is the all-string record schema, identical to `read_dbf_files`.
    """
    client = DatasusFtpClient(host, transport_factory=transport_factory)
    names = client.list_files(directory, name_or_pattern)
    decode = decoder or decode_datasus_bytes
    factory = transport_factory
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
    # task i fetches names[i]: a range with one partition per file needs
    # no shuffle to spread the files over tasks
    files = spark.range(0, len(names), 1, len(names))

    def fetch_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        task_client = DatasusFtpClient(host, transport_factory=factory)
        for pdf in batches:
            for i in pdf["id"]:
                content = task_client.download(directory, names[i])
                rows: list[dict] = []
                for rec in decode(content):
                    rows.append(
                        {c: (None if rec.get(c) is None else str(rec.get(c))) for c in columns}
                    )
                    if len(rows) >= batch_rows:
                        yield pd.DataFrame(rows, columns=columns, dtype="object")
                        rows = []
                if rows:
                    yield pd.DataFrame(rows, columns=columns, dtype="object")

    return files.mapInPandas(fetch_parse, schema)
