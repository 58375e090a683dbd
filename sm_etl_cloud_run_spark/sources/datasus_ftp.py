"""DATASUS FTP transport (SURVEY §2.1 S1) — transport-injectable.

The reference connects to the public DATASUS FTP with `ftplib`, lists a
directory, matches a file name or regex, downloads each match,
decompresses `.dbc` → `.dbf`, and iterates records in chunks
(utilitarios/datasus_ftp.py:77-139 listing, :142-255 download/decode
loop; corruption size-check at :50-75).

Here the listing is EP3's alone: `list_metadata_lines` feeds the
ledger, whose rows name exact, validated files. EP1 fetches exactly
those names, so there is no second name or pattern match. The heavy
part — download + decompress + record parse — runs on EXECUTORS: the
names become a one-file-per-task DataFrame and each task opens its own
FTP session, streams the payload, and parses it with the pure-Python
decoder from `sources/dbf.py`. On a 1000-executor cluster this gives
1000 concurrent downloads with zero driver memory, where the reference
loops file-by-file on one node.

No HTTP/FTP library is baked into the logic: callers inject a
`transport_factory() -> session` whose session exposes the `ftplib.FTP`
subset (`cwd`, `retrlines`, `retrbinary`, `size`, `close`).
Production uses the standard-library `ftplib.FTP` (public API);
tests inject an offline fake with canned LIST/RETR fixtures.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .dbf import decode_datasus_bytes

TransportFactory = Callable[[], object]

# rows per pandas batch a decode task yields — the Spark analog of the
# reference's `passo` chunking, per task instead of global
BATCH_ROWS = 50_000


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

    `list_metadata_lines` returns the raw LIST lines EP3 parses, and
    `download` is RETR with the size-integrity check of the reference
    (utilitarios/datasus_ftp.py:50-75 computes it, we enforce it).
    """

    def __init__(self, host: str, *, transport_factory: TransportFactory | None = None):
        self._factory = transport_factory or _ftplib_factory(host)

    @contextmanager
    def _session(self, directory: str):
        session = self._factory()
        try:
            session.cwd(directory if directory.startswith("/") else "/" + directory)
            yield session
        finally:
            session.close()

    def list_metadata_lines(self, directory: str) -> list[str]:
        """Raw `LIST` response lines (mod-date, hour, size, name)."""
        lines: list[str] = []
        with self._session(directory) as session:
            session.retrlines("LIST", lines.append)
        return lines

    def download(self, directory: str, name: str) -> bytes:
        """RETR one file fully into memory, checking its declared size
        when the server answers SIZE."""
        chunks: list[bytes] = []
        with self._session(directory) as session:
            try:
                declared = session.size(name)
            except Exception:  # noqa: BLE001 — SIZE is an optional FTP extension
                declared = None
            session.retrbinary(f"RETR {name}", chunks.append)
        content = b"".join(chunks)
        if declared is not None and declared != len(content):
            raise CorruptDownloadError(
                f"{name}: server declared {declared} bytes, received {len(content)}"
            )
        return content


def read_datasus_ftp(
    spark: SparkSession,
    host: str,
    directory: str,
    names: list[str],
    columns: list[str],
    *,
    transport_factory: TransportFactory | None = None,
) -> DataFrame:
    """S1: download + decode the exact files `names` on executors.

    Task i fetches `names[i]` in its own FTP session (the factory is
    shipped to executors, so it must be picklable — the default ftplib
    factory and any module-level fake both are); a name missing from
    the server fails its task. Output is the all-string record schema
    plus `ftp_arquivo_nome`, which task i fills with `names[i]`.
    """
    out_columns = [*columns, "ftp_arquivo_nome"]
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in out_columns])
    # task i fetches names[i]: a range with one partition per file needs
    # no shuffle to spread the files over tasks
    files = spark.range(0, len(names), 1, len(names))

    def frame(rows: list[dict], name: str) -> pd.DataFrame:
        return pd.DataFrame(rows, columns=columns, dtype="object").assign(ftp_arquivo_nome=name)

    def fetch_parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = DatasusFtpClient(host, transport_factory=transport_factory)
        for pdf in batches:
            for i in pdf["id"]:
                rows: list[dict] = []
                for rec in decode_datasus_bytes(client.download(directory, names[i])):
                    rows.append(
                        {c: (None if rec.get(c) is None else str(rec.get(c))) for c in columns}
                    )
                    if len(rows) >= BATCH_ROWS:
                        yield frame(rows, names[i])
                        rows = []
                if rows:
                    yield frame(rows, names[i])

    return files.mapInPandas(fetch_parse, schema)
