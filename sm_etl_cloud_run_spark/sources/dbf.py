"""DBC/DBF decoding (SURVEY §2.1 S1) — dependency-free.

The reference FTP-downloads DATASUS `.dbc` files, decompresses to `.dbf`
(`dbc2dbf`) and iterates records in chunks
(utilitarios/datasus_ftp.py:142-255), reading date fields as raw strings
(:41-46) and every value as text.

Both decode stages are implemented here from the public formats, no
external libraries: PKWARE-DCL decompression in `sources/dbc.py`, and a
dBase III/IV record reader below (fixed-width fields described by
32-byte descriptors; values returned as stripped latin-1 strings, dates
kept raw — parity with the reference's string-typed extraction). The
one distributed scan that calls them, one task per file with
all-string record batches, is `sources/datasus_ftp.read_datasus_ftp`.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from .dbc import CorruptDbcError, dbc_to_dbf


def dbf_field_descriptors(content: bytes) -> list[tuple[str, str, int]]:
    """Parse the 32-byte field descriptors: (name, type, length) each."""
    (hsize,) = struct.unpack_from("<H", content, 8)
    fields: list[tuple[str, str, int]] = []
    off = 32
    while off + 32 <= hsize and content[off] != 0x0D:
        raw_name = content[off:off + 11].split(b"\x00", 1)[0]
        ftype = chr(content[off + 11])
        flen = content[off + 16]
        fields.append((raw_name.decode("ascii", "replace"), ftype, flen))
        off += 32
    return fields


def parse_dbf_bytes(content: bytes) -> Iterator[dict]:
    """Iterate a `.dbf` payload as dicts of stripped latin-1 strings.

    All-string semantics mirror the reference (dates as raw 'YYYYMMDD'
    text, numerics as text — typing happens later in the plan). Deleted
    records (0x2A flag) are skipped; empty values become None.
    """
    nrec, hsize, rsize = struct.unpack_from("<IHH", content, 4)
    fields = dbf_field_descriptors(content)
    off = hsize
    for _ in range(nrec):
        if off + rsize > len(content):
            break  # truncated tail — yield what we have
        record = content[off:off + rsize]
        off += rsize
        if record[0] == 0x2A:  # deleted
            continue
        row: dict = {}
        pos = 1
        for name, _ftype, flen in fields:
            val = record[pos:pos + flen].decode("latin-1", "replace").strip()
            row[name] = val if val else None
            pos += flen
        yield row


def decode_datasus_bytes(content: bytes) -> Iterator[dict]:
    """Default decoder: `.dbf` bytes, or `.dbc` (auto-detected and exploded).

    A `.dbc` carries the same pre-header as the `.dbf` it compresses, so
    extension is not needed. Exact-length payloads (declared records +
    at most the optional 0x1A EOF byte) are plain DBF. Otherwise the
    PKWARE-DCL stream signature decides: a `.dbc` puts a 4-byte CRC at
    hsize, then the DCL 2-byte mode header (literal-mode byte 0/1,
    dict-size byte 4..6) at hsize+4 — whereas a plain DBF has a record
    deletion flag (0x20/0x2A) at hsize. A tiny or incompressible `.dbc`
    can be LONGER than the declared record section (DCL can expand, plus
    the CRC), so payload length alone cannot distinguish the two — the
    round-2 length-only test misrouted exactly those files
    (ADVICE r2, sources/dbf.py:90). Reference behavior:
    sm_cloud_run/utilitarios/datasus_ftp.py:142-255 (dbc2dbf always
    decompresses a real .dbc).
    """
    if len(content) < 12:
        raise ValueError("payload too short for a DBF header")
    nrec, hsize, rsize = struct.unpack_from("<IHH", content, 4)
    expected = hsize + nrec * rsize
    if expected <= len(content) <= expected + 1:
        return parse_dbf_bytes(content)  # exact length (+ optional EOF marker)
    dcl = content[hsize + 4 : hsize + 6]
    has_dcl = len(dcl) == 2 and dcl[0] in (0, 1) and 4 <= dcl[1] <= 6
    if len(content) < expected:
        if has_dcl:
            return parse_dbf_bytes(dbc_to_dbf(content))
        raise CorruptDbcError(
            f"payload is shorter than the declared record section "
            f"({len(content)} < {expected}) but has no PKWARE-DCL stream at "
            f"offset {hsize + 4} — truncated .dbf or corrupt .dbc"
        )
    # Longer than declared records by >1 byte: compressed-but-expanded
    # .dbc, or plain DBF with trailing padding. Prefer decompression when
    # the DCL signature is present AND the first record byte is not a
    # valid deletion flag; fall back to plain-with-padding otherwise.
    if has_dcl and content[hsize] not in (0x20, 0x2A):
        return parse_dbf_bytes(dbc_to_dbf(content))
    return parse_dbf_bytes(content)

