"""FTP LIST metadata scan (SURVEY §2.1 S2/S3).

The reference parses `LIST` response lines with a regex into
(mod-date, hour, size, name) (etl/datasus_ftp_metadados.py:93-126) and
prefers partitioned shards (`X_1.dbc … X_N.dbc`) over the unpartitioned
monolith when both exist (utilitarios/datasus_ftp.py:117-126).

Listing and parsing are driver-side: a LIST response has one line per
file, ~10⁴ at DATASUS scale, so :func:`parse_list_lines` is the one
parser, in plain Python. :func:`parse_ftp_list_lines` wraps its rows in
a DataFrame for the Spark pipelines.
"""

from __future__ import annotations

import datetime as dt
import re

from pyspark.sql import DataFrame, SparkSession

# `09-03-24  03:45PM       123456 PASP2408.dbc`. ASCII, as `\d` and
# `\s` are in Java's and DuckDB's regex engines (the S3 query's oracle):
# a line with non-ASCII digits is not a file entry.
_LIST_RE = re.compile(
    r"^(\d{2}-\d{2}-\d{2})\s+(\d{2}:\d{2}[APM]{2})\s+(\d+)\s+(.+)$", re.ASCII
)
_LONG_MAX = 2**63 - 1


def _list_timestamp(date: str, hour: str) -> dt.datetime | None:
    """`MM-dd-yy hh:mma` as UTC, or None for an invalid date or hour.
    `yy` is 20yy, as Spark's `yy` parses it: Python's `%y` would put
    69-99 in the 1900s."""
    try:
        parsed = dt.datetime.strptime(f"{date[:6]}20{date[6:]} {hour}", "%m-%d-%Y %I:%M%p")
    except ValueError:
        return None
    return parsed.replace(tzinfo=dt.timezone.utc)


def parse_list_lines(lines: list[str], prefixes: tuple[str, ...] = ()) -> list[dict]:
    """LIST lines → rows {nome, tamanho, timestamp_modificacao_ftp}.

    Lines that are not file entries (`total 4 files`, garbage) are
    dropped; with `prefixes`, so are names that start with none of
    them. An unparseable date gives a NULL timestamp, and a size past
    a signed 64-bit integer a NULL size, as Spark's casts do."""
    out = []
    for line in lines:
        m = _LIST_RE.match(line)
        if m is None or (prefixes and not m[4].startswith(prefixes)):
            continue
        size = int(m[3])
        out.append({
            "nome": m[4],
            "tamanho": size if size <= _LONG_MAX else None,
            "timestamp_modificacao_ftp": _list_timestamp(m[1], m[2]),
        })
    return out


def parse_ftp_list_lines(spark: SparkSession, lines: list[str], *, prefixes: tuple[str, ...] = ()) -> DataFrame:
    """LIST lines → DataFrame(nome, tamanho, timestamp_modificacao_ftp)
    with the US timestamp parsed (C13) and optional prefix filtering."""
    return spark.createDataFrame(
        [tuple(r.values()) for r in parse_list_lines(lines, prefixes)],
        "nome string, tamanho long, timestamp_modificacao_ftp timestamp",
    )


def prefer_partitioned(names: list[str], pattern: str | re.Pattern) -> list[str]:
    """S2: among files matching `pattern`, if both partitioned
    (`BASE_1.dbc`) and unpartitioned (`BASE.dbc`) forms exist, keep only
    the partitioned shards (they supersede the monolith)."""
    rx = re.compile(pattern) if isinstance(pattern, str) else pattern
    matched = [n for n in names if rx.fullmatch(n) or rx.match(n)]
    part_re = re.compile(r"^(?P<base>\w{8})_(\d+)\.dbc$", re.IGNORECASE)
    partitioned_bases = {m.group("base").upper() for n in matched if (m := part_re.match(n))}
    out = []
    for n in matched:
        stem = n.rsplit(".", 1)[0].upper()
        if part_re.match(n):
            out.append(n)
        elif stem in partitioned_bases:
            continue  # superseded by shards
        else:
            out.append(n)
    return out
