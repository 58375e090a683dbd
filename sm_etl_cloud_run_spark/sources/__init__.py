"""Source connectors (SURVEY §2.1).

Real network fetching (DATASUS FTP, GCS) is out of scope for
correctness runs — the FTP client takes an injected transport and the
parsers take local paths/text, mirroring the reference's separation
between fetch (driver-side) and parse (distributed).
"""

from .csv_allstring import read_csv_allstring  # noqa: F401
from .dbc import dbc_to_dbf, explode  # noqa: F401
from .dbf import decode_datasus_bytes, parse_dbf_bytes, read_dbf_files  # noqa: F401
from .ftp_list import parse_ftp_list_lines, prefer_partitioned  # noqa: F401
