"""Row-id generation (SURVEY §2.3 P9).

The reference stamps every row with a random, time-ordered UUIDv7 hex
(etl/siasus_procedimentos_ambulatoriais.py:327-329). The engine does not
reproduce that: :func:`deterministic_row_id` derives a 32-hex surrogate
from the row's content (sha2 of the business key), so a re-run yields
the same ids and every result can be oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def deterministic_row_id(*key_cols: Column) -> Column:
    """Stable 32-hex id derived from the row's business key (md5-width)."""
    return F.substring(F.sha2(F.concat_ws("\x1f", *key_cols), 256), 1, 32)
