"""Scalar function layer.

Everything the reference does with row-wise pandas lambdas
(`transform_column` pyjanitor calls) is expressed here as native Spark
column expressions — JVM-side, whole-stage-codegen'd, no Python on the
hot path. See SURVEY.md §2.8 for the C1–C20 inventory.
"""

from .cleaning import (  # noqa: F401
    all_nines_to_null,
    all_zeros_to_null,
    decode_bool_01,
    decode_bool_flag,
    empty_to_null,
    fill_zero_long,
    literal_to_null,
    parse_decimal_comma,
    roman_to_int_string,
    strip_non_digits,
    zfill,
)
from .dates import (  # noqa: F401
    days_to_interval_text,
    from_month_abbrev_pt,
    from_yyyymm,
    from_yyyymmdd,
    from_ddmmyyyy,
    make_date_from_year_month,
    now_gmt_minus3,
    to_iso8601,
)
from .ids import deterministic_row_id  # noqa: F401
from .text import (  # noqa: F401
    doc_fingerprint,
    normalized_text,
    token_count,
    tokens,
    word_shingles,
)
