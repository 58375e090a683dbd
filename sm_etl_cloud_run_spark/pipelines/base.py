"""Generic two-stage fact pipeline (SURVEY §3 EP1/EP2), spec-driven.

The reference implements eight hand-written pandas chains that all share
one shape (etl/siasus_procedimentos_ambulatoriais.py:206-356 is the
canonical one): panel filter → condition filter → rename → date parse →
null normalization → boolean decode → column split → row id → period
lookup → geo lookup → audit columns, then a second stage that re-reads
the all-string bronze CSV and forces types
(load_bd/*_load_bd.py `transformar_tipos`).

Here the per-source differences are DATA (a :class:`FactSpec`), and the
chain is ONE Catalyst pipeline — every rule a column expression, fused
by whole-stage codegen into a single pass over the scan.

Scale notes: the only joins are broadcast lookups against small dims;
the panel filter is an `isin` against a parameter-sized id list (hash
set lookup in codegen — cheaper than any join form); everything else is
narrow. One 100 TB scan in, one write out, zero fact-side shuffles.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cleaning, dates
from ..functions.ids import deterministic_row_id, uuid7_column
from ..operators import filters, joins
from ..operators.projections import normalize_headers, rename_map

# pandas dtype (reference TIPOS_* maps) → Spark DDL type
_PANDAS_TO_SPARK = {
    "object": "string",
    "Int64": "long",
    "int64": "long",
    "Float64": "double",
    "float64": "double",
    "bool": "boolean",
    "datetime64[ns]": "timestamp",
}


@dataclass(frozen=True)
class FactSpec:
    """Declarative description of one DATASUS-style fact source."""

    name: str
    rename: Mapping[str, str]  # raw → canonical (P1); keys define the raw schema
    yyyymm_dates: tuple[str, ...] = ()  # C9 (canonical names)
    yyyymmdd_dates: tuple[str, ...] = ()  # C10
    ddmmyyyy_dates: tuple[str, ...] = ()  # C11
    zeros_to_null: tuple[str, ...] = ()  # C3
    nines_to_null: tuple[str, ...] = ()  # C4
    sentinels: Mapping[str, tuple[str, ...]] = field(default_factory=dict)  # F3 knockouts
    bool01: tuple[str, ...] = ()  # C1 tri-state '0'/'1'
    flag_true: Mapping[str, str] = field(default_factory=dict)  # 'M'/'S'/'1' → bool (else False)
    contains_flags: Mapping[str, Mapping[str, str]] = field(default_factory=dict)  # C5: src → {letter: new_col}
    nonempty_flags: tuple[str, ...] = ()  # C5 tail: col → len>0 bool (RAAS TP_DROGA)
    make_date_from: tuple[str, str, str] | None = None  # C12: (ano, mes, dest); drops sources
    optional_raw: tuple[str, ...] = ()  # P4: raw columns added as '' when absent (AIH vintages)
    null_flags_when_null: tuple[str, tuple[str, ...]] | None = None  # F3 outcome rule
    split3: Mapping[str, tuple[str, str]] = field(default_factory=dict)  # P7: src → (head3, tail)
    roman_cols: tuple[str, ...] = ()  # C6
    strip_nondigit_cols: tuple[str, ...] = ()  # C7
    zfill_cols: Mapping[str, int] = field(default_factory=dict)  # C8
    interval_text_cols: tuple[str, ...] = ()  # C16: int-string day count → 'N days'
    period_date_col: str = "realizacao_periodo_data_inicio"  # J1 lookup key
    geo_key_col: str = "unidade_geografica_id_sus"  # J2 lookup key
    type_map: Mapping[str, str] = field(default_factory=dict)  # canonical → pandas dtype (stage 2)
    non_null_cols: tuple[str, ...] = ()  # A4 validation

    @property
    def raw_columns(self) -> list[str]:
        return list(self.rename)


def transform_fact(
    raw: DataFrame,
    spec: FactSpec,
    *,
    panel_ids: Sequence[str] | None = None,
    panel_raw_cols: Sequence[str] = (),
    condition: Column | None = None,
    periods: DataFrame | None = None,
    geo: DataFrame | None = None,
    ftp_arquivo_nome: str = "",
    deterministic_ids: bool = False,
) -> DataFrame:
    """Stage-1 transform: all-string raw chunk → cleaned, enriched fact.

    `periods` must carry (data_inicio date, id); `geo` (id_sus, id).
    With `deterministic_ids` the row id derives from content (testable);
    otherwise UUIDv7 like the reference (P9).
    """
    from ..session import apply_session_conventions

    # pandas-coerce parity (invalid date/number → NULL) requires ANSI off
    # even when the caller owns the session
    apply_session_conventions(raw.sparkSession)
    df = raw

    # F1 — panel membership on the raw ids (OR across the given columns).
    if panel_ids is not None and panel_raw_cols:
        ids = list(panel_ids)
        cond = F.col(panel_raw_cols[0]).isin(ids)
        for c in panel_raw_cols[1:]:
            cond = cond | F.col(c).isin(ids)
        df = df.where(cond)

    # F2 — source-specific composite condition over raw columns.
    if condition is not None:
        df = df.where(condition)

    # P4 — vintage harmonization: absent optional raw columns appear empty.
    if spec.optional_raw:
        missing = [c for c in spec.optional_raw if c not in df.columns]
        if missing:
            df = df.withColumns({c: F.lit("") for c in missing})

    # P2 + P1 — header strip + de-para rename.
    df = normalize_headers(df, case="upper")
    df = rename_map(df, {k.upper(): v for k, v in spec.rename.items()})

    # C12 — build a date from split (year, month) columns, drop sources.
    if spec.make_date_from:
        ano, mes, dest = spec.make_date_from
        df = df.withColumn(dest, dates.make_date_from_year_month(F.col(ano), F.col(mes))).drop(ano, mes)

    # C9/C10/C11 — date dialects (invalid → NULL, pandas-coerce parity).
    df = df.withColumns({c: dates.from_yyyymm(F.col(c)) for c in spec.yyyymm_dates})
    df = df.withColumns({c: dates.from_yyyymmdd(F.col(c)) for c in spec.yyyymmdd_dates})
    df = df.withColumns({c: dates.from_ddmmyyyy(F.col(c)) for c in spec.ddmmyyyy_dates})

    # C6/C7/C8 — SCNES-style string surgery. Runs BEFORE null
    # normalization so codes it produces ('ABC' → strip → '' → zfill →
    # '0000') fall through to the all-zeros rule like the reference.
    df = df.withColumns({c: cleaning.roman_to_int_string(F.col(c)) for c in spec.roman_cols})
    df = df.withColumns({c: cleaning.strip_non_digits(F.col(c)) for c in spec.strip_nondigit_cols})
    df = df.withColumns({c: cleaning.zfill(F.col(c), w) for c, w in spec.zfill_cols.items()})

    # '' → NULL on every remaining string column (reference .replace).
    date_cols = set(spec.yyyymm_dates) | set(spec.yyyymmdd_dates) | set(spec.ddmmyyyy_dates)
    if spec.make_date_from:
        date_cols.add(spec.make_date_from[2])
    df = df.withColumns(
        {c: cleaning.empty_to_null(F.col(c)) for c in df.columns if c not in date_cols}
    )

    # C3/C4/sentinels — code-domain null normalization.
    df = df.withColumns({c: cleaning.all_zeros_to_null(F.col(c)) for c in spec.zeros_to_null})
    df = df.withColumns({c: cleaning.all_nines_to_null(F.col(c)) for c in spec.nines_to_null})
    df = df.withColumns(
        {c: cleaning.literal_to_null(F.col(c), *vals) for c, vals in spec.sentinels.items()}
    )

    # C1/C2/C5 — boolean decodes.
    df = df.withColumns({c: cleaning.decode_bool_01(F.col(c)) for c in spec.bool01})
    # reference semantics here are `elemento == 'M'` with NaN → False
    df = df.withColumns(
        {c: F.coalesce(F.col(c) == truthy, F.lit(False)) for c, truthy in spec.flag_true.items()}
    )
    for src, letter_map in spec.contains_flags.items():
        df = df.withColumns(
            {new: F.coalesce(F.col(src).contains(letter), F.lit(False)) for letter, new in letter_map.items()}
        )
    # C5 tail: the source flag column itself becomes 'has any letters'
    df = df.withColumns(
        {c: F.coalesce(F.length(F.col(c)) > 0, F.lit(False)) for c in spec.nonempty_flags}
    )

    # F3 — outcome flags forced NULL when the reason column is NULL.
    if spec.null_flags_when_null:
        guard, targets = spec.null_flags_when_null
        df = filters.null_when(df, F.col(guard).isNull(), *targets)

    # C16 — day counts → 'N days' interval text.
    df = df.withColumns(
        {c: dates.days_to_interval_text(F.col(c)) for c in spec.interval_text_cols}
    )

    # P7 — split head-3/tail codes, drop the source.
    for src, (head, tail) in spec.split3.items():
        df = (
            df.withColumn(head, F.substring(F.col(src), 1, 3))
            .withColumn(tail, F.expr(f"substring(`{src}`, 4)"))
            .drop(src)
        )

    # P9 — row id.
    if deterministic_ids:
        df = df.withColumn(
            "id", deterministic_row_id(*[F.col(c).cast("string") for c in sorted(df.columns)])
        )
    else:
        df = df.withColumn("id", uuid7_column())

    # J1 — monthly period id (broadcast equi join on truncated month).
    if periods is not None:
        df = joins.period_equi_join(
            df, periods.select("data_inicio", "id"),
            F.col(spec.period_date_col),
            attach={"id": "periodo_id"},
        )

    # J2 — geography id (broadcast hash join).
    if geo is not None:
        df = joins.broadcast_lookup(
            df, geo.select("id_sus", "id"),
            F.col(spec.geo_key_col) == geo["id_sus"],
            select={"id": "unidade_geografica_id"},
        )

    # P3 — audit + provenance columns.
    return df.withColumns(
        {
            "criacao_data": dates.now_gmt_minus3(),
            "atualizacao_data": dates.now_gmt_minus3(),
            "ftp_arquivo_nome": F.lit(ftp_arquivo_nome),
        }
    )


def spark_type_map(spec: FactSpec) -> dict[str, str]:
    return {c: _PANDAS_TO_SPARK[t] for c, t in spec.type_map.items()}


def cast_allstring_typed(raw: DataFrame, spec: FactSpec) -> DataFrame:
    """Stage-2 (EP2) cast: all-string bronze → typed columns, as the
    reference's load (load_bd/*_load_bd.py:112-134) does before its
    delete-then-insert (`pipelines/rehearsal.ep2_inserir_lote`):
    numerics via double (pandas issue-25472 parity), booleans
    `'True' → True else False` (NULL collapses to False at THIS stage —
    SURVEY §7.3), everything else a direct cast.
    """
    types = spark_type_map(spec)
    exprs: dict[str, Column] = {}
    for col, typ in types.items():
        if col not in raw.columns:
            continue
        c = F.col(col)
        if typ == "boolean":
            exprs[col] = F.coalesce(c == "True", F.lit(False))
        elif typ == "long":
            exprs[col] = c.cast("double").cast("long")
        else:
            exprs[col] = c.cast(typ)
    return raw.withColumns(exprs)
