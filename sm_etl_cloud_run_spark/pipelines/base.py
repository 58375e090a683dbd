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
by whole-stage codegen into a single pass over the scan. The rules are
composed in Python into one projection, and a batch of files is one
DataFrame, so a batch builds that projection once. The spec is also
the second stage's type map: the rules say which columns become dates
and booleans, so a spec declares only its numeric columns.

Scale notes: the only joins are broadcast lookups against small dims;
the panel filter is an `isin` against a parameter-sized id list (hash
set lookup in codegen — cheaper than any join form); everything else is
narrow. One 100 TB scan in, one write out, zero fact-side shuffles.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import cleaning, dates
from ..functions.ids import deterministic_row_id
from ..operators import joins


@dataclass(frozen=True)
class FactSpec:
    """Declarative description of one DATASUS-style fact source: its
    filters, its stage-1 rules and its numeric columns. Every other
    stage-2 type follows from the rules (:func:`spark_type_map`)."""

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
    numeric: Mapping[str, str] = field(default_factory=dict)  # C20: canonical → 'long'/'double'
    panel_raw_cols: tuple[str, ...] = ()  # F1 panel columns; none → no panel filter
    condition: Callable[[], Column] | None = None  # F2 predicate over raw columns

    @property
    def raw_columns(self) -> list[str]:
        return list(self.rename)


def transform_fact(
    raw: DataFrame,
    spec: FactSpec,
    *,
    panel_ids: Sequence[str],
    periods: DataFrame,
    geo: DataFrame,
) -> DataFrame:
    """Stage-1 transform: all-string raw records → cleaned, enriched fact.

    `raw` also carries each row's source file, `ftp_arquivo_nome`, so
    one call serves a batch of files; that column passes through as the
    last one, and the row id does not hash it (P9). The spec's panel
    filter keeps the rows whose panel columns hold one of `panel_ids`
    (deployment config); its condition applies too. `periods` must
    carry (data_inicio date, id); `geo` (id_sus, id).
    The row id derives from the row's content (P9), not the reference's
    random UUIDv7. Pandas-coerce parity (invalid date/number → NULL)
    needs ANSI off: the session must carry the engine's conventions
    (`session.get_spark`, `tables.load_tables`).
    """
    raw_columns = tuple(c for c in raw.columns if c != "ftp_arquivo_nome")
    where, select, row_id = _stage1(spec, panel_ids, raw_columns)
    df = raw if where is None else raw.where(where)
    df = df.select(*select, "ftp_arquivo_nome").withColumn("id", row_id)

    # J1 — monthly period id (broadcast equi join on truncated month).
    df = joins.period_equi_join(
        df, periods.select("data_inicio", "id"),
        F.col(spec.period_date_col),
        attach={"id": "periodo_id"},
    )

    # J2 — geography id (broadcast hash join).
    df = joins.broadcast_lookup(
        df, geo.select("id_sus", "id"),
        F.col(spec.geo_key_col) == geo["id_sus"],
        select={"id": "unidade_geografica_id"},
    )

    # P3 — audit columns; the file name stays the last column.
    df = df.withColumns({
        "criacao_data": dates.now_gmt_minus3(),
        "atualizacao_data": dates.now_gmt_minus3(),
    })
    return df.select(*(c for c in df.columns if c != "ftp_arquivo_nome"), "ftp_arquivo_nome")


# the length SQL's two-argument `substring(s, pos)` takes: to the end
_TO_END = 2**31 - 1


def _stage1(
    spec: FactSpec, panel_ids: Sequence[str], raw_columns: tuple[str, ...],
) -> tuple[Column | None, list[Column], Column]:
    """The stage-1 rules as Columns over `raw_columns`: the row filter,
    the projection of every output column, and the row id over that
    projection. Each rule rewrites the Column of the column it names, in
    the order of the reference's chain, so the projection computes what
    one `withColumns` per rule would."""
    # F1 — panel membership on the raw ids (OR across the spec's columns).
    where = None
    if spec.panel_raw_cols:
        where = F.col(spec.panel_raw_cols[0]).isin(list(panel_ids))
        for c in spec.panel_raw_cols[1:]:
            where = where | F.col(c).isin(list(panel_ids))

    # F2 — source-specific composite condition over raw columns.
    if spec.condition is not None:
        where = spec.condition() if where is None else where & spec.condition()

    # P4 — vintage harmonization: absent optional raw columns appear empty.
    cols: dict[str, Column] = {c: F.col(f"`{c}`") for c in raw_columns}
    cols.update({c: F.lit("") for c in spec.optional_raw if c not in cols})

    # P2 + P1 — header strip + de-para rename.
    renames = {k.upper(): v for k, v in spec.rename.items()}
    cols = {renames.get(c.strip().upper(), c.strip().upper()): v for c, v in cols.items()}

    def rule(names, fn) -> None:
        cols.update({c: fn(cols[c]) for c in names})

    # C12 — build a date from split (year, month) columns, drop sources.
    if spec.make_date_from:
        ano, mes, dest = spec.make_date_from
        cols[dest] = dates.make_date_from_year_month(cols[ano], cols[mes])
        del cols[ano], cols[mes]

    # C9/C10/C11 — date dialects (invalid → NULL, pandas-coerce parity).
    rule(spec.yyyymm_dates, dates.from_yyyymm)
    rule(spec.yyyymmdd_dates, dates.from_yyyymmdd)
    rule(spec.ddmmyyyy_dates, dates.from_ddmmyyyy)

    # C6/C7/C8 — SCNES-style string surgery. Runs BEFORE null
    # normalization so codes it produces ('ABC' → strip → '' → zfill →
    # '0000') fall through to the all-zeros rule like the reference.
    rule(spec.roman_cols, cleaning.roman_to_int_string)
    rule(spec.strip_nondigit_cols, cleaning.strip_non_digits)
    cols.update({c: cleaning.zfill(cols[c], w) for c, w in spec.zfill_cols.items()})

    # '' → NULL on every remaining string column (reference .replace).
    date_cols = {c for c, t in spark_type_map(spec).items() if t == "timestamp"}
    rule([c for c in cols if c not in date_cols], cleaning.empty_to_null)

    # C3/C4/sentinels — code-domain null normalization.
    rule(spec.zeros_to_null, cleaning.all_zeros_to_null)
    rule(spec.nines_to_null, cleaning.all_nines_to_null)
    cols.update({c: cleaning.literal_to_null(cols[c], *vals) for c, vals in spec.sentinels.items()})

    # C1/C2/C5 — boolean decodes.
    rule(spec.bool01, cleaning.decode_bool_01)
    # reference semantics here are `elemento == 'M'` with NaN → False
    cols.update({c: F.coalesce(cols[c] == truthy, F.lit(False)) for c, truthy in spec.flag_true.items()})
    for src, letter_map in spec.contains_flags.items():
        cols.update({new: F.coalesce(cols[src].contains(letter), F.lit(False))
                     for letter, new in letter_map.items()})
    # C5 tail: the source flag column itself becomes 'has any letters'
    rule(spec.nonempty_flags, lambda c: F.coalesce(F.length(c) > 0, F.lit(False)))

    # F3 — outcome flags forced NULL when the reason column is NULL.
    if spec.null_flags_when_null:
        guard, targets = spec.null_flags_when_null
        missing = cols[guard].isNull()
        rule(targets, lambda c: F.when(missing, None).otherwise(c))

    # C16 — day counts → 'N days' interval text.
    rule(spec.interval_text_cols, dates.days_to_interval_text)

    # P7 — split head-3/tail codes, drop the source.
    for src, (head, tail) in spec.split3.items():
        code = cols.pop(src)
        cols[head] = F.substring(code, 1, 3)
        cols[tail] = F.substring(code, 4, _TO_END)

    select = [c.alias(name) for name, c in cols.items()]
    # P9 — content-derived row id, over the projected columns.
    row_id = deterministic_row_id(*[F.col(c).cast("string") for c in sorted(cols)])
    return where, select, row_id


# columns every fact gains after its rules (P9, J1, J2, P3)
_ADDED_COLS = ("id", "periodo_id", "unidade_geografica_id",
               "criacao_data", "atualizacao_data", "ftp_arquivo_nome")


def spark_type_map(spec: FactSpec) -> dict[str, str]:
    """Stage-2 Spark type of every output column, derived from the
    spec's stage-1 rules: the dates they parse are `timestamp`, the
    flags they decode `boolean`, the declared numerics their type, and
    the rest (codes, split parts, ids, provenance) `string`. This is
    the reference's per-source `TIPOS_*` map (load_bd/*_load_bd.py)
    without a second copy of each column's type."""
    stamps = {*spec.yyyymm_dates, *spec.yyyymmdd_dates, *spec.ddmmyyyy_dates,
              "criacao_data", "atualizacao_data"}
    flags = [new for letters in spec.contains_flags.values() for new in letters.values()]
    bools = {*spec.bool01, *spec.flag_true, *spec.nonempty_flags, *flags}
    dropped = set(spec.split3)
    made = []
    if spec.make_date_from:
        ano, mes, dest = spec.make_date_from
        dropped |= {ano, mes}
        stamps.add(dest)
        made.append(dest)
    cols = [c for c in spec.rename.values() if c not in dropped]
    cols += [*made, *flags, *(c for parts in spec.split3.values() for c in parts), *_ADDED_COLS]
    return {
        c: "timestamp" if c in stamps else "boolean" if c in bools else spec.numeric.get(c, "string")
        for c in cols
    }


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
