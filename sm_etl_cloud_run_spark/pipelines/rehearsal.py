"""EP1/EP2/EP3 full-lifecycle wiring — SURVEY §3 closed end-to-end.

The reference's three entry points (sm_cloud_run/app.py routes +
scripts/verificar_e_executar.py gate + the per-source etl/load_bd
modules) as `runner.py`-dispatchable jobs over ANY transport and
warehouse: a canned in-memory FTP plus embedded Derby in the rehearsal
test, the real DATASUS FTP plus Postgres in production — the jobs
themselves don't change.

One table, :data:`TIPOS`, drives all three jobs. It is keyed by tipo,
the DATASUS filename prefix, and maps each to its source's `FactSpec`
(which carries the panel columns and condition); the one filename
contract (:data:`_NAME`) is built from its keys and yields a file's
tipo.

- **EP3** (`refresh_control`): FTP LIST scan of every tipo in the
  directory (S3) → filename parse (P8) → 13-month retention per tipo
  (F6) → watermark-preserving upsert of the driver-side ledger
  (`sinks/watermark.py`), no Spark job — the reference's
  `/ftp_metadados` refresh (etl/datasus_ftp_metadados.py:164-382).
- **EP1** (`ep1_baixar_lote`): gate-selected files → executor-side
  download of exactly the ledger's file names + DBC decode, one task
  per file, each row tagged with its file (S1) → the stage-1 transform
  (the full F/P/C/J chain) → one partitioned bronze CSV write (K1),
  the whole batch one Spark job → one `timestamp_etl_gcs` watermark
  rewrite for the batch (K7) —
  etl/siasus_procedimentos_ambulatoriais.py:117-464.
- **EP2** (`ep2_inserir_lote`): the batch's bronze all-string CSV (S6),
  read once, each file's name read back from its directory → typed
  cast (C20) → one staging table → per-file transactional JDBC commit:
  delete-conflicts + insert + single commit (K2/K3) →
  `timestamp_load_bd` watermark per committed file —
  load_bd/siasus_procedimentos_ambulatoriais_load_bd.py:146-215.

`runner.py` calls a job once as `job(spark, rows)` with every pending
control row of one tipo, so deployment parameters (paths, transport,
warehouse URL, dims) are module configuration set once per process via
:func:`configure` — the analog of the reference's environment-variable
config surface.
"""

from __future__ import annotations

import operator
import os
import re
from functools import reduce
from typing import Any

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sinks.jdbc import commit_staged_load, write_jdbc_append
from ..sinks.partitioned import bronze_dir, write_bronze_csv
from ..sinks.watermark import LEDGER_SCHEMA, read_control, touch_watermark, write_control
from ..sources.datasus_ftp import DatasusFtpClient, read_datasus_ftp
from ..sources.ftp_list import parse_list_lines
from .base import FactSpec, cast_allstring_typed, spark_type_map, transform_fact
from .scnes import HABILITACOES_SPEC, VINCULOS_SPEC
from .siasus_bpa_i import BPA_I_SPEC
from .siasus_pa import PA_SPEC
from .siasus_raas import RAAS_PS_SPEC
from .sihsus_aih_rd import AIH_RD_SPEC

CONFIG: dict[str, Any] = {}

_REQUIRED = (
    "host", "directory", "control_path", "bronze_root",
    "panel_ids", "periods", "geo",
)


def configure(**kw: Any) -> None:
    """Set deployment parameters for the lifecycle jobs.

    Required: host, directory, control_path, bronze_root, panel_ids,
    periods (DataFrame: data_inicio, id), geo (DataFrame: id_sus, id).
    Optional: transport_factory (canned FTP in tests), jdbc_url,
    jdbc_table (must start with `<tipo>_fato`; EP2 refuses a batch of
    any other tipo), jdbc_column_types.
    """
    CONFIG.update(kw)


def _cfg(key: str) -> Any:
    if key not in CONFIG and key in _REQUIRED:
        raise RuntimeError(f"rehearsal.configure({key}=...) not set")
    return CONFIG.get(key)


# ---------------------------------------------------------------------------
# The per-tipo table
# ---------------------------------------------------------------------------

# Keyed by the DATASUS filename prefix. Each spec carries its panel
# columns and condition: PA and BI filter on both, RAAS-PS on neither
# (psychosocial by construction, siasus_raas.py), SCNES on its one
# municipality column (CODUFMUN) only; no panel column is recorded for RD.
TIPOS: dict[str, FactSpec] = {
    "PA": PA_SPEC,
    "BI": BPA_I_SPEC,
    "PS": RAAS_PS_SPEC,
    "RD": AIH_RD_SPEC,
    "PF": VINCULOS_SPEC,
    "HB": HABILITACOES_SPEC,
}

# The one filename contract: (tipo)(UF)(yy)(mm), an optional shard
# letter, `.dbc`. ASCII: `\d` must not accept non-ASCII digits in a name
# that ends up in a bronze path and a JDBC predicate
_NAME = re.compile(
    rf"({'|'.join(TIPOS)})([A-Z]{{2}})(\d{{2}})(\d{{2}})[a-z]?\.(?i:dbc)", re.ASCII,
)


# ---------------------------------------------------------------------------
# EP3 — control-table refresh from the FTP listing
# ---------------------------------------------------------------------------

# F6: a file is kept while its period is at most this many months older
# than the newest listed period of its tipo
RETENTION_MONTHS = 13


def _month(periodo: str) -> int:
    """`YYYY-MM` as a month count, so periods subtract."""
    return int(periodo[:4]) * 12 + int(periodo[5:7]) - 1


def refresh_control(spark: SparkSession) -> list[dict]:
    """Scan the FTP directory for the files of every tipo, upsert the
    watermark ledger and return its rows.

    New files appear with NULL stage watermarks (so both stages are
    pending); files already tracked keep their `timestamp_etl_gcs` /
    `timestamp_load_bd` — only the FTP modification timestamp and the
    size (`tamanho`) are refreshed, which is exactly what re-triggers a
    retroactively re-published period (the reference's "new or
    updated" condition, verificar_e_executar.py:36-41). A tracked file
    the listing omits keeps its last-seen size.

    True UPSERT, never a rebuild: a tracked file absent from one LIST
    scan (transient/partial FTP listing) survives with all its
    watermarks — the reference's upsert
    (datasus_ftp_metadados.py upsert_dados_no_postgres) likewise never
    deletes rows merely missing from a listing. Rows are pruned by age
    only (F6): a file whose period is more than `RETENTION_MONTHS`
    before the newest LISTED period of its tipo is dropped, listed or
    tracked, so an old file never enters the ledger. A tipo with no
    listed file prunes nothing, so an empty or failed listing deletes
    no row. The reference's second rule (K6: per (tipo, UF), delete
    rows older than the oldest incoming file) is not applied: a partial
    listing would then delete the tracked files it omits (PASP2407 when
    only PASP2408 is listed).
    """
    # `spark` is unused; it stays because callers (perfbench/etl.py) pass it
    client = DatasusFtpClient(_cfg("host"), transport_factory=_cfg("transport_factory"))
    listed = parse_list_lines(client.list_metadata_lines(_cfg("directory")), tuple(TIPOS))
    path = _cfg("control_path")
    old = read_control(path) if os.path.exists(path) else []
    # a ledger written before `tamanho` existed reads back without it
    ledger = {(r["tipo"], r["arquivo"]): {c: r.get(c) for c in LEDGER_SCHEMA.names} for r in old}
    newest: dict[str, int] = {}
    for entry in listed:
        m = _NAME.fullmatch(entry["nome"])
        if m is None:
            continue
        tipo, periodo = m[1], f"20{m[3]}-{m[4]}"
        newest[tipo] = max(newest.get(tipo, 0), _month(periodo))
        prev = ledger.get((tipo, entry["nome"]), {})
        ledger[(tipo, entry["nome"])] = {
            "tipo": tipo,
            "arquivo": entry["nome"],
            "sigla_uf": m[2],
            "periodo": periodo,
            "tamanho": entry["tamanho"],
            # listing present → take its mtime; a NULL (unparseable)
            # stamp keeps the last-seen one
            "timestamp_modificacao_ftp": (entry["timestamp_modificacao_ftp"]
                                          or prev.get("timestamp_modificacao_ftp")),
            "timestamp_etl_gcs": prev.get("timestamp_etl_gcs"),
            "timestamp_load_bd": prev.get("timestamp_load_bd"),
        }
    rows = [
        r for r in ledger.values()
        if r["tipo"] not in newest or _month(r["periodo"]) >= newest[r["tipo"]] - RETENTION_MONTHS
    ]
    write_control(path, rows)
    return rows


# ---------------------------------------------------------------------------
# Control-row validation, shared by EP1 and EP2
# ---------------------------------------------------------------------------

def _validated_arquivo(row: dict) -> str:
    """The control-row filename is interpolated into a JDBC delete
    predicate (EP2) and a bronze path (EP1); re-validate it HERE, at
    the point of use, so a hand-edited or backfilled control row can
    never inject SQL or traverse paths — defense does not rely on the
    upstream refresh_control filter alone. The name's prefix must also
    be the row's `tipo`, since the tipo picks the spec that reads it."""
    arquivo = row["arquivo"]
    m = _NAME.fullmatch(arquivo)
    if m is None:
        raise ValueError(
            f"control row filename {arquivo!r} does not match the DATASUS "
            "naming contract; refusing to use it in SQL/path contexts"
        )
    if m[1] != row.get("tipo"):
        raise ValueError(
            f"control row filename {arquivo!r} is a {m[1]} file, "
            f"but the row's tipo is {row.get('tipo')!r}"
        )
    return arquivo


def _validated_batch(rows: list[dict]) -> tuple[str, list[str]]:
    """The batch's one tipo and its validated filenames. The runner's
    gate passes one tipo per call; a mixed batch is refused before any
    side effect."""
    arquivos = [_validated_arquivo(row) for row in rows]
    tipos = sorted({row["tipo"] for row in rows})
    if len(tipos) > 1:
        raise ValueError(f"a lifecycle batch holds one tipo, got {tipos}")
    return (tipos[0] if tipos else ""), arquivos


# ---------------------------------------------------------------------------
# EP1 — stage-1 ETL for the pending control rows
# ---------------------------------------------------------------------------

def ep1_baixar_lote(spark: SparkSession, rows: list[dict]) -> None:
    """EP1 for every pending file of one tipo: download + decode +
    transform the batch to bronze, then watermark the whole batch.

    The batch is one Spark job: the decode runs one task per file (the
    pure-Python DBC decode, measured flat ~4.3k rows/s per task) and
    tags each row with its file, one `transform_fact` serves the batch,
    and one partitioned write lands each file in its bronze directory.
    A year × 27 UFs is one job of 324 tasks over the cluster's cores,
    where the reference loops file by file on one node.

    Every filename is validated before the read, and the watermark is
    touched ONCE, after the write, in one atomic control rewrite: a
    crashed batch leaves no file watermarked, and its re-run is
    idempotent because the write overwrites exactly the batch's
    bronze directories.
    """
    tipo, arquivos = _validated_batch(rows)
    if not arquivos:
        return
    spec = TIPOS[tipo]
    raw = read_datasus_ftp(
        spark, _cfg("host"), _cfg("directory"), arquivos, spec.raw_columns,
        transport_factory=_cfg("transport_factory"),
    ).fillna("")
    fact = transform_fact(
        raw, spec, panel_ids=_cfg("panel_ids"), periods=_cfg("periods"), geo=_cfg("geo"),
    )
    write_bronze_csv(fact, _cfg("bronze_root"), arquivos)
    touch_watermark(
        _cfg("control_path"), {"tipo": [tipo], "arquivo": arquivos}, "timestamp_etl_gcs",
    )


# ---------------------------------------------------------------------------
# EP2 — stage-2 warehouse load for the pending control rows
# ---------------------------------------------------------------------------

def ep2_inserir_lote(spark: SparkSession, rows: list[dict]) -> None:
    """EP2 for every pending file of one tipo: bronze → typed → staged
    transactional JDBC load (delete the file's previous rows + insert +
    commit as ONE transaction per file), then watermark each committed
    file. The target is the configured `jdbc_table`, else
    `<tipo>_fato`; an override is named for one tipo by that prefix,
    and a batch of another tipo is refused before anything is staged.

    The expensive half runs once for the whole batch: one read of every
    file's bronze directory, `<bronze_root>/ftp_arquivo_nome=<arquivo>/`
    (the file name comes from the path; a missing directory fails the
    read), one typed cast, one executor-parallel JDBC write into one
    staging table (`<target>_stg`). The read names the
    columns from the spec (`spark_type_map`) and checks each bronze
    header against them, so a header that lacks a column or orders them
    otherwise fails the staging write. The same write counts the
    boolean bronze values other than 'True', 'False' and empty; the
    cast would load each of them as False, so any such value fails the
    batch before the first commit.

    The commits then run strictly SEQUENTIALLY (an absent target is
    first created like the staging table), one transaction per file
    (K2/K3): delete the file's rows from the target, INSERT..SELECT
    its staged rows, commit, and touch its watermark. That is the
    recovery state, so a crash mid-batch leaves exactly the uncommitted
    files pending. Re-runs are idempotent: the delete clears any earlier
    load of the same file. Against a concurrent-writer warehouse
    (Postgres), the commit loop is the only serial section, ~ms per
    file.
    """
    tipo, arquivos = _validated_batch(rows)
    if not arquivos:
        return
    spec = TIPOS[tipo]
    target = CONFIG.get("jdbc_table", f"{tipo.lower()}_fato")
    if not target.lower().startswith(f"{tipo.lower()}_fato"):
        raise ValueError(f"jdbc_table {target!r} is not a {tipo} table; refusing to load into it")
    url = _cfg("jdbc_url")
    coltypes = CONFIG.get("jdbc_column_types")
    types = spark_type_map(spec)

    root = _cfg("bronze_root")
    raw = (
        spark.read.schema(T.StructType([T.StructField(c, T.StringType()) for c in types]))
        .option("header", True)
        .option("enforceSchema", False)
        .option("basePath", root)
        .csv([bronze_dir(root, arquivo) for arquivo in arquivos])
    )
    undecoded = reduce(
        operator.or_,
        (~F.col(c).isin("True", "False", "") for c, t in types.items() if t == "boolean"),
        F.lit(False),
    )
    flags = Observation()
    typed = cast_allstring_typed(raw.observe(flags, F.count(F.when(undecoded, 1)).alias("n")), spec)
    staging = f"{target}_stg"
    write_jdbc_append(typed, url, staging, mode="overwrite", column_types=coltypes)
    if n := flags.get["n"]:
        raise ValueError(
            f"{n} bronze rows of {arquivos} hold a boolean value other than "
            "'True', 'False' or empty; refusing to load them as False"
        )
    commit_staged_load(
        spark, url, target, staging, typed.columns,
        arquivos=arquivos,
        on_commit=lambda arquivo: touch_watermark(
            _cfg("control_path"), {"tipo": [tipo], "arquivo": [arquivo]}, "timestamp_load_bd",
        ),
    )


# perfbench/etl.py names the EP1 job by this name
ep1_baixar_pa_lote = ep1_baixar_lote
# perfbench/etl.py names the EP2 job by this name
ep2_inserir_pa_lote = ep2_inserir_lote
