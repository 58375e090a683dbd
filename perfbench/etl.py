"""``etl_lifecycle``: the reference's own two-stage job, end to end.

One cycle is the closed loop the reference runs per FTP listing:

1. ``ep3`` — ``pipelines.rehearsal.refresh_control``: LIST the canned
   FTP directory into the watermark control table;
2. ``ep1`` — ``runner.main(... ep1_baixar_pa_lote --batch)``: gate,
   download + DCL decode (``sources``), ``transform_fact``
   (``pipelines``), bronze CSV and watermark (``sinks``);
3. ``ep2`` — ``runner.main(... ep2_inserir_pa_lote --batch)``: gate,
   typed cast, staged JDBC load into embedded Derby, watermark;
4. ``redelivery`` — one shard is re-published with new bytes and a
   newer FTP stamp; EP3, EP1 and EP2 run again and must pick up that
   file only.

Each cycle writes a fresh control table, bronze root and warehouse
table, so every cycle does the same work.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import io
import json
import os
import shutil
import sys

import numpy as np

FTP_DIR = "/dissemin/publicos/SIASUS/200801_/Dados"
_JOBS = "sm_etl_cloud_run_spark.pipelines.rehearsal"


class DiskFtp:
    """``ftplib.FTP`` subset over ``{name: (path, MM-DD-YY stamp)}``.

    Executor-side decode tasks receive this index, not the bytes, and
    read only their own file — as a real FTP fetch would."""

    def __init__(self, index: dict[str, tuple[str, str]]):
        self._index = index
        self._cwd: str | None = None

    def cwd(self, path: str) -> None:
        if path != FTP_DIR:
            raise OSError(f"550 {path}: no such directory")
        self._cwd = path

    def nlst(self) -> list[str]:
        return sorted(self._index)

    def retrlines(self, cmd: str, callback) -> None:
        assert cmd == "LIST"
        for name, (path, stamp) in sorted(self._index.items()):
            callback(f"{stamp}  03:45PM      {os.path.getsize(path)} {name}")

    def size(self, name: str) -> int:
        return os.path.getsize(self._index[name][0])

    def retrbinary(self, cmd: str, callback) -> None:
        assert cmd.startswith("RETR ")
        with open(self._index[cmd[5:]][0], "rb") as f:
            while chunk := f.read(1 << 16):
                callback(chunk)

    def close(self) -> None:
        pass


def _shard_rows(rng: np.random.Generator, cols: list[str], rows: int) -> list[list[str]]:
    """Even rows pass the panel + mental-health gate (CAPS in São Paulo),
    odd rows fall outside the panel and are dropped by the transform."""
    base = {c: "X" for c in cols}
    base.update({
        "PA_TPUPS": "70", "PA_MVM": "202408", "PA_CMP": "202408",
        "PA_MN_IND": "M", "PA_OBITO": "1", "PA_ENCERR": "0",
        "PA_PERMAN": "", "PA_ALTA": "1", "PA_TRANSF": "0",
        "PA_MOTSAI": "11", "PA_CNPJMNT": "00000000000000",
        "PA_IDADE": "042", "PA_SRV_C": "121001",
        "PA_CIDPRI": "F200", "PA_CATEND": "01",
    })
    codes = rng.integers(0, 9_999_999, rows)
    out = []
    for i in range(rows):
        r = dict(base)
        n = int(codes[i])
        r["PA_CODUNI"] = f"{n:07d}"
        r["PA_PROC_ID"] = f"{n * 97 % 999_999_999:09d}"
        r["PA_CBOCOD"] = f"{n % 999_999:06d}"
        r["PA_QTDPRO"] = str(5 + n % 7)
        r["PA_QTDAPR"] = str(1 + n % 5)
        if i % 2 == 0:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "355030", "355030"
        else:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "111111", "222222"
        out.append([r[c] for c in cols])
    return out


def _dbc(rows: list[list[str]], cols: list[str]) -> bytes:
    from dbc_fixtures import make_dbc, make_dbf

    widths = [max(1, max(len(r[i]) for r in rows)) for i in range(len(cols))]
    return make_dbc(make_dbf([(c, "C", w) for c, w in zip(cols, widths)], rows))


def write_shards(out_dir: str, root: str, seed: int, n_shards: int, rows: int) -> None:
    """``n_shards`` PA shards plus one re-delivery of a seed-chosen shard
    with a quarter more rows, and a manifest of names and expected
    loaded-row counts."""
    sys.path.insert(0, os.path.join(root, "tests"))
    from sm_etl_cloud_run_spark.pipelines import PA_SPEC

    cols = list(PA_SPEC.raw_columns)
    rng = np.random.default_rng(seed)
    names = [f"PASP2408{chr(ord('a') + i)}.dbc" for i in range(n_shards)]
    for name in names:
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(_dbc(_shard_rows(rng, cols, rows), cols))
    redo = names[int(rng.integers(0, n_shards))]
    redo_rows = rows + rows // 4
    os.makedirs(os.path.join(out_dir, "redelivery"))
    with open(os.path.join(out_dir, "redelivery", redo), "wb") as f:
        f.write(_dbc(_shard_rows(rng, cols, redo_rows), cols))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"names": names, "rows": rows, "redelivered": redo,
                   "redelivered_rows": redo_rows}, f)


def _loaded(rows: int) -> int:
    return (rows + 1) // 2  # even row indexes pass the panel gate


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, name))
    return total


class EtlLifecycle:
    op_prefix = "etl"
    # one measured cycle and no warm pass: the reference runs each stage
    # as a batch job in a fresh process, so a user waits for the first
    # cycle of a new session
    warm_passes = 0
    max_passes = 1

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        self.work = work
        with open(os.path.join(inputs, "manifest.json")) as f:
            self.manifest = json.load(f)
        names = self.manifest["names"]
        self.index = {n: (os.path.join(inputs, n), "08-20-24") for n in names}
        redo = self.manifest["redelivered"]
        self.redo_index = dict(self.index)
        # a stamp far past the wall-clock watermark: the file is "changed"
        self.redo_index[redo] = (os.path.join(inputs, "redelivery", redo), "08-20-99")
        self.raw_bytes = sum(os.path.getsize(p) for p, _ in self.index.values())
        self.raw_bytes += os.path.getsize(self.redo_index[redo][0])
        self.cycle = 0
        self.stats: list[dict] = []
        self.tracer = None  # set by the runner before the first pass

    def expect(self) -> None:
        """Expected counts come from the manifest; nothing to precompute."""

    def catalog(self, spark) -> None:
        """Deployment config, panel dims and the Derby warehouse."""
        from sm_etl_cloud_run_spark.pipelines import rehearsal
        from sm_etl_cloud_run_spark.sinks.jdbc import write_jdbc_append

        self.spark = spark
        self.url = f"jdbc:derby:{self.work}/wh;create=true"
        periods = spark.createDataFrame(
            [(dt.date(2024, 8, 1), "p-2024-08-M")], "data_inicio date, id string"
        )
        geo = spark.createDataFrame(
            [("355030", "m-sp"), ("330455", "m-rj")], "id_sus string, id string"
        )
        rehearsal.configure(
            host="ftp.bench", directory=FTP_DIR,
            panel_ids=["355030", "330455"], periods=periods, geo=geo,
            jdbc_url=self.url, jdbc_column_types="ftp_arquivo_nome VARCHAR(64)",
        )
        write_jdbc_append(spark.range(1), self.url, "bench_boot")

    def _runner(self, acao: str, job: str) -> int:
        """One runner CLI call; returns the gate's pending-file count."""
        from sm_etl_cloud_run_spark import runner

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = runner.main([
                "--control", self.control, "--tipo", "PA", "--acao", acao,
                "--job", f"{_JOBS}:{job}", "--batch",
            ])
        if rc != 0:
            raise RuntimeError(f"runner {acao} exited {rc}")
        return int(json.loads(out.getvalue().splitlines()[0])["pending"])

    def ops(self, order_seed: int):
        """The four operations of one cycle, in lifecycle order."""
        from sm_etl_cloud_run_spark.pipelines import rehearsal

        self.cycle += 1
        base = os.path.join(self.work, f"cycle{self.cycle}")
        self.control = os.path.join(base, "sm_metadados_ftp")
        self.bronze = os.path.join(base, "bronze")
        self.table = f"pa_fato_{self.cycle}"
        self._wh0 = _du(os.path.join(self.work, "wh"))

        def ep3():
            rehearsal.configure(
                control_path=self.control, bronze_root=self.bronze, jdbc_table=self.table,
                transport_factory=functools.partial(DiskFtp, self.index),
            )
            rehearsal.refresh_control(self.spark)
            return None

        def redelivery():
            rehearsal.configure(transport_factory=functools.partial(DiskFtp, self.redo_index))
            rehearsal.refresh_control(self.spark)
            return (self._runner("baixar", "ep1_baixar_pa_lote"),
                    self._runner("inserir", "ep2_inserir_pa_lote"))

        return [
            ("ep3", ep3),
            ("ep1", lambda: self._runner("baixar", "ep1_baixar_pa_lote")),
            ("ep2", lambda: self._runner("inserir", "ep2_inserir_pa_lote")),
            ("redelivery", redelivery),
        ]

    def check(self, results: dict[str, object]) -> dict[str, str]:
        """Problems per operation of the cycle just run (untimed)."""
        from pyspark.sql import functions as F

        from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table

        m = self.manifest
        n = len(m["names"])
        problems: dict[str, str] = {}
        ctl = self.spark.read.parquet(self.control)
        if ctl.count() != n:
            problems["ep3"] = f"control rows {ctl.count()} != {n}"
        if results.get("ep1") != n:
            problems["ep1"] = f"gate passed {results.get('ep1')} files, {n} are new"
        if results.get("ep2") != n:
            problems["ep2"] = f"gate passed {results.get('ep2')} files, {n} are new"
        if results.get("redelivery") != (1, 1):
            problems["redelivery"] = f"gate passed {results.get('redelivery')}, 1 file changed"
        unset = ctl.where(
            F.col("timestamp_etl_gcs").isNull() | F.col("timestamp_load_bd").isNull()
            | (F.col("timestamp_load_bd") < F.col("timestamp_etl_gcs"))
        ).count()
        if unset:
            problems["ep2"] = f"{unset} control rows without both watermarks"
        loaded = read_jdbc_table(self.spark, self.url, self.table, num_partitions=1)
        per_file = {r[0]: r[1] for r in loaded.groupBy("ftp_arquivo_nome").count().collect()}
        want = {name: _loaded(m["rows"]) for name in m["names"]}
        want[m["redelivered"]] = _loaded(m["redelivered_rows"])
        if per_file != want:
            problems["redelivery"] = f"warehouse rows per file {per_file} != {want}"
        written = _du(self.bronze) + _du(os.path.join(self.work, "wh")) - self._wh0
        self.stats.append({
            "rows_loaded": sum(per_file.values()),
            "write_amp": written / self.raw_bytes,
        })
        shutil.rmtree(os.path.join(self.work, f"cycle{self.cycle}"), ignore_errors=True)
        return problems
