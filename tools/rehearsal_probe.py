"""Rehearsal at the reference's real monthly-file scale.

The pytest rehearsal (tests/test_rehearsal.py) proves the EP1/EP2/EP3
lifecycle on 24k synthetic rows; the reference's production PA shards
run 10^5-10^6 rows per monthly file (SURVEY §3). This probe is the
one-command version at that envelope: same canned FTP, same DBC
shards, same runner dispatch, same staged Derby load — just more rows.

Usage: python tools/rehearsal_probe.py [rows_per_shard] [n_shards]
       (default 100000 x 4 = 400k raw rows)
--uf-year replaces the shard-letter naming with the 27-UF × 12-month
grid (324 files, PA{UF}24{MM}.dbc) — the reference's real year-of-PA
envelope; [n_shards] is ignored. Fixture bytes are generated in a
fork process pool (serial generation alone would dominate the probe).
--ep1-only stops after EP1 (no warehouse load) and verifies the bronze
row count instead — the mode for measuring EP1 batch parallelism at
shard counts where the Derby load would dwarf the signal.
Prints one JSON line {"rows_raw": N, "loaded_rows": N, "ep3_sec": ...,
"ep1_sec": ..., "ep2_sec": ..., "rows_per_sec_ep1": ...}.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from pyspark import cloudpickle  # noqa: E402

from dbc_fixtures import make_dbc, make_dbf  # noqa: E402
from test_datasus_ftp import FakeFtpSession  # noqa: E402

from sm_etl_cloud_run_spark import runner  # noqa: E402
from sm_etl_cloud_run_spark.pipelines import PA_SPEC, rehearsal  # noqa: E402
from sm_etl_cloud_run_spark.session import get_spark  # noqa: E402
from sm_etl_cloud_run_spark.sources.jdbc import read_jdbc_table  # noqa: E402

cloudpickle.register_pickle_by_value(sys.modules[__name__])

_DIR = "/dissemin/publicos/SIASUS/200801_/Dados"


def _shard_bytes(shard_idx: int, rows: int) -> bytes:
    """Same row recipe as tests/test_rehearsal.py: even rows pass the
    panel+condition gate, odd rows are dropped by F1."""
    cols = PA_SPEC.raw_columns
    base = {c: "X" for c in cols}
    base.update({
        "PA_TPUPS": "70", "PA_MVM": "202408", "PA_CMP": "202408",
        "PA_MN_IND": "M", "PA_OBITO": "1", "PA_ENCERR": "0",
        "PA_PERMAN": "", "PA_ALTA": "1", "PA_TRANSF": "0",
        "PA_MOTSAI": "11", "PA_CNPJMNT": "00000000000000",
        "PA_IDADE": "042", "PA_SRV_C": "121001",
        "PA_CIDPRI": "F200", "PA_CATEND": "01",
    })
    data = []
    for i in range(rows):
        r = dict(base)
        n = shard_idx * rows + i
        r["PA_CODUNI"] = f"{n % 9999999:07d}"
        r["PA_PROC_ID"] = f"{n % 999999999:09d}"
        r["PA_CBOCOD"] = f"{n % 999999:06d}"
        r["PA_QTDPRO"] = str(5 + n % 7)
        r["PA_QTDAPR"] = str(1 + n % 5)
        if i % 2 == 0:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "355030", "355030"
        else:
            r["PA_UFMUN"], r["PA_MUNPCN"] = "111111", "222222"
        data.append([r[c] for c in cols])
    widths = {c: max(1, max(len(row[i]) for row in data))
              for i, c in enumerate(cols)}
    fields = [(c, "C", widths[c]) for c in cols]
    return make_dbc(make_dbf(fields, data))


_UFS = (
    "AC", "AL", "AM", "AP", "BA", "CE", "DF", "ES", "GO", "MA", "MG", "MS",
    "MT", "PA", "PB", "PE", "PI", "PR", "RJ", "RN", "RO", "RR", "RS", "SC",
    "SE", "SP", "TO",
)


class DiskFtpSession:
    """FakeFtpSession twin backed by {dir: {name: path-on-disk}}.

    The in-memory fake is right for tests, but at grid scale it is a
    fixture-architecture trap: `transport_factory`'s closure captures
    the whole tree, so EVERY executor-side decode task would ship all
    324 shards' bytes (~2.3 GB) through the serializer — measured as a
    driver pinned at 2 cores pickling while 30 sat idle. Capturing a
    path index instead ships a few KB; each task reads only its own
    file, which is also the honest analog of a real FTP fetch."""

    def __init__(self, index: dict):
        self._index = index
        self._cwd: str | None = None
        self.closed = False

    def cwd(self, path: str) -> None:
        if path not in self._index:
            raise OSError(f"550 {path}: no such directory")
        self._cwd = path

    def nlst(self) -> list[str]:
        return sorted(self._index[self._cwd])

    def retrlines(self, cmd: str, callback) -> None:
        assert cmd == "LIST"
        for name, path in sorted(self._index[self._cwd].items()):
            callback(f"09-03-24  03:45PM      {os.path.getsize(path)} {name}")

    def size(self, name: str) -> int:
        return os.path.getsize(self._index[self._cwd][name])

    def retrbinary(self, cmd: str, callback) -> None:
        assert cmd.startswith("RETR ")
        with open(self._index[self._cwd][cmd[5:]], "rb") as f:
            while chunk := f.read(1 << 16):
                callback(chunk)

    def close(self) -> None:
        self.closed = True


def main() -> None:
    flags = {"--uf-year", "--ep1-only"}
    args = [a for a in sys.argv[1:] if a not in flags]
    uf_year = "--uf-year" in sys.argv[1:]
    ep1_only = "--ep1-only" in sys.argv[1:]
    rows = int(args[0]) if len(args) > 0 else 100_000
    if uf_year:
        shards = [f"PA{uf}24{m:02d}.dbc" for uf in _UFS for m in range(1, 13)]
    else:
        n_shards = int(args[1]) if len(args) > 1 else 4
        shards = [f"PASP2408{chr(ord('a') + i)}.dbc" for i in range(n_shards)]
    n_shards = len(shards)

    t0 = time.perf_counter()
    spool: str | None = None
    if n_shards > 8:
        # fixture generation is pure-Python DCL compression (~10 s per
        # 50k-row shard); at grid scale generate in a fork pool so the
        # probe measures the PIPELINE, not the fixture factory — and
        # spool blobs to DISK so the transport closure ships paths,
        # not bytes (see DiskFtpSession)
        import multiprocessing as mp

        spool = tempfile.mkdtemp(prefix="rehearsal_spool_")
        index: dict[str, str] = {}
        with mp.get_context("fork").Pool(min(32, n_shards)) as pool:
            for name, blob in zip(
                shards,
                pool.starmap(_shard_bytes, [(i, rows) for i in range(n_shards)]),
            ):
                path = os.path.join(spool, name)
                with open(path, "wb") as f:
                    f.write(blob)
                index[name] = path
        transport = lambda: DiskFtpSession({_DIR: index})  # noqa: E731
    else:
        tree = {_DIR: {name: _shard_bytes(i, rows) for i, name in enumerate(shards)}}
        transport = lambda: FakeFtpSession(tree)  # noqa: E731
    gen_sec = time.perf_counter() - t0

    spark = get_spark("rehearsal-probe")
    work = tempfile.mkdtemp(prefix="rehearsal_probe_")
    try:
        control = os.path.join(work, "sm_metadados_ftp")
        derby = f"jdbc:derby:{work}/wh;create=true"
        periods = spark.createDataFrame(
            [(dt.date(2024, 8, 1), "p-2024-08-M")], "data_inicio date, id string"
        )
        geo = spark.createDataFrame(
            [("355030", "m-sp"), ("330455", "m-rj")], "id_sus string, id string"
        )
        rehearsal.configure(
            host="ftp.fake", directory=_DIR,
            transport_factory=transport,
            control_path=control, bronze_root=os.path.join(work, "bronze"),
            panel_ids=["355030", "330455"], periods=periods, geo=geo,
            jdbc_url=derby, jdbc_table="pa_fato",
            jdbc_column_types="ftp_arquivo_nome VARCHAR(64)",
        )

        t0 = time.perf_counter()
        ctl = rehearsal.refresh_control(spark)
        assert len(ctl) == n_shards
        ep3_sec = time.perf_counter() - t0

        t0 = time.perf_counter()
        rc = runner.main([
            "--control", control, "--tipo", "PA", "--acao", "baixar",
            "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep1_baixar_pa_lote",
        ])
        assert rc == 0
        ep1_sec = time.perf_counter() - t0

        if ep1_only:
            # verify bronze directly: even rows pass the panel gate,
            # so every shard contributes rows//2 bronze rows
            bronze = spark.read.option("header", "true").csv(
                [f"{os.path.join(work, 'bronze')}/{a}" for a in shards]
            )
            loaded = bronze.count()
            raw = rows * n_shards
            assert loaded == raw // 2, (loaded, raw)
            print(json.dumps({
                "rows_raw": raw, "bronze_rows": loaded,
                "n_shards": n_shards,
                "gen_sec": round(gen_sec, 1), "ep3_sec": round(ep3_sec, 1),
                "ep1_sec": round(ep1_sec, 1),
                "rows_per_sec_ep1": int(raw / ep1_sec),
            }))
            return

        t0 = time.perf_counter()
        rc = runner.main([
            "--control", control, "--tipo", "PA", "--acao", "inserir",
            "--job", "sm_etl_cloud_run_spark.pipelines.rehearsal:ep2_inserir_pa_lote",
        ])
        assert rc == 0
        ep2_sec = time.perf_counter() - t0

        loaded = read_jdbc_table(spark, url=derby, table="pa_fato").count()
        raw = rows * n_shards
        assert loaded == raw // 2, (loaded, raw)
        print(json.dumps({
            "rows_raw": raw, "loaded_rows": loaded,
            "gen_sec": round(gen_sec, 1), "ep3_sec": round(ep3_sec, 1),
            "ep1_sec": round(ep1_sec, 1), "ep2_sec": round(ep2_sec, 1),
            "rows_per_sec_ep1": int(raw / ep1_sec),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if spool:
            shutil.rmtree(spool, ignore_errors=True)


if __name__ == "__main__":
    main()
