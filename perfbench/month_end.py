"""month_end_batch: the reference's own month-end audit job.

One unit is one full run, closed loop with one caller:
``sendas_inputs`` → ``run_pipeline`` → ``write_parquet`` for both sinks
(``capital_sendas`` and the ``comprobar`` side output). Each unit's
sinks are checked against DuckDB over the same generated files; the
DuckDB oracle runs in a background child during set-up."""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
from common import Background, layer_totals

TABLES = ("lineitem", "orders", "part", "customer")

# the sendas mapping gives every patient this literal name; the
# reference splits it by its particle-gluing rule into these parts
NAME_PARTS = ("ANA", "MARIA", "DE LOS RIOS", "GOMEZ")


def _norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    return v


def table_digest(t) -> tuple[int, str]:
    """(row count, order-insensitive hash) over columns sorted by name."""
    cols = sorted(t.column_names)
    values = [t[c].to_pylist() for c in cols]
    rows = sorted(repr(tuple(_norm(v) for v in row)) for row in zip(*values))
    h = hashlib.sha256("\n".join([repr(cols)] + rows).encode()).hexdigest()
    return len(rows), h


def duckdb_oracle(in_dir: str) -> dict:
    """Expected digests of both sinks: the repository's DuckDB mirror
    of the whole DAG for ``capital_sendas``, and the unmatched-patient
    query over the same enriched rows for ``comprobar``; and the time
    the oracle took, as ``oracle_s``."""
    t0 = time.perf_counter()
    import duckdb

    from etl_sendas_spark.plans.sendas_driver_query import SENDAS_FULL_SQL

    con = duckdb.connect()
    try:
        # half the cores: it runs beside the session start and warm-up
        con.execute(f"SET threads TO {max(1, len(os.sched_getaffinity(0)) // 2)}")
        for t in TABLES:
            path = os.path.join(in_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cs = con.execute(SENDAS_FULL_SQL).arrow()
        ctes = SENDAS_FULL_SQL[: SENDAS_FULL_SQL.rindex("\nSELECT SEDE_NOMBRE")]
        n1, n2, a1, a2 = NAME_PARTS
        cp = con.execute(
            ctes
            + f"\nSELECT DISTINCT DOC_PACIENTE, '{n1}' AS nombre1, '{n2}' AS nombre2,"
            f" '{a1}' AS apellido1, '{a2}' AS apellido2 FROM enr2 WHERE ips IS NULL"
        ).arrow()
    finally:
        con.close()
    if hasattr(cs, "read_all"):
        cs, cp = cs.read_all(), cp.read_all()
    return {
        "capital_sendas": table_digest(cs), "comprobar": table_digest(cp),
        "oracle_s": time.perf_counter() - t0,
    }


class MonthEnd:
    name = "month_end_batch"
    max_units = 10**6

    @staticmethod
    def prepare_inputs(seed: int, in_dir: str, trace: bool) -> dict:
        """Generate the tables."""
        t0 = time.perf_counter()
        props = gen.gen_month_end(seed, in_dir)
        return {"props": props, "gen_s": time.perf_counter() - t0}

    @staticmethod
    def oracle(in_dir: str):
        """The oracle digests of both sinks, computed alongside set-up."""
        return Background(duckdb_oracle, in_dir)

    def __init__(self, spark, tracer, work: str, prepared: dict, oracle) -> None:
        self.spark = spark
        self.tr = tracer
        self.in_dir = os.path.join(work, "inputs")
        self.out_dir = os.path.join(work, "outputs")
        self.props = prepared["props"]
        self.oracle = oracle
        self.rows_out: dict = {}
        self.run_layers: dict = {}

    def _paths(self, k) -> dict:
        base = os.path.join(self.out_dir, f"unit-{k}")
        return {s: os.path.join(base, s) for s in ("capital_sendas", "comprobar")}

    def unit(self, k) -> tuple[float, int]:
        """One timed run; returns (wall seconds, input fact rows)."""
        from etl_sendas_spark.plans.capital_sendas import run_pipeline
        from etl_sendas_spark.plans.sendas_driver_query import MES, sendas_inputs
        from etl_sendas_spark.sources.sinks import write_parquet

        paths = self._paths(k)
        tr = self.tr
        with tr.span("unit", unit=k) as rec:
            with tr.span("sendas_inputs", k, spark_call=True):
                inputs = sendas_inputs(self.spark, self.in_dir)
            with tr.span("run_pipeline", k, spark_call=True):
                out, chk = run_pipeline(*inputs, mes=MES, parse_dates=False)
            with tr.span("write_parquet:capital_sendas", k, spark_call=True):
                write_parquet(out, paths["capital_sendas"])
            with tr.span("write_parquet:comprobar", k, spark_call=True):
                write_parquet(chk, paths["comprobar"])
        return rec["end"] - rec["start"], self.props["lineitem_rows"]

    def check(self, k) -> list[str]:
        errors = []
        for sink, path in self._paths(k).items():
            got = table_digest(pq.read_table(path))
            self.rows_out[sink] = got[0]
            want = self.oracle.result()[sink]
            if got != want:
                errors.append(
                    f"{sink}: {got[0]} rows hash {got[1][:12]} != oracle "
                    f"{want[0]} rows hash {want[1][:12]}"
                )
        return errors

    def cleanup(self, k) -> None:
        shutil.rmtree(os.path.join(self.out_dir, f"unit-{k}"), ignore_errors=True)

    def finish(self, rss) -> tuple[int, int, list[str]]:
        return 0, 0, []

    def layer_metrics(self, k) -> tuple[dict, list]:
        """Per-layer figures of traced unit ``k`` (call after check)
        and the unit's Spark jobs."""
        spans = {s["name"]: s for s in self.tr.spans if s["unit"] == k}
        jobs = [j for s in spans.values() for j in self.tr.jobs(s)]
        cs_span = spans["write_parquet:capital_sendas"]
        cp_span = spans["write_parquet:comprobar"]
        cs = layer_totals(self.tr.jobs(cs_span), lambda j: "cs").get(
            "cs", {"shuffle_write": 0, "spill": 0}
        )
        files = bytes_ = 0
        for path in self._paths(k).values():
            for f in os.listdir(path):
                if f.startswith("part-"):
                    files += 1
                    bytes_ += os.path.getsize(os.path.join(path, f))
        return {
            "capital_sendas.write_s": cs_span["end"] - cs_span["start"],
            "capital_sendas.shuffle_write_bytes": cs["shuffle_write"],
            "capital_sendas.spill_bytes": cs["spill"],
            "capital_sendas.rows_out": self.rows_out["capital_sendas"],
            "comprobar.write_s": cp_span["end"] - cp_span["start"],
            "comprobar.rows_out": self.rows_out["comprobar"],
            "sinks.bytes_written": bytes_,
            "sinks.files_written": files,
        }, jobs
