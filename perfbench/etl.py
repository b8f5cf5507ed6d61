"""The snapshot-ETL job and its layer probes.

``run_job`` is the CLI's whole job on one archive: ``__main__.main`` with
``--parquet-out --sqlite-out --programs-out``, then the opcode
histogram over the programs tar it wrote (the reference's
``solana-opcode-stats`` step).  With tracing on, the same ``main`` runs,
with each package function it looks up at call time wrapped in a span
for the duration of the job.
"""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import shutil
import time

import oracles
from gen import SnapshotTruth

from solana_snapshot_etl_tools_spark import __main__ as cli
from solana_snapshot_etl_tools_spark.operators import decoders as D
from solana_snapshot_etl_tools_spark.operators import sinks as K
from solana_snapshot_etl_tools_spark.operators.opcode import opcode_stats
from solana_snapshot_etl_tools_spark.plans import build_tables as BT
from solana_snapshot_etl_tools_spark.sources import loader
from solana_snapshot_etl_tools_spark.sources import snapshot as SRC

# (module, attribute, span name) of each layer call ``cli.main`` makes
JOB_CALLS = (
    (loader, "load_snapshot", "sources.load"),
    (BT, "build_sqlite", "build_tables.sqlite"),
    (BT, "build_all_tables", "build_tables.parquet"),
    (K, "write_programs_tar", "sinks.programs_tar"),
)


def _paths(out: str) -> dict[str, str]:
    return dict(
        parquet=os.path.join(out, "parquet"), sqlite=os.path.join(out, "snapshot.db"),
        programs=os.path.join(out, "programs.tar"), work=os.path.join(out, "extract"),
    )


@contextlib.contextmanager
def _traced_calls(tracer):
    """Wrap each of ``JOB_CALLS`` in a span until the block exits."""
    if not tracer.enabled:
        yield
        return

    def wrap(fn, name):
        @functools.wraps(fn)
        def traced(*args, **kw):
            with tracer.span(name):
                return fn(*args, **kw)
        return traced

    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in JOB_CALLS]
    for (mod, attr, fn), (_, _, name) in zip(saved, JOB_CALLS):
        setattr(mod, attr, wrap(fn, name))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def run_job(spark, archive: str, out: str, tracer) -> tuple[float, dict, list]:
    """One complete job into a fresh ``out``.  Returns (wall seconds,
    the row counts the program reported per sink, opcode rows)."""
    shutil.rmtree(out, ignore_errors=True)
    p = _paths(out)
    argv = [archive, "--parquet-out", p["parquet"], "--sqlite-out", p["sqlite"],
            "--programs-out", p["programs"], "--work-dir", p["work"]]
    buf = io.StringIO()
    t0 = time.perf_counter()
    with tracer.span("etl.job"):
        with _traced_calls(tracer), contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        with tracer.span("opcode.stats"):
            ops = opcode_stats(K.read_programs_tar(spark, p["programs"])).collect()
    wall = time.perf_counter() - t0
    if rc != 0:
        raise RuntimeError(f"CLI exited {rc}")
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    return wall, {"parquet": rep["parquet"]["rows"], "sqlite": rep["sqlite"]["rows"]}, ops


def check_job(truth: SnapshotTruth, out: str, reported: dict, ops) -> list[str]:
    p = _paths(out)
    return (
        oracles.check_tables(truth, p["parquet"], p["sqlite"], reported)
        + oracles.check_programs(truth, p["programs"])
        + oracles.check_opcodes(truth, ops)
    )


# --- layer probes ------------------------------------------------------------

DECODED = {
    "account": D.account_table,
    "token_account": D.token_account_table,
    "token_mint": D.token_mint_table,
    "token_multisig": D.token_multisig_table,
    "token_metadata": D.token_metadata_table,
    "program_elfs": D.program_elfs_table,
}


def _noop(df) -> None:
    """Run ``df`` to completion without a sink's cost."""
    df.write.format("noop").mode("overwrite").save()


def _rows_to_noop(df) -> int:
    from pyspark.sql import Observation, functions as F

    obs = Observation()
    _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return obs.get["n"]


def probe_scan_decoders(spark, archive: str, out: str, tracer) -> tuple[dict, object]:
    """Time each snapshot layer that runs as parallel tasks and that the
    CLI job does not isolate: archive extract, manifest parse, the
    AppendVec scan into a no-op sink, and the dedup and each decoder from
    a cached raw frame (so the scan is not counted again).  Returns
    (counts, raw frame); times are read from ``tracer``'s spans."""
    shutil.rmtree(out, ignore_errors=True)
    res: dict = {}
    with tracer.span("sources.extract_archive"):
        accounts_dir, blob = SRC.extract_archive(archive, _paths(out)["work"])
    with tracer.span("sources.parse_manifest"):
        manifest = SRC.parse_manifest(blob)
    with tracer.span("sources.scan"):
        raw = SRC.scan_unpacked(spark, accounts_dir, manifest)
        res["records"] = _rows_to_noop(raw)
    cached = raw.persist()
    with tracer.span("sources.cache"):
        cached.count()
    try:
        with tracer.span("decoders.dedup"):
            res["unique"] = _rows_to_noop(D.dedup_last_write_wins(cached))
        for name, fn in DECODED.items():
            with tracer.span(f"decoders.{name}"):
                res[f"rows.{name}"] = _rows_to_noop(fn(cached))
    finally:
        cached.unpersist(blocking=True)
    return res, raw
