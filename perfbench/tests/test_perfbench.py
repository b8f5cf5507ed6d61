"""The benchmark's own tests: generator determinism, oracle sensitivity to
a one-byte corruption of each decoded output, and the metric names
against BENCHMARK.json.  No Spark session is started.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import re
import sqlite3
import sys
import tarfile

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import oracles  # noqa: E402

from solana_snapshot_etl_tools_spark.streaming import fbs  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@pytest.fixture(scope="module")
def snap(tmp_path_factory):
    d = tmp_path_factory.mktemp("snap")
    truth = gen.write_snapshot(str(d / "a.tar"), 7, 3000)
    return truth, d


@pytest.fixture(scope="module")
def replay(tmp_path_factory):
    d = tmp_path_factory.mktemp("replay")
    return gen.write_replay(str(d / "r"), 7, 800, 2)


# --- generator determinism ------------------------------------------------------

def test_snapshot_same_seed_same_bytes(tmp_path, snap):
    truth, d = snap
    again = gen.write_snapshot(str(tmp_path / "b.tar"), 7, 3000)
    with open(d / "a.tar", "rb") as a, open(tmp_path / "b.tar", "rb") as b:
        assert a.read() == b.read()
    assert again.digests == truth.digests and again.programs == truth.programs
    other = gen.write_snapshot(str(tmp_path / "c.tar"), 8, 3000)
    assert other.digests != truth.digests


def test_replay_same_seed_same_bytes(tmp_path):
    gen.write_replay(str(tmp_path / "a"), 3, 500, 2)
    gen.write_replay(str(tmp_path / "b"), 3, 500, 2)
    gen.write_replay(str(tmp_path / "c"), 4, 500, 2)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))


def test_snapshot_mix_has_every_table_and_skip_path(snap):
    truth, _ = snap
    assert all(truth.digests[t][0] > 0 for t in gen.TABLE_COLUMNS)
    assert truth.programs and truth.opcodes
    assert 1.3 < truth.records / truth.unique_pubkeys < 1.7


# --- oracles fail on a one-byte corruption ----------------------------------------

def _flip(b: bytes, i: int = 0) -> bytes:
    return b[:i] + bytes([b[i] ^ 0x01]) + b[i + 1:]


def _corrupt_first_bytes_cell(rows):
    rows = list(rows)
    for i, r in enumerate(rows):
        for j, v in enumerate(r):
            if isinstance(v, bytes):
                rows[i] = r[:j] + (_flip(v),) + r[j + 1:]
                return rows
    raise AssertionError("no bytes cell")


def _write_outputs(truth, root, corrupt_table=None, sink=None):
    """Materialize the ground truth the way the program's sinks would."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq_dir, db = os.path.join(root, "parquet"), os.path.join(root, "snapshot.db")
    con = sqlite3.connect(db)
    for table, cols in gen.TABLE_COLUMNS.items():
        rows = truth.tables[table]
        bad = _corrupt_first_bytes_cell(rows) if table == corrupt_table else rows
        os.makedirs(os.path.join(pq_dir, table))
        p_rows = bad if sink == "parquet" else rows
        s_rows = bad if sink == "sqlite" else rows
        pq.write_table(
            pa.Table.from_pylist([dict(zip(cols, r)) for r in p_rows]),
            os.path.join(pq_dir, table, "part-0.parquet"),
        )
        con.execute(f"CREATE TABLE {table} ({', '.join(cols)})")
        con.executemany(f"INSERT INTO {table} VALUES ({', '.join('?' * len(cols))})",
                        [tuple(gen.canon(v) for v in r) for r in s_rows])
    con.commit()
    con.close()
    return pq_dir, db


def test_table_oracle_passes_on_truth(tmp_path, snap):
    truth, _ = snap
    pq_dir, db = _write_outputs(truth, str(tmp_path))
    counts = {t: truth.digests[t][0] for t in gen.TABLE_COLUMNS}
    assert oracles.check_tables(truth, pq_dir, db, {"parquet": counts, "sqlite": counts}) == []


@pytest.mark.parametrize("sink", ["parquet", "sqlite"])
@pytest.mark.parametrize("table", list(gen.TABLE_COLUMNS))
def test_table_oracle_catches_one_byte(tmp_path, snap, table, sink):
    truth, _ = snap
    pq_dir, db = _write_outputs(truth, str(tmp_path), table, sink)
    bad = oracles.check_tables(truth, pq_dir, db)
    assert any(b.startswith(f"{sink}.{table}") for b in bad)
    assert any("differ" in b for b in bad)


def _tar(path, members):
    with tarfile.open(path, "w") as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))


def test_programs_oracle(tmp_path, snap):
    truth, _ = snap
    _tar(tmp_path / "ok.tar", truth.programs)
    assert oracles.check_programs(truth, str(tmp_path / "ok.tar")) == []
    name = sorted(truth.programs)[0]
    elf = truth.programs[name]
    _tar(tmp_path / "bad.tar", dict(truth.programs, **{name: _flip(elf, len(elf) // 2)}))
    assert oracles.check_programs(truth, str(tmp_path / "bad.tar"))


def test_opcode_oracle(snap):
    truth, _ = snap
    assert oracles.check_opcodes(truth, truth.opcodes) == []
    op, mn, progs, insns = truth.opcodes[0]
    assert oracles.check_opcodes(truth, [(op, mn, progs, insns + 1)] + truth.opcodes[1:])


def test_topic_count_oracle(replay):
    assert oracles.check_topic_counts(replay, dict(replay.counts)) == []
    off = dict(replay.counts, notify_block=replay.counts["notify_block"] - 1)
    assert oracles.check_topic_counts(replay, off)


def _messages(truth):
    """One correctly serialized message per topic, with the bytes that
    identify it (for a targeted corruption)."""
    (k, _wv), acc = next(iter(truth.accounts.items()))
    okey, offs = next(iter(truth.offchain.items()))
    uri, slot, st = next(iter(offs))
    from solana_snapshot_etl_tools_spark.functions.base58 import b58encode

    rooted = min(truth.rooted)
    bslot, block = next(iter(truth.blocks.items()))
    sig, tx = next(iter(truth.txs.items()))
    return [
        ("update_account", k, fbs.serialize_account(acc), acc["key"]),
        ("nft_offchain_data", okey, fbs.serialize_metadata_off_chain(dict(
            pubkey=b58encode(bytes.fromhex(okey)), uri=uri, slot=slot, is_startup=st)),
         uri.encode()),
        ("finalized_slot", str(rooted), fbs.serialize_finalized_slot(rooted),
         rooted.to_bytes(8, "little")),
        ("notify_block", str(bslot), fbs.serialize_metadata(block), block["blockhash"].encode()),
        ("notify_transaction", sig, fbs.serialize_transaction(tx), tx["signature"]),
    ]


def test_message_oracle(replay):
    msgs = _messages(replay)
    assert oracles.check_messages(replay, [(t, k, v) for t, k, v, _ in msgs]) == []
    for topic, key, value, marker in msgs:
        i = value.find(marker)
        assert i >= 0, topic
        bad = oracles.check_messages(replay, [(topic, key, _flip(value, i + len(marker) // 2))])
        assert bad, topic


def test_query_oracle():
    want = oracles.canon_rows([(b"\x01\x02", 5, "a"), (b"\x03", 7, "b")])
    assert oracles.check_query("q", [(bytearray(b"\x03"), 7, "b"), (b"\x01\x02", 5, "a")], want) == []
    assert oracles.check_query("q", [(b"\x03", 7, "b"), (b"\x01\x03", 5, "a")], want)


# --- metric names ------------------------------------------------------------------

@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_shape(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"] and isinstance(spec["run_seconds"], int)
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in spec[k]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert UNIT_RE.match(m["unit"]) and m["better"] in ("lower", "higher")
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT_RE.match(m["unit"])
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in spec["end_to_end"])
    import run

    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["snapshot_etl", "geyser_replay"])
def test_printed_names_match_spec(spec, capsys, trace, workload):
    import run

    declared = spec["per_layer"] if trace else spec["end_to_end"]
    r = run.Run(argparse.Namespace(trace=trace, workload=workload), run.Tracer(False))
    r.attempted = 1
    values = {m["name"]: 1.5 for m in declared}
    if trace:
        r.layers = values
        setup = {}
    else:
        r.e2e = {k: v for k, v in values.items() if k not in ("setup_s", "peak_rss_mb")}
        setup = {"setup_s": 1.5, "peak_rss_mb": 1.5}
    assert run.emit(r, spec, setup) == 0
    out = capsys.readouterr().out.strip().splitlines()
    result = json.loads(out[-1])
    assert set(result["metrics"]) == set(values)
    for line in out[:-1]:
        name, _, rest = line.partition(" = ")
        if rest:
            assert NAME_RE.match(name), line
    r.layers = r.e2e = {"not_declared": 1.0}
    with pytest.raises(RuntimeError):
        run.emit(r, spec, {} if trace else setup)


def test_traced_job_wraps_and_restores_main_calls(monkeypatch):
    """A traced CLI job runs ``main`` itself; each layer call it looks up
    at call time runs inside a span, and the package is left unchanged."""
    import etl
    from spans import Tracer

    for mod, attr, _ in etl.JOB_CALLS:
        monkeypatch.setattr(mod, attr, lambda *a, _attr=attr, **kw: (_attr, a))
    before = [getattr(mod, attr) for mod, attr, _ in etl.JOB_CALLS]
    tracer = Tracer(True)
    with etl._traced_calls(tracer):
        for mod, attr, _ in etl.JOB_CALLS:
            assert getattr(mod, attr)(1) == (attr, (1,))
    assert [s["name"] for s in tracer.spans] == [name for _, _, name in etl.JOB_CALLS]
    assert [getattr(mod, attr) for mod, attr, _ in etl.JOB_CALLS] == before
    with etl._traced_calls(Tracer(False)):
        assert [getattr(mod, attr) for mod, attr, _ in etl.JOB_CALLS] == before
