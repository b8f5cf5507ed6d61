"""Correctness oracles: each compares one program output with the
generator's ground truth (or, for SQL, with DuckDB over the same parquet
files) and returns a list of mismatch descriptions, empty when correct.

They read outputs with readers independent of the program under test:
pyarrow for parquet, the stdlib ``sqlite3`` and ``tarfile`` modules,
DuckDB for SQL, and the FlatBuffers readers for message round-trips.
"""

from __future__ import annotations

import os
import sqlite3
import tarfile

from gen import TABLE_COLUMNS, ReplayTruth, SnapshotTruth, canon, rows_digest

from solana_snapshot_etl_tools_spark.functions.base58 import b58encode
from solana_snapshot_etl_tools_spark.streaming import fbs


def parquet_rows(table_dir: str, columns) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(table_dir, columns=list(columns))
    return list(zip(*(t.column(c).to_pylist() for c in columns))) if t.num_rows else []


def sqlite_rows(db_path: str, table: str, columns) -> list[tuple]:
    con = sqlite3.connect(f"file:{db_path}?mode=ro", uri=True)
    try:
        return con.execute(f"SELECT {', '.join(columns)} FROM {table}").fetchall()
    finally:
        con.close()


def check_tables(truth: SnapshotTruth, parquet_dir: str | None, db_path: str | None,
                 reported: dict | None = None) -> list[str]:
    """Row count and value hash of each of the five tables, in parquet
    and in ``snapshot.db``, against the ground truth; the two sinks must
    also agree with each other.  ``reported`` holds the row counts the
    program itself reported per sink."""
    bad = []
    for table, cols in TABLE_COLUMNS.items():
        want = truth.digests[table]
        got = {}
        if parquet_dir is not None:
            got["parquet"] = rows_digest(parquet_rows(os.path.join(parquet_dir, table), cols))
        if db_path is not None:
            got["sqlite"] = rows_digest(sqlite_rows(db_path, table, cols))
        for sink, d in got.items():
            if d != want:
                bad.append(f"{sink}.{table}: {d[0]} rows hash {d[1][:12]}, "
                           f"want {want[0]} rows hash {want[1][:12]}")
            if reported and reported.get(sink, {}).get(table) != want[0]:
                bad.append(f"{sink}.{table}: program reported "
                           f"{reported[sink].get(table)} rows, want {want[0]}")
        if len(set(got.values())) > 1:
            bad.append(f"{table}: snapshot.db and parquet tables differ")
    return bad


def programs_tar_members(tar_path: str) -> dict[str, bytes]:
    with tarfile.open(tar_path, "r") as tf:
        return {m.name: tf.extractfile(m).read() for m in tf.getmembers()}


def check_programs(truth: SnapshotTruth, tar_path: str) -> list[str]:
    got = programs_tar_members(tar_path)
    if got == truth.programs:
        return []
    missing = sorted(set(truth.programs) - set(got))
    extra = sorted(set(got) - set(truth.programs))
    wrong = sorted(k for k in set(got) & set(truth.programs) if got[k] != truth.programs[k])
    return [f"programs tar: {len(missing)} missing, {len(extra)} extra, "
            f"{len(wrong)} with wrong ELF bytes"]


def check_opcodes(truth: SnapshotTruth, rows) -> list[str]:
    got = [tuple(canon(v) for v in r) for r in rows]
    if got == truth.opcodes:
        return []
    return [f"opcode histogram: {len(got)} rows differ from the {len(truth.opcodes)} expected"]


# --- Geyser replay -----------------------------------------------------------

def check_topic_counts(truth: ReplayTruth, counts: dict[str, int]) -> list[str]:
    return [
        f"topic {t}: {counts.get(t, 0)} messages, want {n}"
        for t, n in sorted(truth.counts.items()) if counts.get(t, 0) != n
    ] + [f"unexpected topic {t}" for t in sorted(set(counts) - set(truth.counts))]


def check_messages(truth: ReplayTruth, samples) -> list[str]:
    """FlatBuffers round-trip of sampled (topic, key, value) messages:
    each must decode to the generated record it was routed from."""
    bad = []
    for topic, key, value in samples:
        value = bytes(value)
        try:
            ok = _message_ok(truth, topic, key, value)
        except Exception as e:  # a buffer the reader cannot walk is a failure
            ok = False
            key = f"{key} ({type(e).__name__})"
        if not ok:
            bad.append(f"{topic} message {key} does not round-trip")
    return bad


def _message_ok(truth: ReplayTruth, topic: str, key: str, value: bytes) -> bool:
    if topic == "update_account":
        d = fbs.deserialize_account(value)
        want = truth.accounts.get((key, d["write_version"]))
        return want is not None and d["key"].hex().upper() == key and all(
            d[f] == want[f] for f in ("lamports", "owner", "executable", "rent_epoch",
                                     "slot", "is_startup")
        ) and d["data"] == (want["data"] or b"")
    if topic == "nft_offchain_data":
        d = fbs.deserialize_metadata_off_chain(value)
        return (d["pubkey"] == b58encode(bytes.fromhex(key))
                and (d["uri"], d["slot"], d["is_startup"]) in truth.offchain.get(key, ()))
    if topic == "finalized_slot":
        s = fbs.deserialize_finalized_slot(value)
        return s == int(key) and s in truth.rooted
    if topic == "notify_block":
        d = fbs.deserialize_metadata(value)
        want = truth.blocks.get(int(key))
        return want is not None and all(
            d[f] == want[f] for f in ("slot", "blockhash", "rewards", "block_time",
                                     "block_height")
        )
    if topic == "notify_transaction":
        d = fbs.deserialize_transaction(value)
        want = truth.txs.get(key)
        return want is not None and (
            d["signature"] == want["signature"] and d["slot"] == want["slot"]
            and d["account_keys"] == want["account_keys"]
            and d["message_version"] == want["message_version"]
        )
    return False


# --- SQL ---------------------------------------------------------------------

def canon_rows(rows) -> list[tuple]:
    return sorted((tuple(canon(v) for v in r) for r in rows), key=repr)


def check_query(name: str, got, want_canon: list[tuple]) -> list[str]:
    got_c = canon_rows(got)
    if got_c == want_canon:
        return []
    return [f"query {name}: {len(got_c)} rows differ from DuckDB's {len(want_canon)}"]
