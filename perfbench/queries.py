"""The read-side SQL mix over the five materialized tables, run by Spark
SQL and checked against DuckDB over the same parquet files.

Each query is written once with ``{account}``-style table placeholders:
Spark fills them with temp-view names, DuckDB with ``read_parquet``
calls.  Results are compared as sorted canonical rows, so ties and
result order never matter.
"""

from __future__ import annotations

import os
import time

import oracles
from gen import TABLE_COLUMNS

QUERIES = {
    # NFT holdings: who holds each Metaplex-described token
    "nft_holdings": """
        SELECT ta.owner AS holder, tm.mint, tm.name, tm.symbol, ta.amount
        FROM {token_account} ta JOIN {token_metadata} tm ON ta.mint = tm.mint
        WHERE ta.amount > 0""",
    "top_holders": """
        SELECT mint, owner, amount FROM (
            SELECT mint, owner, amount,
                   row_number() OVER (PARTITION BY mint ORDER BY amount DESC, pubkey) AS rn
            FROM {token_account}) t
        WHERE rn <= 10""",
    "lamports_by_owner": """
        SELECT owner, count(*) AS accounts, sum(lamports) AS lamports
        FROM {account} GROUP BY owner""",
    "mint_supply_gap": """
        SELECT m.pubkey AS mint, m.supply, coalesce(sum(ta.amount), 0) AS held,
               count(ta.pubkey) AS holders
        FROM {token_mint} m LEFT JOIN {token_account} ta ON ta.mint = m.pubkey
        GROUP BY m.pubkey, m.supply""",
    "point_lookup": """
        SELECT pubkey, owner, lamports, data_len FROM {account}
        WHERE pubkey IN ({keys})""",
    "multisig_fanin": """
        SELECT signer, count(*) AS multisigs, min(m) AS min_m
        FROM {token_multisig} GROUP BY signer HAVING count(*) > 1""",
}


def render(sql: str, tables: dict[str, str], keys: list[bytes]) -> str:
    lits = ", ".join(f"unhex('{k.hex()}')" for k in keys)
    return sql.format(keys=lits, **tables)


def duckdb_expected(parquet_dir: str, keys: list[bytes]) -> dict[str, list[tuple]]:
    import duckdb

    tables = {
        t: f"read_parquet('{os.path.join(parquet_dir, t)}/*.parquet')" for t in TABLE_COLUMNS
    }
    con = duckdb.connect()
    try:
        return {
            name: oracles.canon_rows(con.execute(render(q, tables, keys)).fetchall())
            for name, q in QUERIES.items()
        }
    finally:
        con.close()


def register(spark, parquet_dir: str) -> dict[str, str]:
    views = {}
    for t in TABLE_COLUMNS:
        spark.read.parquet(os.path.join(parquet_dir, t)).createOrReplaceTempView(f"pb_{t}")
        views[t] = f"pb_{t}"
    return views


ROUNDS = 2  # the first round warms plans and caches and is not timed


def probe_queries(spark, parquet_dir: str, keys: list[bytes], tracer):
    """Run the mix ``ROUNDS`` times; every result is checked against
    DuckDB.  Returns (median ms per timed round, per query; mismatches)."""
    want = duckdb_expected(parquet_dir, keys)
    views = register(spark, parquet_dir)
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    bad: list[str] = []
    with tracer.span("query.mix"):
        for rnd in range(ROUNDS):
            for name, q in QUERIES.items():
                with tracer.span(f"query.{name}"):
                    t0 = time.perf_counter()
                    rows = spark.sql(render(q, views, keys)).collect()
                    dt = time.perf_counter() - t0
                if rnd:
                    times[name].append(dt * 1e3)
                bad += oracles.check_query(name, rows, want[name])
    return {n: sorted(v)[len(v) // 2] for n, v in times.items()}, sorted(set(bad))
