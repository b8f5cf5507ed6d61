"""Seeded benchmark inputs with ground truth.

Every field value is drawn before it is packed (the same discipline as
``solana_snapshot_etl_tools_spark.fixtures``), so each generated file
comes with the exact rows, counts and hashes the program must produce
from it.  The same seed always gives byte-identical files: the RNG is
``random.Random(seed)``, tar members carry fixed metadata and parquet
files are written by pyarrow from fixed row lists.

Two input kinds:

- :func:`write_snapshot` — a snapshot ``.tar`` (manifest first, then
  AppendVecs) plus the five reference tables, the programs-tar member
  set and the opcode histogram it must decode to.
- :func:`write_replay` — a Geyser event replay: one directory per
  source (account updates, slot status, block metadata, transactions),
  each split into the same number of parquet files, plus the per-topic
  message counts and the records behind every message.
"""

from __future__ import annotations

import hashlib
import io
import os
import random
import tarfile
from dataclasses import dataclass, field

from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.fixtures import (
    EBPF_MNEMONICS,
    build_elf,
    pack_metadata,
    pack_mint,
    pack_multisig,
    pack_programdata,
    pack_token_account,
)
from solana_snapshot_etl_tools_spark.functions.base58 import b58encode
from solana_snapshot_etl_tools_spark.sources.appendvec import write_append_vec
from solana_snapshot_etl_tools_spark.sources.snapshot import write_accounts_db_fields

TABLE_COLUMNS = {
    "account": ("pubkey", "data_len", "owner", "lamports", "executable", "rent_epoch"),
    "token_account": (
        "pubkey", "mint", "owner", "amount", "delegate", "state", "is_native",
        "delegated_amount", "close_authority",
    ),
    "token_mint": (
        "pubkey", "mint_authority", "supply", "decimals", "is_initialized",
        "freeze_authority",
    ),
    "token_multisig": ("pubkey", "signer", "m", "n"),
    "token_metadata": (
        "pubkey", "mint", "name", "symbol", "uri", "seller_fee_basis_points",
        "primary_sale_happened", "is_mutable", "edition_nonce",
        "collection_verified", "collection_key",
    ),
}

SNAPSHOT_SLOTS = 48  # one AppendVec per slot
BASE_SLOT = 200_000_000


def _i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def canon(v):
    """One comparable form for a cell from any reader (Spark, pyarrow,
    sqlite, DuckDB): bools as ints, byte buffers as bytes."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    return v


def rows_digest(rows) -> tuple[int, str]:
    """(row count, order-independent sha256 of the canonical rows)."""
    lines = sorted(repr(tuple(canon(c) for c in r)) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


@dataclass
class SnapshotTruth:
    records: int
    unique_pubkeys: int
    input_bytes: int
    tables: dict[str, list[tuple]]
    programs: dict[str, bytes]  # "<base58>.so" -> ELF bytes
    opcodes: list[tuple]  # (opcode, mnemonic, num_programs, num_insns)
    point_keys: list[bytes]  # pubkeys for the point-lookup query
    digests: dict[str, tuple[int, str]] = field(default_factory=dict)

    def __post_init__(self):
        self.digests = {t: rows_digest(r) for t, r in self.tables.items()}


def _zipf_pick(rng: random.Random, pool: list, s: float = 1.1):
    """Draw from ``pool`` with a power-law skew towards its head, so a
    few mints and holders carry most token accounts."""
    return pool[min(int(len(pool) * rng.random() ** (1.0 + s)), len(pool) - 1)]


def write_snapshot(path: str, seed: int, n_accounts: int) -> SnapshotTruth:
    """Write a snapshot archive of ``n_accounts`` distinct pubkeys
    (about 1.5 stored versions each) to ``path``.

    Owner mix per pubkey: 40% system (empty data), 45% SPL token
    accounts, 5% mints, 1% multisig, 9% Metaplex metadata, ~0.1% (at
    least two) upgradeable ProgramData with a few-KB ELF.  About 0.5% of
    token and metadata payloads are malformed (wrong size, bad state or
    COption tag, truncated or mis-keyed Borsh) so the decoders' skip
    paths run, and a tenth of the system accounts' later versions are
    deletions (zero lamports, empty data)."""
    rng = random.Random(seed)

    def pk() -> bytes:
        return rng.randbytes(32)

    n_mints = max(8, n_accounts * 5 // 100)
    mint_keys = [pk() for _ in range(n_mints)]
    holders = [pk() for _ in range(max(16, n_accounts // 20))]
    signer_pool = [pk() for _ in range(max(2 * S.MAX_MULTISIG_SIGNERS, n_accounts // 200))]

    accounts: list[dict] = []  # one per pubkey: kind, pubkey, versions
    wv = 0

    def version(kind, owner, data, truth, *, executable=False, lamports=None):
        nonlocal wv
        wv += 1
        return dict(
            kind=kind, owner=owner, data=data, truth=truth, executable=executable,
            lamports=rng.randrange(1, 10**12) if lamports is None else lamports,
            rent_epoch=rng.randrange(300, 600), write_version=wv,
        )

    def token_version(bad: bool):
        f = dict(
            mint=_zipf_pick(rng, mint_keys),
            owner=_zipf_pick(rng, holders),
            amount=rng.randrange(0, 1 << 40) if rng.random() < 0.9 else 0,
            delegate=pk() if rng.random() < 0.1 else None,
            state=1 if rng.random() < 0.97 else 2,
            is_native=rng.randrange(1 << 30) if rng.random() < 0.02 else None,
            delegated_amount=rng.randrange(1 << 20),
            close_authority=pk() if rng.random() < 0.05 else None,
        )
        data = pack_token_account(f)
        if bad:
            b = bytearray(data)
            how = rng.randrange(3)
            if how == 0:
                b[108] = 0  # Uninitialized state: unpack fails
            elif how == 1:
                b[72] = 2  # malformed COption tag
            else:
                b = b[: rng.randrange(100, 164)]  # wrong size
            return version("token_bad", S.TOKEN_PROGRAM_ID, bytes(b), None)
        return version("token_account", S.TOKEN_PROGRAM_ID, data, f)

    def mint_version():
        f = dict(
            mint_authority=pk() if rng.random() < 0.7 else None,
            supply=rng.randrange(1, 1 << 50),
            decimals=rng.randrange(0, 10),
            is_initialized=True,
            freeze_authority=pk() if rng.random() < 0.3 else None,
        )
        return version("token_mint", S.TOKEN_PROGRAM_ID, pack_mint(f), f)

    def multisig_version():
        n = rng.randrange(1, S.MAX_MULTISIG_SIGNERS + 1)
        f = dict(m=rng.randrange(1, n + 1), n=n, signers=rng.sample(signer_pool, n))
        return version("token_multisig", S.TOKEN_PROGRAM_ID, pack_multisig(f), f)

    def metadata_version(i: int, bad: bool):
        f = dict(
            update_authority=pk(),
            mint=mint_keys[rng.randrange(n_mints)] if rng.random() < 0.5 else pk(),
            name=f"NFT #{i}",
            symbol=f"S{i % 97}",
            uri=f"https://arweave.net/{rng.randbytes(16).hex()}",
            seller_fee_basis_points=rng.randrange(10000),
            creators=[(pk(), bool(rng.randrange(2)), 100)] if rng.random() < 0.5 else None,
            primary_sale_happened=bool(rng.randrange(2)),
            is_mutable=bool(rng.randrange(2)),
            edition_nonce="absent",
        )
        level = rng.randrange(3)
        if level >= 1:
            f["edition_nonce"] = rng.randrange(256)
        if level == 2:
            f["v12"] = True
            f["token_standard"] = rng.randrange(5)
            f["collection"] = (bool(rng.randrange(2)), pk()) if rng.random() < 0.5 else None
        data = pack_metadata(f)
        if bad:
            data = data[:80] if rng.random() < 0.5 else b"\x07" + data[1:]
            return version("metadata_bad", S.MPL_METADATA_PROGRAM_ID, data, None)
        return version("token_metadata", S.MPL_METADATA_PROGRAM_ID, data, f)

    def program_version():
        ops = [rng.choice(list(EBPF_MNEMONICS)) for _ in range(rng.randrange(200, 500))]
        ops.append(0x95)
        elf = build_elf(ops)
        data = pack_programdata(elf, pk() if rng.random() < 0.5 else None, BASE_SLOT)
        return version("program", S.BPF_LOADER_UPGRADEABLE_ID, data, dict(ops=ops, elf=elf))

    # the first accounts are the mint pool itself, so token accounts and
    # metadata reference mints that exist, then two programs, so even a
    # small archive has ELFs; the rest draw their kind from the remaining
    # 95% of the owner mix
    for i in range(n_accounts):
        if i < n_mints:
            key, make = mint_keys[i], mint_version
        elif i < n_mints + 2:
            key, make = pk(), program_version
        else:
            key, u = pk(), rng.random() * 0.95
            if u < 0.40:
                make = lambda: version(  # noqa: E731
                    "system", S.SYSTEM_PROGRAM_ID, b"", None
                )
            elif u < 0.85:
                make = lambda: token_version(rng.random() < 0.005)  # noqa: E731
            elif u < 0.86:
                make = multisig_version
            elif u < 0.949:
                make = lambda i=i: metadata_version(i, rng.random() < 0.005)  # noqa: E731
            else:
                make = program_version
        versions = [make()]
        if rng.random() < 0.5:
            if versions[0]["kind"] == "system" and rng.random() < 0.1:
                versions.append(version("system", S.SYSTEM_PROGRAM_ID, b"", None, lamports=0))
            else:
                versions.append(make())
        accounts.append(dict(pubkey=key, versions=versions))

    by_slot: dict[int, list[dict]] = {}
    winners: dict[bytes, dict] = {}
    n_records = 0
    for a in accounts:
        slot = BASE_SLOT + rng.randrange(SNAPSHOT_SLOTS // 2)
        for v in a["versions"]:
            rec = dict(v, pubkey=a["pubkey"], slot=slot)
            by_slot.setdefault(slot, []).append(rec)
            n_records += 1
            cur = winners.get(a["pubkey"])
            if cur is None or (slot, rec["write_version"]) > (cur["slot"], cur["write_version"]):
                winners[a["pubkey"]] = rec
            slot += rng.randrange(1, SNAPSHOT_SLOTS // 2)

    vec_entries: dict[tuple[int, int], int] = {}
    blobs: list[tuple[str, bytes]] = []
    for vid, slot in enumerate(sorted(by_slot)):
        recs = [
            dict(
                pubkey=r["pubkey"], write_version=r["write_version"], owner=r["owner"],
                lamports=r["lamports"], executable=r["executable"],
                rent_epoch=r["rent_epoch"],
                hash=hashlib.sha256(r["pubkey"] + r["data"]).digest(),
                data=r["data"],
            )
            for r in by_slot[slot]
        ]
        blob = write_append_vec(recs)
        vec_entries[(slot, vid)] = len(blob)
        blobs.append((f"accounts/{slot}.{vid}", blob))
    top = max(by_slot)
    manifest = write_accounts_db_fields(vec_entries)

    def member(tf: tarfile.TarFile, name: str, payload: bytes) -> None:
        info = tarfile.TarInfo(name)
        info.size = len(payload)
        info.mode = 0o644
        tf.addfile(info, io.BytesIO(payload))

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with tarfile.open(path, "w", format=tarfile.USTAR_FORMAT) as tf:
        member(tf, f"snapshots/{top}/{top}", manifest)
        for name, blob in blobs:
            member(tf, name, blob)

    return SnapshotTruth(
        records=n_records,
        unique_pubkeys=len(winners),
        input_bytes=os.path.getsize(path),
        tables=_snapshot_tables(winners.values()),
        programs={
            f"{b58encode(r['pubkey'])}.so": r["truth"]["elf"]
            for r in winners.values() if r["kind"] == "program"
        },
        opcodes=_opcode_histogram(
            [r["truth"]["ops"] for r in winners.values() if r["kind"] == "program"]
        ),
        point_keys=sorted(rng.sample(sorted(winners), min(64, len(winners)))),
    )


def _snapshot_tables(win) -> dict[str, list[tuple]]:
    win = list(win)
    t: dict[str, list[tuple]] = {name: [] for name in TABLE_COLUMNS}
    for r in win:
        t["account"].append(
            (r["pubkey"], len(r["data"]), r["owner"], _i64(r["lamports"]),
             r["executable"], r["rent_epoch"])
        )
        f = r["truth"]
        if r["kind"] == "token_account":
            t["token_account"].append(
                (r["pubkey"], f["mint"], f["owner"], _i64(f["amount"]), f["delegate"],
                 f["state"], f["is_native"], f["delegated_amount"], f["close_authority"])
            )
        elif r["kind"] == "token_mint":
            t["token_mint"].append(
                (r["pubkey"], f["mint_authority"], _i64(f["supply"]), f["decimals"],
                 f["is_initialized"], f["freeze_authority"])
            )
        elif r["kind"] == "token_multisig":
            t["token_multisig"].extend(
                (r["pubkey"], s, f["m"], f["n"]) for s in f["signers"]
            )
        elif r["kind"] == "token_metadata":
            en = f["edition_nonce"]
            col = f.get("collection") if f.get("v12") else None
            t["token_metadata"].append(
                (r["pubkey"], f["mint"], f["name"], f["symbol"], f["uri"],
                 f["seller_fee_basis_points"], f["primary_sale_happened"],
                 f["is_mutable"], None if en == "absent" else en,
                 col[0] if col else None, col[1] if col else None)
            )
    return t


def _opcode_histogram(programs: list[list[int]]) -> list[tuple]:
    insns: dict[int, int] = {}
    progs: dict[int, int] = {}
    for ops in programs:
        for op in ops:
            insns[op] = insns.get(op, 0) + 1
        for op in set(ops):
            progs[op] = progs.get(op, 0) + 1
    return [
        (f"0x{op:02x}", EBPF_MNEMONICS.get(op, "unknown"), progs[op], insns[op])
        for op in sorted(insns)
    ]


# --- Geyser replay -----------------------------------------------------------

TOPIC_NAMES = (
    "update_account", "nft_offchain_data", "finalized_slot", "notify_transaction",
    "notify_block",
)
REPLAY_SOURCES = ("updates", "slots", "blocks", "txs")
SELECTED_OWNERS = (S.TOKEN_PROGRAM_ID, S.MPL_METADATA_PROGRAM_ID)
_URI_OFF, _URI_LEN = 119, 200


@dataclass
class ReplayTruth:
    events: int  # input rows over all four sources
    updates: int
    files_per_source: int
    owners: list[bytes]
    tx_programs: list[bytes]
    counts: dict[str, int]  # topic -> expected message count
    accounts: dict[tuple[str, int], dict]  # (hex key, write_version) -> update
    offchain: dict[str, set]  # hex key -> {(uri, slot, is_startup)}
    rooted: set
    blocks: dict[int, dict]  # slot -> block row with T10 defaults applied
    txs: dict[str, dict]  # hex signature -> selected transaction


def _offchain_uri(data: bytes) -> str | None:
    """Reference rule for the off-chain fan-out: MetadataV1 key, the
    whole 200-byte URI region present, valid UTF-8, NULs stripped."""
    if len(data) < _URI_OFF + _URI_LEN or data[0] != S.METADATA_V1_KEY:
        return None
    try:
        return data[_URI_OFF : _URI_OFF + _URI_LEN].decode("utf-8").rstrip("\x00")
    except UnicodeDecodeError:
        return None


def write_replay(out_dir: str, seed: int, n_updates: int, files: int) -> ReplayTruth:
    """Write a Geyser replay of ``n_updates`` account updates (plus
    slots, blocks and transactions in proportion) under ``out_dir``,
    each source split into ``files`` parquet files in event order.

    Account keys are Zipf-hot: 30% of updates land on hot keys with
    about ten versions each.  About 30% of updates are owned by the
    selected owners (SPL token, Metaplex); Metaplex accounts carry real
    MetadataV1 payloads with URIs, some with non-UTF-8 URIs.  Slots
    move through processed/confirmed/rooted, a fifth never root, some
    blocks have null time or height, and transactions fail or miss the
    program set."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    rng = random.Random(seed)

    def pk() -> bytes:
        return rng.randbytes(32)

    other_owners = [S.SYSTEM_PROGRAM_ID] + [pk() for _ in range(6)]
    tx_programs = [S.TOKEN_PROGRAM_ID, pk()]

    def owner_for() -> bytes:
        u = rng.random()
        if u < 0.20:
            return S.TOKEN_PROGRAM_ID
        if u < 0.30:
            return S.MPL_METADATA_PROGRAM_ID
        return rng.choice(other_owners)

    n_hot = max(1, n_updates * 3 // 100)  # ~10 versions per hot key
    hot = [(pk(), owner_for()) for _ in range(n_hot)]
    n_slots = max(files, n_updates // 40)
    base = BASE_SLOT

    updates, offchain = [], {}
    accounts: dict[tuple[str, int], dict] = {}
    for i in range(n_updates):
        slot = base + i * n_slots // n_updates
        if rng.random() < 0.3:
            key, owner = hot[rng.randrange(n_hot)]
        else:
            key, owner = pk(), owner_for()
        lamports = rng.randrange(1, 10**12)
        if owner == S.MPL_METADATA_PROGRAM_ID:
            bad = rng.random() < 0.05
            uri = (b"\xff\xfe" + rng.randbytes(8).hex().encode()) if bad else (
                f"https://arweave.net/{rng.randbytes(16).hex()}"
            )
            data = pack_metadata(dict(
                update_authority=pk(), mint=pk(), name=f"U{i}", symbol="UU", uri=uri,
                seller_fee_basis_points=rng.randrange(10000), creators=None,
                primary_sale_happened=False, is_mutable=True, edition_nonce="absent",
            ))
        elif owner == S.SYSTEM_PROGRAM_ID and rng.random() < 0.1:
            lamports, data = 0, b""  # deletion event
        else:
            data = rng.randbytes(rng.randrange(0, 200))
        u = dict(
            key=key, lamports=lamports, owner=owner, executable=False,
            rent_epoch=rng.randrange(300, 600), data=data, write_version=i + 1,
            slot=slot, is_startup=i < n_updates // 10,
        )
        updates.append(u)
        is_del = lamports == 0 and not data and owner == S.SYSTEM_PROGRAM_ID
        if is_del or owner in SELECTED_OWNERS:
            accounts[(key.hex().upper(), u["write_version"])] = u
        if owner == S.MPL_METADATA_PROGRAM_ID:
            uri_s = _offchain_uri(data)
            if uri_s is not None:
                offchain.setdefault(key.hex().upper(), set()).add(
                    (uri_s, slot, u["is_startup"])
                )

    slots, rooted = [], set()
    for j in range(n_slots):
        s = base + j
        stages = ["processed", "confirmed"] + (["rooted"] if rng.random() < 0.8 else [])
        for st in stages:
            slots.append(dict(slot=s, parent=s - 1 if j else None, status=st))
        if "rooted" in stages:
            rooted.add(s)

    blocks, block_truth = [], {}
    for j in range(n_slots):
        s = base + j
        bt = rng.randrange(1_600_000_000, 1_800_000_000) if rng.random() < 0.8 else None
        bh = rng.randrange(10**8) if rng.random() < 0.9 else None
        row = dict(slot=s, blockhash=rng.randbytes(32).hex(),
                   rewards='[{"lamports":%d}]' % rng.randrange(10**6),
                   block_time=bt, block_height=bh)
        blocks.append(row)
        block_truth[s] = dict(row, block_time=bt or 0, block_height=bh or 0)

    n_tx = max(files, n_updates // 8)
    txs, tx_truth = [], {}
    for i in range(n_tx):
        slot = base + i * n_slots // n_tx
        n_keys = rng.randrange(2, 7)
        keys = [pk() for _ in range(n_keys)]
        if rng.random() < 0.5:
            keys[rng.randrange(n_keys)] = rng.choice(tx_programs)
        ok = rng.random() < 0.9
        fee = rng.randrange(5000, 10**6)
        pre = [rng.randrange(10**9) for _ in range(n_keys)]
        v0 = rng.random() < 0.5
        sig = rng.randbytes(64)
        tx = dict(
            signature=sig, is_vote=rng.random() < 0.1, slot=slot, status_ok=ok,
            message_version="v0" if v0 else "legacy",
            header=dict(num_required_signatures=1, num_readonly_signed_accounts=0,
                        num_readonly_unsigned_accounts=1),
            account_keys=keys, recent_blockhash=rng.randbytes(32),
            instructions=[
                dict(program_id_index=rng.randrange(n_keys),
                     accounts=[rng.randrange(n_keys) for _ in range(3)],
                     data=rng.randbytes(rng.randrange(4, 40)))
                for _ in range(rng.randrange(1, 4))
            ],
            address_table_lookups=[dict(account_key=pk(), writable_indexes=[0, 1],
                                        readonly_indexes=[2])] if v0 else None,
            loaded_writable=[pk()] if v0 else None,
            loaded_readonly=[pk()] if v0 else None,
            message_hash=rng.randbytes(32), signatures=[sig], fee=fee,
            pre_balances=pre, post_balances=[pre[0] - fee] + pre[1:],
            inner_instructions=None,
            log_messages=[f"Program log: {i}"] if rng.random() < 0.5 else None,
            pre_token_balances=None, post_token_balances=None, rewards=None,
        )
        txs.append(tx)
        if ok and any(k in tx_programs for k in keys):
            tx_truth[sig.hex().upper()] = tx

    sources = {
        "updates": (updates, S.ACCOUNT_UPDATES_SCHEMA),
        "slots": (slots, S.SLOT_STATUS_SCHEMA),
        "blocks": (blocks, S.BLOCK_METADATA_SCHEMA),
        "txs": (txs, S.TRANSACTIONS_SCHEMA),
    }
    for name, (rows, schema) in sources.items():
        d = os.path.join(out_dir, name)
        os.makedirs(d, exist_ok=True)
        arrow_schema = to_arrow_schema(schema)
        for k in range(files):
            part = rows[k * len(rows) // files : (k + 1) * len(rows) // files]
            pq.write_table(
                pa.Table.from_pylist(part, schema=arrow_schema),
                os.path.join(d, f"part-{k:05d}.parquet"),
            )

    counts = {
        "update_account": len(accounts),
        "nft_offchain_data": sum(len(v) for v in offchain.values()),
        "finalized_slot": len(rooted),
        "notify_block": len(blocks),
        "notify_transaction": len(tx_truth),
    }
    return ReplayTruth(
        events=len(updates) + len(slots) + len(blocks) + len(txs),
        updates=len(updates), files_per_source=files, owners=list(SELECTED_OWNERS),
        tx_programs=tx_programs, counts=counts, accounts=accounts,
        offchain=offchain, rooted=rooted, blocks=block_truth, txs=tx_truth,
    )
