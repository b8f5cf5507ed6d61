"""The Geyser replay: the four event sources driven as one Structured
Streaming query (``availableNow``, one file per source per trigger)
through ``routed_messages(wire="flatbuffer")`` into a sink that counts
and hashes the messages of each topic and keeps a deterministic ~1/32
sample of them for the FlatBuffers round-trip check.
"""

from __future__ import annotations

import os
import time
import uuid

import oracles
from gen import ReplayTruth

from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.streaming import fbs
from solana_snapshot_etl_tools_spark.streaming import geyser as G

SCHEMAS = {
    "updates": S.ACCOUNT_UPDATES_SCHEMA,
    "slots": S.SLOT_STATUS_SCHEMA,
    "blocks": S.BLOCK_METADATA_SCHEMA,
    "txs": S.TRANSACTIONS_SCHEMA,
}
SAMPLE_MOD = 32


def _batch_summary(df):
    from pyspark.sql import functions as F

    return df.groupBy("topic").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("key", "value").cast("decimal(38,0)")).alias("h"),
        F.collect_list(
            F.when(F.pmod(F.hash("key"), F.lit(SAMPLE_MOD)) == 0, F.struct("key", "value"))
        ).alias("sample"),
    )


class ReplayResult:
    def __init__(self) -> None:
        self.counts: dict[str, int] = {}
        self.hashes: dict[str, int] = {}
        self.samples: list[tuple] = []
        self.batches: list[dict] = []  # query progress of non-empty batches
        self.wall_s = 0.0
        self.run_id = ""

    def add(self, rows) -> None:
        for r in rows:
            self.counts[r.topic] = self.counts.get(r.topic, 0) + r.n
            self.hashes[r.topic] = self.hashes.get(r.topic, 0) + int(r.h)
            self.samples.extend((r.topic, s.key, s.value) for s in r.sample)


def run_replay(spark, replay_dir: str, truth: ReplayTruth, ckpt_root: str, tracer) -> ReplayResult:
    """Replay ``replay_dir`` once to completion; returns what the sink saw
    plus Spark's own progress for each micro-batch."""
    def source(name):
        return (
            spark.readStream.schema(SCHEMAS[name]).option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(replay_dir, name))
        )

    res = ReplayResult()
    with tracer.span("streaming.replay") as root:
        routed = G.routed_messages(
            source("updates"), source("slots"), source("blocks"), source("txs"),
            owners=truth.owners, tx_programs=truth.tx_programs, wire="flatbuffer",
        )

        def sink(df, epoch_id):
            with tracer.span("geyser.batch", parent=root):
                res.add(_batch_summary(df).collect())

        t0 = time.perf_counter()
        q = (
            routed.writeStream.foreachBatch(sink).trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(ckpt_root, uuid.uuid4().hex[:8]))
            .start()
        )
        q.awaitTermination()
        res.wall_s = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"replay failed: {q.exception()}")
        res.run_id = str(q.runId)
        res.batches = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        if root is not None:
            tracer.count_jobs(root, res.run_id)
    return res


def check_replay(truth: ReplayTruth, res: ReplayResult, ref: ReplayResult | None) -> list[str]:
    bad = oracles.check_topic_counts(truth, res.counts)
    bad += oracles.check_messages(truth, res.samples)
    if not res.samples:
        bad.append("no message sampled for the round-trip check")
    if ref is not None and res.hashes != ref.hashes:
        bad.append("per-topic message hashes differ between two replays of one input")
    if len(res.batches) != truth.files_per_source:
        bad.append(f"{len(res.batches)} micro-batches, want {truth.files_per_source}")
    return bad


# --- layer probes ------------------------------------------------------------

def probe_route(spark, replay_dir: str, truth: ReplayTruth, tracer) -> dict:
    """Batch ``routed_messages`` over a whole replay in both wire formats:
    FlatBuffers into a no-op sink, JSON into a per-topic message count."""
    from pyspark.sql import functions as F

    frames = [spark.read.schema(SCHEMAS[n]).parquet(os.path.join(replay_dir, n))
              for n in ("updates", "slots", "blocks", "txs")]
    with tracer.span("geyser.route_flatbuffer"):
        G.routed_messages(*frames, owners=truth.owners, tx_programs=truth.tx_programs,
                          wire="flatbuffer").write.format("noop").mode("overwrite").save()
    with tracer.span("geyser.route_json"):  # routed, then counted per topic
        counts = G.routed_messages(
            *frames, owners=truth.owners, tx_programs=truth.tx_programs, wire="json",
        ).groupBy("topic").agg(F.count(F.lit(1)).alias("n")).collect()
    return {"messages": {r.topic: r.n for r in counts}}


FBS_SAMPLE = 200  # records per message kind


def probe_fbs(truth: ReplayTruth) -> dict[str, float]:
    """Microseconds per message for each FlatBuffers serializer, called
    directly on up to ``FBS_SAMPLE`` generated records per kind (best of
    three passes)."""
    import json

    accounts = list(truth.accounts.values())[:FBS_SAMPLE]
    blocks = list(truth.blocks.values())[:FBS_SAMPLE]
    offchain = [
        dict(pubkey=k, uri=u, slot=s, is_startup=st)
        for k, v in truth.offchain.items() for (u, s, st) in v
    ][:FBS_SAMPLE]
    slots = sorted(truth.rooted)[:FBS_SAMPLE]
    txs = [json.dumps(_tx_json(t)) for t in list(truth.txs.values())[:FBS_SAMPLE]]
    cases = {
        "account": (fbs.serialize_account, accounts),
        "block": (fbs.serialize_metadata, blocks),
        "offchain": (fbs.serialize_metadata_off_chain, offchain),
        "slot": (fbs.serialize_finalized_slot, slots),
        "transaction": (fbs.serialize_transaction_json, txs),
    }
    out = {}
    for kind, (fn, recs) in cases.items():
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for r in recs:
                fn(r)
            best = min(best, time.perf_counter() - t0)
        out[kind] = best / max(1, len(recs)) * 1e6
    return out


def _tx_json(t: dict) -> dict:
    """The ``to_json`` envelope Spark builds for a transaction row:
    binary fields base64-encoded."""
    import base64

    def b64(v):
        return None if v is None else base64.b64encode(v).decode()

    d = dict(t)
    for k in ("signature", "recent_blockhash", "message_hash"):
        d[k] = b64(d[k])
    for k in ("account_keys", "signatures", "loaded_writable", "loaded_readonly"):
        d[k] = [b64(x) for x in d[k]] if d[k] is not None else None
    d["instructions"] = [dict(i, data=b64(i["data"])) for i in d["instructions"]]
    if d["address_table_lookups"] is not None:
        d["address_table_lookups"] = [
            dict(lk, account_key=b64(lk["account_key"])) for lk in d["address_table_lookups"]
        ]
    return d
