#!/usr/bin/env python3
"""Snapshot-ETL benchmark: one command, seeded inputs, checked outputs.

    python3 perfbench/run.py --workload snapshot_etl --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client; see BENCHMARK.json for the why):

- ``snapshot_etl``: the CLI's whole job on a generated snapshot archive
  (parquet + snapshot.db + programs tar), then the opcode histogram.
- ``geyser_replay``: a generated Geyser event replay driven as a
  Structured Streaming query through the FlatBuffers topic router.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans around every layer call, then the layer sweep (every
layer's public function on small probe inputs, the SQL mix checked
against DuckDB, and a ``local[1]`` repeat of the snapshot probes) and
prints the per-layer metrics.  Human-readable lines come first; the last
stdout line is one JSON object.  Any output that disagrees with its
ground truth makes the run exit 1.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

import harness

sys.path.insert(0, harness.ROOT)

import etl  # noqa: E402
import gen  # noqa: E402
import oracles  # noqa: E402
import queries  # noqa: E402
import replay  # noqa: E402
from spans import Tracer  # noqa: E402

from solana_snapshot_etl_tools_spark.plans import build_tables as BT  # noqa: E402

SNAPSHOT_ACCOUNTS = 5_000  # ~7.5k stored records, ~1.9 MB archive
PROBE_ACCOUNTS = 1_000  # the layer sweep's archive
REPLAY_FILES, UPDATES_PER_FILE = 8, 2_000  # one micro-batch per file
WARM_FILES = 2  # untimed warm-up replay before the timed ones
PROBE_FILES, PROBE_UPDATES_PER_FILE = 3, 1_000

SHOWN_NAMES = {  # the per-workload names the end-to-end metrics print under
    "snapshot_etl": {"records_per_s": "etl_accounts_per_s", "op_ms.p50": "etl_job_ms.p50"},
    "geyser_replay": {"records_per_s": "stream_events_per_s", "op_ms.p50": "stream_batch_ms.p50"},
}


def load_spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def percentile_name(samples: list[float]) -> tuple[str, float] | None:
    """Highest whole percentile with at least ten samples above it."""
    n = len(samples)
    if n < 20:
        return None
    nn = math.floor(100 * (1 - 10 / n))
    return f"p{nn}", statistics.quantiles(samples, n=100, method="inclusive")[nn - 1]


class Run:
    def __init__(self, args, tracer: Tracer) -> None:
        self.args = args
        self.tracer = tracer
        self.work = harness.WORK
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: list[str] = []  # extra human-readable lines
        self.op_roots: list[dict] = []
        self.replays: list = []  # the workload's timed replays

    def record(self, bad: list[str], ops: int = 1) -> None:
        self.attempted += ops
        if bad:
            self.failed += ops
            self.problems += bad

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)


# --- inputs --------------------------------------------------------------------

def make_inputs(w: str, seed: int, traced: bool, work: str) -> dict:
    """Generate everything the run reads, before any timing."""
    inp: dict = {}
    if w == "snapshot_etl":
        inp["archive"] = os.path.join(work, "snapshot.tar")
        inp["truth"] = gen.write_snapshot(inp["archive"], seed, SNAPSHOT_ACCOUNTS)
    else:
        inp["replay"] = os.path.join(work, "replay")
        inp["truth"] = gen.write_replay(inp["replay"], seed, REPLAY_FILES * UPDATES_PER_FILE,
                                        REPLAY_FILES)
        inp["warm"] = os.path.join(work, "replay_warm")
        inp["warm_truth"] = gen.write_replay(inp["warm"], seed * 1000 + 1,
                                             WARM_FILES * UPDATES_PER_FILE, WARM_FILES)
    if traced:
        inp["probe_archive"] = os.path.join(work, "probe.tar")
        inp["probe_truth"] = gen.write_snapshot(inp["probe_archive"], seed * 1000 + 2,
                                                PROBE_ACCOUNTS)
        inp["probe_replay"] = os.path.join(work, "probe_replay")
        inp["probe_replay_truth"] = gen.write_replay(
            inp["probe_replay"], seed * 1000 + 3, PROBE_FILES * PROBE_UPDATES_PER_FILE,
            PROBE_FILES)
    return inp


# --- workloads -----------------------------------------------------------------

def _timed(run: Run, op) -> list:
    """Call ``op()`` at least once and until ``--seconds`` have passed;
    returns its results in order."""
    t0 = time.perf_counter()
    out = [op()]
    while time.perf_counter() - t0 < run.args.seconds:
        out.append(op())
    return out


def snapshot_etl(run: Run, spark, inp: dict) -> None:
    truth, out = inp["truth"], run.path("out")

    def job(tracer) -> float:
        wall, reported, ops = etl.run_job(spark, inp["archive"], out, tracer)
        run.record(etl.check_job(truth, out, reported, ops))
        return wall

    if not run.tracer.enabled:
        # the first job pays JIT and plan code generation, so it is checked
        # but not timed; a traced run instead traces that first job, since
        # a second job would not fit its time limit beside the layer sweep
        run.notes.append(f"untimed first job = {job(Tracer(False)):.2f} s")
    walls = _timed(run, lambda: job(run.tracer))
    run.op_roots = run.tracer.named("etl.job")
    run.e2e["records_per_s"] = truth.records / statistics.median(walls)
    run.e2e["op_ms.p50"] = statistics.median(walls) * 1e3
    run.notes.append(f"etl jobs timed = {len(walls)} ({truth.records} account records, "
                     f"{truth.input_bytes} archive bytes each): "
                     + ", ".join(f"{w:.2f}" for w in walls) + " s")


def geyser_replay(run: Run, spark, inp: dict) -> None:
    # a long-running consumer: an untimed replay of a separate input first
    ckpt = run.path("checkpoints")
    warm = replay.run_replay(spark, inp["warm"], inp["warm_truth"], ckpt, Tracer(False))
    run.record(replay.check_replay(inp["warm_truth"], warm, None), len(warm.batches))
    truth, results = inp["truth"], []

    def once():
        res = replay.run_replay(spark, inp["replay"], truth, ckpt, run.tracer)
        run.record(replay.check_replay(truth, res, results[0] if results else None),
                   max(1, len(res.batches)))
        results.append(res)

    _timed(run, once)
    run.op_roots = run.tracer.named("streaming.replay")
    batch_ms = [b["durationMs"]["triggerExecution"] for r in results for b in r.batches]
    run.e2e["records_per_s"] = truth.events / statistics.median(r.wall_s for r in results)
    run.e2e["op_ms.p50"] = statistics.median(batch_ms)
    tail = percentile_name(batch_ms)
    run.notes.append(f"micro-batches timed = {len(batch_ms)} over {len(results)} replays of "
                     f"{truth.events} events: "
                     + ", ".join(f"{r.wall_s:.2f}" for r in results) + " s")
    if tail:
        run.notes.append(f"stream_batch_ms.{tail[0]} = {tail[1]:.1f} ms (n={len(batch_ms)})")
    run.replays = results


WORKLOADS = {"snapshot_etl": snapshot_etl, "geyser_replay": geyser_replay}


# --- traced run: layer sweep ----------------------------------------------------

COUNTED_CALLS = ("sources.scan", "decoders.dedup", "decoders.token_metadata", "etl.job",
                 "build_tables.sqlite", "build_tables.parquet", "sinks.programs_tar",
                 "opcode.stats", "geyser.route_flatbuffer", "streaming.replay", "query.mix")
LAYERS = ("sources", "decoders", "build_tables", "sinks", "opcode", "geyser",
          "streaming", "query")


def layer_sweep(run: Run, spark, inp: dict) -> None:
    """Every layer's public function on the probe inputs, each inside a
    span, and the metrics of the whole sweep.  The snapshot sinks are
    timed inside a traced CLI job: in ``snapshot_etl`` the workload's
    last timed job, elsewhere one on the probe archive."""
    tr, L = run.tracer, run.layers
    ptruth, rtruth = inp["probe_truth"], inp["probe_replay_truth"]
    with tr.span("sweep") as root:
        res, _ = etl.probe_scan_decoders(spark, inp["probe_archive"], run.path("probe"), tr)
        if run.args.workload == "snapshot_etl":  # ran traced and checked
            job, job_out, qtruth = run.op_roots[-1], run.path("out"), inp["truth"]
        else:
            job_out, qtruth = run.path("probe_job"), ptruth
            _, reported, ops = etl.run_job(spark, inp["probe_archive"], job_out, tr)
            run.record(etl.check_job(ptruth, job_out, reported, ops))
            job = tr.named("etl.job")[-1]
        route = replay.probe_route(spark, inp["probe_replay"], rtruth, tr)
        run.record(oracles.check_topic_counts(rtruth, route["messages"]))
        if not run.replays:
            stream = replay.run_replay(spark, inp["probe_replay"], rtruth,
                                       run.path("checkpoints"), tr)
            run.record(replay.check_replay(rtruth, stream, None), len(stream.batches))
            run.replays = [stream]
        parquet_dir = os.path.join(job_out, "parquet")
        q_ms, bad = queries.probe_queries(spark, parquet_dir, qtruth.point_keys, tr)
        run.record(bad, len(queries.QUERIES))
    fbs_us = replay.probe_fbs(rtruth)

    sweep = tr.descendants(root)
    job_spans = tr.descendants(job)

    def t(name: str, spans=sweep) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    for name in ("extract_archive", "parse_manifest", "scan"):
        L[f"sources.{name}_s"] = t(f"sources.{name}")
    L["sources.records"] = res["records"]
    L["sources.input_bytes"] = os.path.getsize(inp["probe_archive"])
    L["decoders.dedup_s"] = t("decoders.dedup")
    for name in etl.DECODED:
        L[f"decoders.{name}_s"] = t(f"decoders.{name}")
        L[f"decoders.rows.{name}"] = res[f"rows.{name}"]
    L["decoders.kept_frac"] = res["unique"] / res["records"]
    L["build_tables.parquet_s"] = t("build_tables.parquet", job_spans)
    L["build_tables.sqlite_s"] = t("build_tables.sqlite", job_spans)
    L["build_tables.parquet_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(parquet_dir) for f in fs if f.endswith(".parquet")
    )
    L["build_tables.sqlite_bytes"] = os.path.getsize(os.path.join(job_out, "snapshot.db"))
    L["sinks.programs_tar_s"] = t("sinks.programs_tar", job_spans)
    L["opcode.stats_s"] = t("opcode.stats", job_spans)

    for call in COUNTED_CALLS:
        # a geyser_replay run replays its own input, not the probe replay
        tops = [s for s in sweep if s["name"] == call] or tr.named(call)[-1:]
        subtree = tops + [d for s in tops for d in tr.descendants(s)]
        for k in ("jobs", "stages", "tasks"):
            L[f"spark.{k}.{call}"] = sum(s[k] for s in subtree)

    msgs = route["messages"]
    L["geyser.select_frac"] = msgs.get("update_account", 0) / rtruth.updates
    for topic in gen.TOPIC_NAMES:
        L[f"geyser.messages.{topic}"] = msgs.get(topic, 0)
    L["geyser.route_flatbuffer_s"] = t("geyser.route_flatbuffer")
    L["geyser.route_json_s"] = t("geyser.route_json")
    for kind, us in fbs_us.items():
        L[f"fbs.serialize_us_per_msg.{kind}"] = us
    b = [x for r in run.replays for x in r.batches]
    L["streaming.batches"] = len(b)
    L["streaming.trigger_ms"] = statistics.median(x["durationMs"]["triggerExecution"] for x in b)
    L["streaming.add_batch_ms"] = statistics.median(x["durationMs"]["addBatch"] for x in b)
    L["streaming.input_rows_per_s"] = statistics.median(x["processedRowsPerSecond"] for x in b)
    for name, ms in q_ms.items():
        L[f"query.{name}_ms"] = ms


def single_core_speedups(run: Run, spark, archive: str, n_cpus: int):
    """Probe the snapshot layers that run as parallel tasks on a fresh
    ``local[1]`` context, then on a fresh ``local[n_cpus]`` one, both in
    the JVM the run has already warmed, and report each layer's
    ``local[1]`` time over its ``local[n_cpus]`` time.  The SQLite and
    programs-tar sinks and the opcode read-back stream through the single
    driver thread, so they get no figure.  Returns the live session."""
    secs: dict[int, dict[str, float]] = {}
    for cpus in (1, n_cpus):
        run.tracer.bind(None)
        spark.stop()
        spark, _, _ = harness.start_session(Tracer(False), cpus)
        tr = Tracer(True)
        tr.bind(spark.sparkContext)
        out = run.path(f"local{cpus}")
        _, raw = etl.probe_scan_decoders(spark, archive, out, tr)
        with tr.span("build_tables.parquet"):
            BT.build_all_tables(raw, os.path.join(out, "parquet"))
        secs[cpus] = {}
        for s in tr.spans:
            secs[cpus][s["name"]] = secs[cpus].get(s["name"], 0.0) + s["end"] - s["start"]
    one, many = secs[1], secs[n_cpus]
    for p in ("sources.scan", "build_tables.parquet"):
        run.layers[f"speedup.{p}"] = one[p] / many[p]
    dec = [f"decoders.{n}" for n in ("dedup", *etl.DECODED)]
    run.layers["speedup.decoders"] = sum(one[d] for d in dec) / sum(many[d] for d in dec)
    return spark


def trace_summary(run: Run, setup: dict, wall_s: float) -> None:
    """Session times, self time per layer over the whole traced run, the
    workload op's traced wall beside its layers' summed self time, and
    the tracer's own bookkeeping time as a share of the traced wall."""
    tr, L = run.tracer, run.layers
    L["session.start_s"] = setup["start_s"]
    L["session.worker_warm_s"] = setup["warm_s"]
    selfs = tr.layer_self()
    for layer in LAYERS:
        L[f"self_s.{layer}"] = selfs.get(layer, 0.0)
    st = tr.self_times()
    op_wall = sum(s["end"] - s["start"] for s in run.op_roots)
    op_spans = [d for s in run.op_roots for d in tr.descendants(s)]
    L["trace.op_wall_s"] = op_wall
    L["trace.op_layer_self_s"] = sum(st[d["id"]] for d in op_spans)
    L["trace.op_spark_jobs"] = sum(s["jobs"] for s in run.op_roots + op_spans)
    by_layer: dict[str, float] = {}
    for s in run.op_roots + op_spans:
        by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + st[s["id"]]
    run.notes.append("timed op self time by layer: " + ", ".join(
        f"{k} {v:.2f} s ({v / op_wall:.0%})"
        for k, v in sorted(by_layer.items(), key=lambda kv: -kv[1])))
    by_call: dict[str, list] = {}
    for s in op_spans:
        c = by_call.setdefault(s["name"], [0, 0.0, 0])
        c[0], c[1], c[2] = c[0] + 1, c[1] + st[s["id"]], c[2] + s["jobs"]
    run.notes.append("timed op self time by call: " + ", ".join(
        f"{k} x{n} {v:.2f} s ({jobs} Spark jobs)"
        for k, (n, v, jobs) in sorted(by_call.items(), key=lambda kv: -kv[1][1])))
    L["trace.spans"] = len(tr.spans)
    L["trace.overhead_frac"] = tr.bookkeeping_s / wall_s
    tr.dump(run.path(f"spans-{tr.run_id}.jsonl"))


# --- output --------------------------------------------------------------------

def emit(run: Run, spec: dict, setup_metrics: dict) -> int:
    traced = run.args.trace == 1
    declared = spec["per_layer"] if traced else spec["end_to_end"]
    values = run.layers if traced else {**run.e2e, **setup_metrics}
    names = [m["name"] for m in declared]
    if set(values) != set(names):
        raise RuntimeError(f"metric names {sorted(set(values) ^ set(names))} do not match "
                           "BENCHMARK.json")
    rename = SHOWN_NAMES[run.args.workload]
    for m in declared:
        shown = rename.get(m["name"], m["name"])
        print(f"{shown} = {values[m['name']]:.6g} {m['unit']}")
    for line in run.notes:
        print(line)
    frac = run.failed / run.attempted if run.attempted else 1.0
    print(f"ops_failed_frac = {frac:.6g} ratio ({run.failed} of {run.attempted})")
    for p in run.problems[:50]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    ok = not run.problems and run.attempted > 0
    print(json.dumps({
        "correct": ok, "attempted": run.attempted, "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared},
    }))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()

    shutil.rmtree(harness.WORK, ignore_errors=True)
    n = harness.cpus()
    harness.configure_env(n)
    inp = make_inputs(args.workload, args.seed, args.trace == 1, harness.WORK)
    run = Run(args, Tracer(args.trace == 1))
    spark = None
    with harness.RssSampler(harness.jvm_pid) as rss:
        try:
            t0 = time.perf_counter()
            spark, setup = harness.setup(run.tracer, n)
            WORKLOADS[args.workload](run, spark, inp)
            if run.tracer.enabled:
                layer_sweep(run, spark, inp)
                trace_summary(run, setup, time.perf_counter() - t0)
                spark = single_core_speedups(run, spark, inp["probe_archive"], n)
        finally:
            harness.shutdown(spark)
    run.notes.append(f"processes at peak RSS = {rss.peak_procs} (JVM, worker daemon, workers)")
    return emit(run, spec, {"setup_s": setup["setup_s"], "peak_rss_mb": rss.peak_mb})


if __name__ == "__main__":
    sys.exit(main())
