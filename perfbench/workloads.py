"""The benchmark's workloads: set-up, timed writes, timed reads, gate.

Each workload is a closed loop with one caller on one session. It
drives the engine only through its public functions, with the library
defaults for every physical-path knob (dedup strategy, merge path,
write mode). Inputs come from the engine's seeded generators
(``synth.gen_events`` / ``synth.gen_docs``); the seed is the only
thing that varies between runs.

Both workloads have the same two timed phases, so they report the same
end-to-end metrics:

- a write phase in the workload's shape — a bulk ``replay()`` backfill,
  or a ``stream_replay()`` WAL tail of small epochs;
- a read phase beside it on the table the writes produced: 16-key
  ``LakeTable.lookup``, ``read_changes`` over the last two commits and
  a full ``read()`` with a gold-style per-``source`` aggregate, in
  rotation. A write-side change that stacks deltas or files shows here
  as read cost.

Every output is checked untimed against an independent oracle
(oracle.py); each check is one attempted operation.
"""

from __future__ import annotations

import datetime as _dt
import inspect
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle

N_BUCKETS = 64
FEED_SPAN = 2  # commits covered by each change-feed read
MAX_ROUNDS = 64  # read rounds before the lookup key sample repeats
WRITE_SHARE = 0.4  # of --seconds; the read phase, with more short samples, gets the rest


@dataclass(frozen=True)
class Sizes:
    setup_reps: int  # set-ups per run; setup_s leaves out the first (cold JVM), so at least 2
    bulk_events: int
    bulk_chunks: int
    tail_docs: int
    tail_age_commits: int
    tail_epoch_events: int
    tail_epochs: int  # timed epochs; the warm-up epoch comes on top


FULL = Sizes(
    setup_reps=3,
    bulk_events=100_000,
    bulk_chunks=4,
    tail_docs=5_000,
    tail_age_commits=100,
    tail_epoch_events=2_000,
    tail_epochs=3,
)

TOY = Sizes(
    setup_reps=2,
    bulk_events=8_000,
    bulk_chunks=4,
    tail_docs=1_000,
    tail_age_commits=10,
    tail_epoch_events=200,
    tail_epochs=3,
)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    sizes: Sizes
    tracer: object
    progress: object  # tracing.ProgressCollector
    setup_times: list[float] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    e2e: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, what: str) -> bool:
        """One correctness-gated operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    def log(self, msg: str) -> None:
        print(f"perfbench: [{time.perf_counter() - self.t0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _spent(t_start: float, done: int) -> float:
    """Time a loop will have spent after one more iteration at its mean
    pace: loops stop before the iteration that would overrun."""
    el = time.perf_counter() - t_start
    return el + el / done


def _p90(xs) -> float:
    xs = sorted(xs)
    return float(statistics.quantiles(xs, n=10)[-1]) if len(xs) >= 2 else median(xs)


def _du(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def shipped_defaults() -> dict:
    """The physical-path defaults each public entry point ships with."""
    from medallion_etl_spark.cdc.apply import apply_batch
    from medallion_etl_spark.cdc.replay import replay
    from medallion_etl_spark.streaming.stream_replay import stream_replay

    out = {}
    for fn in (replay, stream_replay, apply_batch):
        sig = inspect.signature(fn).parameters
        out[fn.__name__] = {
            k: sig[k].default for k in ("dedup_strategy", "merge_path", "write_mode") if k in sig
        }
    return out


def _table_facts(ctx: Ctx, root: str, batch_ids: list[int], events: int) -> None:
    """Metadata, storage and lineage facts of the written table, read
    from its files (no Spark job)."""
    from medallion_etl_spark.cdc.lineage import lineage_dir
    from medallion_etl_spark.cdc.table import LakeTable

    loads = []
    for _ in range(5):
        t0 = time.perf_counter()
        tb = LakeTable.load(root)
        loads.append(time.perf_counter() - t0)
    det = tb.detail()
    md = os.path.join(root, "metadata")
    data_bytes, files = _du(os.path.join(root, "data"))
    lin_bytes = lin_rows = 0
    for bid in batch_ids:
        p = os.path.join(lineage_dir(root), f"batch_id={bid}", "part-0.parquet")
        if os.path.exists(p):
            t = pq.read_table(p)
            lin_bytes += sum(t.column("bytes_written").to_pylist())
            lin_rows += t.num_rows
    ctx.layers.update(
        {
            "table.load_ms": median(loads) * 1e3,
            "table.version_doc_bytes": os.path.getsize(os.path.join(md, f"version-{tb.version}.json")),
            "table.metadata_dir_bytes": _du(md)[0],
            "table.data_bytes": data_bytes,
            "table.files": files,
            "table.bytes_written_per_event": lin_bytes / events if events else 0.0,
            "table.buckets_touched_per_batch": lin_rows / len(batch_ids) if batch_ids else 0.0,
            "table.deltas_per_bucket": det["delta_dirs"] / max(det["buckets_populated"], 1),
        }
    )
    ctx.info["write_mode_observed"] = "mor" if det["delta_dirs"] else "cow"
    ctx.info["table_version"] = tb.version


# ------------------------------------------------------------------ read phase


def serve_reads(ctx: Ctx, root: str, events, base, budget_s: float) -> None:
    """Timed read phase on the written table, then its checks.

    Oracle side (untimed): the LWW winners of base ∪ events give the
    expected lookup rows, the live set's per-source aggregate, the
    whole final state, and the net change over the feed span."""
    from medallion_etl_spark.cdc.table import LakeTable, bucket_expr, entry_signature

    spark, tr = ctx.spark, ctx.tracer
    table = LakeTable.load(root)
    with tr.span("oracle", "oracle", "harness"):
        win = oracle.winners(spark, events, base).cache()
        final = oracle.final_state(win)
        # lookup keys: a seeded sample of live and of deleted keys
        rank = F.md5(F.concat(F.lit(f"{ctx.seed}:"), F.col("doc_id")))
        live = {r["doc_id"]: tuple(r) for r in final.orderBy(rank).limit(8 * MAX_ROUNDS).collect()}
        deleted = [
            r["doc_id"]
            for r in win.filter(F.col("op") == "D").orderBy(rank).select("doc_id").limit(4 * MAX_ROUNDS).collect()
        ]
        agg_expected = oracle.row_digest(
            final.groupBy("source").agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("toks")).collect()
        )
        state_expected = oracle.spark_digest(final, oracle.PAYLOAD)
        win.unpersist()
        since = table.version - FEED_SPAN
        old = LakeTable.load_version(root, since)
        feed_cols = oracle.PAYLOAD + ["_lsn", "_change_type"]
        feed_expected = oracle.spark_digest(
            oracle.net_changes(spark, events, old.max_committed_lsn(), table.max_committed_lsn()), feed_cols
        )

    live_keys = list(live)

    def key_set(i: int) -> list[str]:
        """16 keys: 8 live, 4 deleted, the rest never written."""
        lk = [live_keys[(i * 8 + j) % len(live_keys)] for j in range(8)]
        dk = [deleted[(i * 4 + j) % len(deleted)] for j in range(4)] if deleted else []
        return lk + dk + [f"absent-{ctx.seed}-{i}-{j}" for j in range(16 - len(lk) - len(dk))]

    with tr.span("read_facts", "oracle", "harness"):
        ctx.layers["read.lookup_buckets_opened"] = (
            spark.createDataFrame([(k,) for k in key_set(0)], "_k string")
            .select(bucket_expr("_k", table.n_buckets).alias("_b"))
            .distinct()
            .count()
        )
    old_sigs = {b: entry_signature(e) for b, e in old.meta["buckets"].items()}
    ctx.layers["read.feed_buckets_scanned"] = sum(
        1 for b, e in table.meta["buckets"].items() if old_sigs.get(b) != entry_signature(e)
    )
    ctx.log("read phase")

    lat: dict[str, list[float]] = {"lookup": [], "feed": [], "scan": []}
    feed_rows, scan_rows = [], []

    def read_round(i: int, timed: bool) -> None:
        """One lookup, one feed, one scan — each checked untimed. The
        warm-up round's spans get their own kind, outside every metric."""
        lookup, feed, scan = ("lookup", "feed", "scan") if timed else ("warmup",) * 3
        keys = key_set(i)
        with tr.span(f"lookup-{i}", lookup, "cdc.table.read") as s:
            rows = table.lookup(spark, keys).collect()
        want = [live[k] for k in keys if k in live]
        ctx.check(oracle.row_digest(rows) == oracle.row_digest(want), f"lookup {i}: {len(rows)} rows, want {len(want)}")
        with tr.span(f"feed-{i}", feed, "cdc.table.read") as f:
            got = oracle.spark_digest(table.read_changes(spark, since), feed_cols)
        ctx.check(got == feed_expected, f"feed {i}: {got}, want {feed_expected}")
        with tr.span(f"scan-{i}", scan, "cdc.table.read") as c:
            agg = (
                table.read(spark)
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("n_tok").alias("toks"))
                .collect()
            )
        ctx.check(oracle.row_digest(agg) == agg_expected, f"scan {i}: per-source aggregate differs")
        if timed:
            lat["lookup"].append(s.dur)
            lat["feed"].append(f.dur)
            lat["scan"].append(c.dur)
            feed_rows.append(got[0])
            scan_rows.append(sum(r["n"] for r in agg))

    # one untimed round first: the read path's JIT and codegen warm-up
    read_round(MAX_ROUNDS - 1, timed=False)
    with tr.span("reads", "timed", "harness"):
        t_start = time.perf_counter()
        i = 0
        while True:
            read_round(i, timed=True)
            i += 1
            if _spent(t_start, i) >= budget_s:
                break

    with tr.span("state_gate", "oracle", "harness"):
        got = oracle.spark_digest(table.read(spark), oracle.PAYLOAD)
    ctx.check(got == state_expected, f"final state: table {got}, oracle {state_expected}")
    for kind in lat:
        ctx.e2e[f"{kind}_p50_ms"] = median(lat[kind]) * 1e3
    ctx.layers["read.feed_rows"] = median(feed_rows)
    ctx.layers["read.scan_rows"] = median(scan_rows)
    ctx.info.update(read_rounds=i, feed_since_version=since,
                    read_ms={k: [round(x * 1e3) for x in v] for k, v in lat.items()})


# ---------------------------------------------------------------- bulk_replay


def bulk_replay(ctx: Ctx):
    """Backfill: replay() of a whole LSN-ordered stream into a fresh
    64-bucket table in 4 chunks, repeated for the write budget; then
    the read phase on the last table."""
    from medallion_etl_spark.cdc.replay import replay
    from medallion_etl_spark.cdc.table import LakeTable
    from medallion_etl_spark.synth import gen_events, write_events_ordered

    spark, sz, tr = ctx.spark, ctx.sizes, ctx.tracer
    n = sz.bulk_events
    n_files = max(2 * spark.sparkContext.defaultParallelism, 8)
    for r in range(sz.setup_reps):
        ev_path = ctx.path(f"events-{r}")
        with tr.span("gen_events", "setup", "synth") as s:
            write_events_ordered(gen_events(spark, n, n // 10, seed=ctx.seed), ev_path, n_files=n_files)
        ctx.setup_times.append(s.dur)
        if r < sz.setup_reps - 1:
            shutil.rmtree(ev_path)
    ctx.layers["synth.gen_s"] = median(ctx.setup_times[1:])
    events = spark.read.parquet(ev_path)
    ctx.log("set-up done")

    # one untimed replay of a tenth-size stream first: the write path's
    # JIT and codegen warm-up, as the read phase has. Two chunks, so the
    # second merges into a populated table as the timed chunks do.
    n_warm = n // 10
    with tr.span("warmup", "warmup", "harness") as w:
        warm = ctx.path("warmup-events")
        write_events_ordered(gen_events(spark, n_warm, n_warm // 10, seed=ctx.seed + 2), warm, n_files=n_files)
        res = replay(spark, spark.read.parquet(warm), LakeTable.create(ctx.path("warmup-table"), n_buckets=N_BUCKETS),
                     chunk_size=-(-n_warm // 2))
    ctx.check(res["rows_applied"] == n_warm, f"warm-up replay: {res['rows_applied']} rows, want {n_warm}")
    ctx.info["warmup_s"] = round(w.dur, 3)
    ctx.log("warm-up done")

    chunk = -(-n // sz.bulk_chunks)

    walls, results = [], []
    root = None
    with tr.span("bulk_replay", "timed", "harness"):
        t_start = time.perf_counter()
        i = 0
        while True:
            if root is not None:
                shutil.rmtree(root)
            root = ctx.path(f"table-{i}")
            table = LakeTable.create(root, n_buckets=N_BUCKETS)
            with tr.span(f"replay-{i}", "replay", "cdc.replay") as s:
                res = replay(spark, events, table, chunk_size=chunk)
            # replay's own phase totals split its span: everything but
            # the upfront stats job runs inside apply_batch
            apply_s = sum(v for k, v in res["phase_totals"].items() if k != "upfront_stats")
            tr.add(f"apply-{i}", "apply", "cdc.apply", s.end - apply_s, s.end, s.sid)
            walls.append(s.dur)
            results.append(res)
            i += 1
            if _spent(t_start, i) >= ctx.seconds * WRITE_SHARE:
                break
    serve_reads(ctx, root, events, None, ctx.seconds * (1 - WRITE_SHARE))

    for i, res in enumerate(results):
        ctx.check(
            res["batches_applied"] == sz.bulk_chunks and res["rows_applied"] == n,
            f"replay {i}: {res['batches_applied']} chunks / {res['rows_applied']} rows",
        )
    for phase in ("stats", "plan_build", "merge_write", "footer_stats", "commit", "lineage"):
        ctx.layers[f"apply.{phase}_s"] = median(r["phase_totals"].get(phase, 0.0) for r in results)
    ctx.layers["replay.upfront_stats_s"] = median(r["phase_totals"].get("upfront_stats", 0.0) for r in results)
    ctx.layers["replay.chunks_applied"] = median(r["batches_applied"] for r in results)
    _table_facts(ctx, root, list(range(sz.bulk_chunks)), n)
    ctx.e2e["write_p50_ms"] = median(walls) * 1e3
    ctx.e2e["events_per_s"] = n / median(walls)
    ctx.info.update(replays=len(walls), events_per_replay=n, replay_walls_s=[round(w, 3) for w in walls])


# ------------------------------------------------------------ tail_microbatch


def _write_epoch_files(spark, out_dir: str, n_epochs: int, per_epoch: int, n_keys: int, lsn0: int, seed: int):
    """One parquet file per micro-batch, LSN-contiguous, with strictly
    increasing modification times so the file source hands them out in
    LSN order. Returns each file's (lsn_lo, lsn_hi)."""
    from medallion_etl_spark.schemas import EVENTS_SCHEMA
    from medallion_etl_spark.synth import gen_events

    ev = gen_events(spark, n_epochs * per_epoch, n_keys, seed=seed).withColumn(
        "lsn", F.col("lsn") + F.lit(lsn0)
    )
    tbl = ev.select(*[F.col(f.name).cast(f.dataType) for f in EVENTS_SCHEMA.fields]).orderBy("lsn").toArrow()
    os.makedirs(out_dir)
    ranges = []
    now = time.time() - n_epochs - 10
    for i in range(n_epochs):
        part = tbl.slice(i * per_epoch, per_epoch)
        p = os.path.join(out_dir, f"epoch-{i:05d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (now + i, now + i))
        ranges.append((pc.min(part.column("lsn")).as_py(), pc.max(part.column("lsn")).as_py()))
    return ranges


def _age(table, n_commits: int) -> list[float]:
    """A long-lived stream's history: metadata-only commits, one
    manifest entry each, LSNs 1..n (below every later event). Batch ids
    sit at 2^36 + i: above any replay chunk id, below the convert (2^37),
    DML (2^38) and streaming (2^40) namespaces."""
    lat = []
    for i in range(n_commits):
        t0 = time.perf_counter()
        table.commit({}, set(), ((1 << 36) + i, {"lsn_lo": i + 1, "lsn_hi": i + 1, "rows_applied": 0}))
        lat.append(time.perf_counter() - t0)
    return lat


def tail_microbatch(ctx: Ctx):
    """WAL tail: stream_replay(max_files_per_trigger=1) draining one-file
    epochs of ~2k events into an aged, converted 64-bucket table; then
    the read phase on that table."""
    from medallion_etl_spark.cdc.bootstrap import convert_from_parquet
    from medallion_etl_spark.cdc.lineage import lineage_dir
    from medallion_etl_spark.cdc.table import LakeTable
    from medallion_etl_spark.streaming.stream_replay import stream_batch_id, stream_replay
    from medallion_etl_spark.synth import gen_docs

    spark, sz, tr = ctx.spark, ctx.sizes, ctx.tracer
    n_epochs = sz.tail_epochs
    per = sz.tail_epoch_events
    lsn0 = sz.tail_age_commits + 1

    conv_s, age_s, gen_s, commit_lat = [], [], [], []
    for r in range(sz.setup_reps):
        root = ctx.path(f"table-{r}")
        with tr.span("setup", "setup", "harness") as s:
            with tr.span("convert", "setup", "cdc.bootstrap") as c:
                convert_from_parquet(
                    spark, gen_docs(spark, sz.tail_docs, seed=ctx.seed + 1), root, n_buckets=N_BUCKETS
                )
            with tr.span("age", "setup", "cdc.table") as a:
                commit_lat = _age(LakeTable.load(root), sz.tail_age_commits)
            with tr.span("gen_epochs", "setup", "synth") as g:
                ranges = _write_epoch_files(
                    spark, ctx.path(f"epochs-{r}"), n_epochs, per,
                    sz.tail_docs, lsn0, ctx.seed,
                )
        conv_s.append(c.dur)
        age_s.append(a.dur)
        gen_s.append(g.dur)
        ctx.setup_times.append(s.dur)
    ctx.layers.update(
        {
            "bootstrap.convert_s": median(conv_s[1:]),
            "table.age_s": median(age_s[1:]),
            "synth.gen_s": median(gen_s[1:]),
            "table.commit_ms_p50": median(commit_lat) * 1e3,
            "table.commit_ms_p90": _p90(commit_lat) * 1e3,
        }
    )
    ctx.log("set-up done")

    # one untimed epoch first, into the first set-up's table under its
    # own checkpoint: the streaming write path's JIT and codegen warm-up
    warm_src = ctx.path("warmup-epochs")
    os.makedirs(warm_src)
    shutil.copy(os.path.join(ctx.path("epochs-0"), "epoch-00000.parquet"), warm_src)
    with tr.span("warmup", "warmup", "harness") as w:
        wres = stream_replay(spark, warm_src, ctx.path("table-0"), ctx.path("warmup-ckpt"), max_files_per_trigger=1)
    for p in ctx.progress.take(1):
        tr.add(f"warmup-epoch-{p['batch_id']}", "warmup", "streaming.stream_replay", w.start, w.end, w.sid,
               batch_id=p["batch_id"], run_id=p["run_id"])
    ctx.check(wres["rows_applied"] == per, f"warm-up epoch: {wres}")
    ctx.info["warmup_s"] = round(w.dur, 3)
    ctx.log("warm-up done")

    src = ctx.path(f"epochs-{sz.setup_reps - 1}")
    ckpt = ctx.path("ckpt")
    clock = time.time() - time.perf_counter()
    with tr.span("tail_microbatch", "timed", "harness"):
        with tr.span("stream_replay", "drain", "streaming.stream_replay") as drain:
            res = stream_replay(spark, src, root, ckpt, max_files_per_trigger=1)
    prog = ctx.progress.wait_for(n_epochs)
    for p in prog:
        # epoch interval from its progress event, clipped to the drain
        start = _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp() - clock
        start = min(max(start, drain.start), drain.end)
        end = min(start + p["duration_ms"].get("triggerExecution", 0) / 1e3, drain.end)
        e = tr.add(f"epoch-{p['batch_id']}", "epoch", "streaming.stream_replay", start, end, drain.sid,
                   batch_id=p["batch_id"], run_id=p["run_id"])
        add = p["duration_ms"].get("addBatch", 0) / 1e3
        tr.add(f"apply-{p['batch_id']}", "apply", "cdc.apply", max(end - add, start), end, e.sid)
    base = gen_docs(spark, sz.tail_docs, seed=ctx.seed + 1)
    serve_reads(ctx, root, spark.read.parquet(src), base, ctx.seconds * (1 - WRITE_SHARE))

    # exactly-once: every fed epoch committed once, with its file's LSN
    # range and event count, and the lineage agrees
    committed = LakeTable.load(root).committed_batches()
    seen = {p["batch_id"] for p in prog}
    batch_ids = []
    for i, (lo, hi) in enumerate(ranges):
        bid = stream_batch_id(ckpt, i)
        batch_ids.append(bid)
        rec = committed.get(bid)
        lin = os.path.join(lineage_dir(root), f"batch_id={bid}", "part-0.parquet")
        lin_rows = sum(pq.read_table(lin).column("rows_applied").to_pylist()) if os.path.exists(lin) else -1
        ctx.check(
            rec is not None
            and (int(rec["lsn_lo"]), int(rec["lsn_hi"])) == (lo, hi)
            and int(rec["rows_applied"]) == per
            and lin_rows == per
            and i in seen,
            f"epoch {i}: manifest {rec}, lineage rows {lin_rows}, progress seen {i in seen}",
        )
    ctx.check(
        res["epochs"] == n_epochs and res["rows_applied"] == n_epochs * per and len(prog) == n_epochs,
        f"stream totals {res}, {len(prog)} progress epochs, want {n_epochs}",
    )

    epoch_ms = [p["duration_ms"].get("triggerExecution", 0) for p in prog]
    for key, name in (
        ("addBatch", "add_batch"),
        ("queryPlanning", "query_planning"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("getBatch", "get_batch"),
        ("latestOffset", "latest_offset"),
    ):
        ctx.layers[f"stream.{name}_ms"] = median(p["duration_ms"].get(key, 0) for p in prog)
    ctx.layers["stream.epochs"] = len(prog)
    # source rows the epoch's jobs read per event fed: each Spark action
    # inside foreachBatch rescans the micro-batch input
    ctx.layers["stream.input_rows_per_event"] = sum(p["rows"] for p in prog) / (n_epochs * per)
    _table_facts(ctx, root, batch_ids, n_epochs * per)
    ctx.e2e["write_p50_ms"] = median(epoch_ms)
    ctx.e2e["events_per_s"] = n_epochs * per / drain.dur
    ctx.info.update(epochs=n_epochs, events_per_epoch=per, drain_s=round(drain.dur, 3), epoch_ms=epoch_ms)


WORKLOADS = {
    "bulk_replay": bulk_replay,
    "tail_microbatch": tail_microbatch,
}
