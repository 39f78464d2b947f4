"""The benchmark's workloads. Each has ``setup`` (generate inputs, warm
up), ``measure`` (run for a given number of seconds, return raw
samples), ``e2e`` / ``layers`` (reduce samples to metrics) and ``gate``
(compare the program's committed output with references on the same
rows).

* stream_catchup: a pre-written backlog drained by four queries one
  after another with few large triggers, where the per-row cost of the
  Python CEP fold, state updates and window expansion counts most. Its
  gate runs six batch operators over the same rows and checks them
  against DuckDB; that is where the batch operator layer is measured.
* stream_live: an open-loop generator writes small files on a fixed
  schedule, so per-trigger fixed cost (planning, offset/commit logs,
  state-store commits, the sink manifest) dominates; the CEP fold runs
  through the buffered replay fold (streaming/ooo.py).
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time

import duckdb
import pyarrow as pa

from stellar_etl_spark.operators import pairs, rollups, sessions, skew
from stellar_etl_spark.streaming.matcher import match_pairs_stream
from stellar_etl_spark.streaming.ooo import match_pairs_stream_ooo
from stellar_etl_spark.streaming.sink import EpochCommitSink
from stellar_etl_spark.streaming.source import read_transcript_batch, read_transcript_stream

from perfbench import engine as E
from perfbench.stats import files_to_epochs, quantile, tail

CFG = E.CFG


def _wm(s):
    return s.withWatermark("ts", CFG.watermark_delay)


# name -> (layer, operator, DuckDB oracle over a `transcripts` relation)
_W = "WITH transcripts AS (SELECT * FROM rows_)"
BATCH_OPS = {
    "sessionize": ("operators.sessions", lambda df: sessions.sessionize(df, CFG),
                   _W + sessions.session_oracle_sql("INTERVAL 30 MINUTE")),
    "tool_rate": ("operators.rollups", lambda df: rollups.tool_rate(df, CFG),
                  _W + rollups.rate_oracle_sql("tool", 1, "WHERE tool IS NOT NULL")),
    "role_rate": ("operators.rollups", lambda df: rollups.role_rate(df, CFG),
                  _W + rollups.rate_oracle_sql("role", 1)),
    "tool_rate_sliding": ("operators.rollups", lambda df: rollups.tool_rate_sliding(df, CFG),
                          _W + rollups.sliding_oracle_sql("tool", 5, 1, "WHERE tool IS NOT NULL")),
    "match_pairs": ("operators.pairs", lambda df: pairs.match_pairs(df, CFG),
                    _W + pairs.PAIRS_ORACLE_SQL),
    "salted_turn_counts": ("operators.skew", lambda df: skew.salted_turn_counts(df, CFG.salt_buckets),
                           _W + " SELECT conv_id, COUNT(*) AS turn_count FROM transcripts GROUP BY 1"),
}

# name -> (layer, streaming builder, batch operator it must equal,
# column holding the closer's reserved value)
STREAM_QUERIES = {
    "pairs": ("streaming.matcher", lambda s: match_pairs_stream(s, CFG), "match_pairs", "conv_id"),
    "tool_rate": ("operators.rollups", lambda s: rollups.tool_rate(_wm(s), CFG, exact="set"),
                  "tool_rate", "tool"),
    "tool_rate_sliding": ("operators.rollups",
                          lambda s: rollups.tool_rate_sliding(_wm(s), CFG, exact="set"),
                          "tool_rate_sliding", "tool"),
    "sessions": ("operators.sessions", lambda s: sessions.sessionize(s, CFG, watermark=True),
                 "sessionize", "conv_id"),
}
LIVE_QUERY = ("pairs_ooo", "streaming.ooo", lambda s: match_pairs_stream_ooo(s, CFG),
              "match_pairs", "conv_id")

STREAM_LAYER_METRICS = [
    "source.latest_offset_ms", "source.get_batch_ms",
    "trigger.add_batch_ms", "trigger.query_planning_ms", "trigger.wal_commit_ms",
    "trigger.commit_offsets_ms", "trigger.nonempty_frac",
    "cep.all_updates_ms", "cep.state_commit_ms", "cep.state_rows_total",
    "cep.state_memory_bytes", "cep.rows_dropped_by_watermark",
    "agg.state_commit_ms", "agg.state_rows_total", "agg.state_memory_bytes",
    "sink.write_epoch_ms", "sink.lineage_ms", "sink.epoch_bytes",
    "sink.nonempty_partition_frac", "sink.replayed_epochs",
]
BATCH_LAYER_METRICS = [
    f"batch.{op}{suffix}"
    for op in BATCH_OPS
    for suffix in ("_s", ".shuffle_write_bytes", ".spill_bytes", ".task_skew")
]


class Ctx:
    """One run's shared state: the session, scratch dir, tracer, seed
    and the attempted/failed counters."""

    def __init__(self, work: str, seed: int, tracer, log):
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.log = log
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def fresh(self, *parts: str) -> str:
        d = os.path.join(self.work, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def _median(xs):
    return statistics.median(xs) if xs else 0.0


# --- one streaming query run ---------------------------------------------------

class Drain:
    """One streaming query from build to termination, with its progress
    reports and sink body."""

    def __init__(self, ctx: Ctx, name: str, layer: str, build, src: str, root: str,
                 max_files: int | None, available_now: bool = True):
        self.ctx, self.name = ctx, name
        tr = ctx.tracer
        self.span = tr.span(f"drain.{name}", "streaming.pipeline")
        self.handle = self.span.__enter__()
        with tr.span("build_query", layer):
            stream = read_transcript_stream(ctx.spark, src, max_files_per_trigger=max_files,
                                            with_lineage=False)
            df = build(stream)
        self.body = E.EpochBody(os.path.join(root, "sink"), name, tr, layer,
                                parent=self.handle.get("id"))
        self.started = time.time()
        with tr.span("start_query", "streaming.pipeline"):
            self.query = E.start_stream(df, name, self.body, os.path.join(root, "ckpt"),
                                        available_now)
        self.progress: list[dict] = []
        self.ok = False

    def finish(self, waiter=None) -> "Drain":
        """Await an availableNow query, or run ``waiter`` while a
        continuous query runs and stop it afterwards."""
        tr = self.ctx.tracer
        try:
            with tr.span("await_query", "streaming.pipeline") as h:
                if waiter is None:
                    self.query.awaitTermination()
                else:
                    waiter()
                    self.query.stop()
            self.ok = self.query.exception() is None
        except Exception as exc:  # a failed query is counted, not fatal
            self.ctx.log(f"query {self.name} failed: {exc!r}")
        finally:
            self.ended = time.time()
            self.progress = E.progress_of(self.query)
            self.span.__exit__(None, None, None)
        self.ctx.attempted += 1
        self.ctx.failed += 0 if self.ok else 1
        if tr.enabled:
            bodies = {s["epoch"]: s["id"] for s in tr.spans
                      if s["name"] == "foreach_batch" and s["parent"] == self.handle["id"]}
            E.trace_epochs(tr, self.progress, h.get("id"), bodies)
        return self

    def file_epochs(self, file_rows: list[int]) -> list[int | None]:
        return files_to_epochs(file_rows, [(p["batchId"], p.get("numInputRows", 0))
                                           for p in self.progress])

    def commits(self, file_rows: list[int], end: float) -> list[float | None]:
        """Commit time of the epoch that ingested each data file, None
        when that happened after ``end`` or never."""
        out = []
        for e in self.file_epochs(file_rows):
            c = self.body.epochs.get(e, {}).get("committed_at") if e is not None else None
            out.append(c if c is not None and c <= end else None)
        return out


def lags_and_delivered(drain: Drain, file_rows: list[int], due: list[float],
                       end: float) -> tuple[list[float], int]:
    """Due-to-commit lag (ms) of every data file, and the rows committed
    by ``end``. A file not committed by ``end`` counts with the lag it
    had reached at ``end``."""
    commits = drain.commits(file_rows, end)
    lags = [((c if c is not None else end) - d) * 1e3 for c, d in zip(commits, due)]
    return lags, sum(r for r, c in zip(file_rows, commits) if c is not None)


def describe(drains: list[Drain]) -> list[dict]:
    """Per query: wall time and every trigger's rows and durations, for
    the run record."""
    return [
        {"name": d.name, "wall_s": d.ended - d.started,
         "triggers": [{"batch": p["batchId"], "rows": p.get("numInputRows", 0),
                       **p.get("durationMs", {})} for p in d.progress]}
        for d in drains
    ]


def stream_layers(drains: list[Drain]) -> dict[str, float]:
    """Per-layer numbers of a set of streaming queries, from Spark's
    progress reports and the sink body's own timings. Durations are
    medians per trigger; state sizes are peaks; drops and replays are
    totals."""
    prog = [p for d in drains for p in d.progress]
    out: dict[str, float] = {}
    for metric, key in E.DURATION_KEYS.items():
        out[metric] = _median([p.get("durationMs", {}).get(key, 0) for p in prog])
    out["trigger.nonempty_frac"] = (
        sum(1 for p in prog if p.get("numInputRows", 0) > 0) / len(prog) if prog else 0.0
    )
    for prefix, cep in (("cep", True), ("agg", False)):
        ops = [ops for ops in E.state_ops(prog, cep) if ops]
        if prefix == "cep":
            out["cep.all_updates_ms"] = _median([sum(o.get("allUpdatesTimeMs", 0) for o in x) for x in ops])
            out["cep.rows_dropped_by_watermark"] = sum(
                o.get("numRowsDroppedByWatermark", 0) for x in ops for o in x)
        out[f"{prefix}.state_commit_ms"] = _median([sum(o.get("commitTimeMs", 0) for o in x) for x in ops])
        out[f"{prefix}.state_rows_total"] = max([sum(o.get("numRowsTotal", 0) for o in x) for x in ops], default=0)
        out[f"{prefix}.state_memory_bytes"] = max(
            [sum(o.get("memoryUsedBytes", 0) for o in x) for x in ops], default=0)
    epochs = [(d, e, r) for d in drains for e, r in d.body.epochs.items()]
    out["sink.write_epoch_ms"] = _median([r["write_epoch_ms"] for _, _, r in epochs])
    out["sink.lineage_ms"] = _median([r["lineage_ms"] for _, _, r in epochs])
    nonempty = [(d, e, r) for d, e, r in epochs if r["rows_out"]]
    out["sink.epoch_bytes"] = _median([d.body.epoch_bytes(e) for d, e, _ in nonempty])
    out["sink.nonempty_partition_frac"] = _median(
        [r["nonempty_partitions"] / E.SHUFFLE_PARTITIONS for _, _, r in nonempty])
    out["sink.replayed_epochs"] = sum(1 for _, _, r in epochs if not r["written"])
    return out


def _stream_e2e(throughput: float, epochs: list[float], lags: list[float], delivered: float) -> dict:
    ep_p, ep_tail = tail(epochs)
    lag_p, lag_tail = tail(lags)
    return {
        "throughput_rows_per_s": throughput,
        "epoch_ms_p50": quantile(epochs, 50),
        "epoch_ms_tail": ep_tail,
        "emit_lag_ms_p50": quantile(lags, 50),
        "emit_lag_ms_tail": lag_tail,
        "delivered_frac": delivered,
        "_samples": {"epochs": len(epochs), "epoch_tail_pct": ep_p,
                     "lags": len(lags), "lag_tail_pct": lag_p},
    }


def gate(ctx: Ctx, src: str, table: pa.Table, ops: list[str],
         sinks: list[tuple[Drain, str, str]]) -> tuple[bool, dict[str, float]]:
    """Run each batch operator in ``ops`` over the input rows (closer
    excluded) and value-hash it against its DuckDB oracle; fold every
    sink in ``sinks`` (drain, batch operator, closer column) back with
    read_table and value-hash it against that operator's result. The
    inputs are built so that no row falls behind the watermark, so any
    watermark drop fails the gate too. Returns (ok, seconds of each
    batch action)."""
    spark, tr = ctx.spark, ctx.tracer
    rows = read_transcript_batch(spark, src).filter(f"conv_id != '{E.CLOSER}'")
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("rows_", table)
    ok, results, times = True, {}, {}
    for op in ops:
        layer, fn, sql = BATCH_OPS[op]
        spark.sparkContext.setJobGroup(f"gate:{op}", op)
        t0 = time.time()
        with tr.span(f"batch.{op}", layer):
            results[op] = fn(rows).toPandas()
        times[op] = time.time() - t0
        ok &= E.same_values(op, results[op], con.sql(sql).df(), ctx.log)
    spark.sparkContext.setJobGroup("", "")
    con.close()
    for d, op, col in sinks:
        with tr.span("read_table", "streaming.sink"):
            got = EpochCommitSink(d.body.sink_root).read_table(spark, d.name)
            got = got.filter(f"{col} != '{E.CLOSER}'").toPandas()
        ok &= E.same_values(d.name, got, results[op], ctx.log)
    drops = sum(o.get("numRowsDroppedByWatermark", 0) for d, _, _ in sinks
                for p in d.progress for o in p.get("stateOperators", []))
    if drops:
        ctx.log(f"MISMATCH: {drops} rows dropped by the watermark; the inputs guarantee none")
        ok = False
    return ok, times


def _warm_streams(ctx: Ctx, table: pa.Table, queries: list[tuple]) -> None:
    """Drain one small file through each of the workload's queries
    (name, layer, build), all at once, so measured queries start with
    warm Python workers, JIT, generated code and state-store code.
    Untraced: concurrent drains would nest each other's spans."""
    src = ctx.fresh("warm", "in")
    E.publish(src, "part-0.parquet", table.slice(0, 1000), time.time())
    traced, ctx.tracer.enabled = ctx.tracer.enabled, False
    try:
        drains = [Drain(ctx, name, layer, build, src, ctx.fresh("warm", name), max_files=None)
                  for name, layer, build in queries]
        for d in drains:
            d.finish()
    finally:
        ctx.tracer.enabled = traced


# --- stream_catchup --------------------------------------------------------------

class StreamCatchup:
    ROWS = 12_000
    CONVS = 2_000
    # 11 data files and the closer, 6 per trigger: two data triggers,
    # then the no-data trigger that emits what the closer finalized
    FILES = 11
    FILES_PER_TRIGGER = 6

    def setup(self, ctx: Ctx, seconds: float) -> None:
        with ctx.tracer.span("generate", "sources.generator"):
            self.table = E.generate_rows(ctx.seed, self.ROWS, self.CONVS)
        self.src = ctx.fresh("catchup", "in")
        self.file_rows = E.write_backlog(self.src, self.table, self.FILES)
        _warm_streams(ctx, self.table, [(name, q[0], q[1]) for name, q in STREAM_QUERIES.items()])

    def round_(self, ctx: Ctx, k: int) -> dict:
        t0 = time.time()
        drains = []
        for name, (layer, build, _, _) in STREAM_QUERIES.items():
            root = ctx.fresh("catchup", f"round-{k}", name)
            drains.append(Drain(ctx, name, layer, build, self.src, root,
                                max_files=self.FILES_PER_TRIGGER).finish())
        return {"start": t0, "wall": time.time() - t0, "drains": drains}

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        """Whole rounds, at least one; another starts only if a round of
        the mean length so far still ends within ``seconds``."""
        rounds = []
        t0 = time.time()
        while True:
            rounds.append(self.round_(ctx, len(rounds)))
            elapsed = time.time() - t0
            if elapsed + elapsed / len(rounds) > seconds:
                return {"rounds": rounds}
            # keep only the latest round's output on disk
            shutil.rmtree(os.path.join(ctx.work, "catchup", f"round-{len(rounds) - 1}"),
                          ignore_errors=True)

    def e2e(self, m: dict) -> dict:
        """Every backlog file is due when its round starts: the backlog
        has landed, and the four queries drain it one after another."""
        drains = [d for r in m["rounds"] for d in r["drains"]]
        lags, got = [], 0
        for r in m["rounds"]:
            for d in r["drains"]:
                lag, n = lags_and_delivered(d, self.file_rows, [r["start"]] * self.FILES, d.ended)
                lags += lag
                got += n
        epochs = [p["durationMs"]["triggerExecution"] for d in drains for p in d.progress
                  if p.get("numInputRows", 0)]
        wall = sum(r["wall"] for r in m["rounds"])
        return _stream_e2e(self.ROWS * len(m["rounds"]) / wall, epochs, lags,
                           delivered=got / (self.ROWS * len(drains)))

    def describe(self, m: dict) -> list[dict]:
        return describe([d for r in m["rounds"] for d in r["drains"]])

    def layers(self, m: dict) -> dict:
        out = stream_layers([d for r in m["rounds"] for d in r["drains"]])
        for op, t in m["batch_s"].items():
            out[f"batch.{op}_s"] = t
        return out

    def eventlog_layers(self, ev: dict[str, dict]) -> dict:
        """Shuffle, spill and task skew of the gate's batch actions."""
        out = {}
        for op in BATCH_OPS:
            rec = ev.get(f"gate:{op}", {})
            out[f"batch.{op}.shuffle_write_bytes"] = rec.get("shuffle_write_bytes", 0)
            out[f"batch.{op}.spill_bytes"] = rec.get("spill_bytes", 0)
            out[f"batch.{op}.task_skew"] = rec.get("task_skew", 1.0)
        return out

    def primary(self, e2e: dict) -> float:
        """Seconds per row: the end-to-end figure tracing overhead is
        measured on."""
        return 1.0 / e2e["throughput_rows_per_s"]

    def gate(self, ctx: Ctx, m: dict) -> bool:
        sinks = [(d, *STREAM_QUERIES[d.name][2:]) for d in m["rounds"][-1]["drains"]]
        ok, m["batch_s"] = gate(ctx, self.src, self.table, list(BATCH_OPS), sinks)
        return ok


# --- stream_live -------------------------------------------------------------------

class StreamLive:
    # rows per second offered: well below capacity, so a trigger's fixed
    # cost, not its rows, sets its duration
    RATE = 400
    TICK_S = 0.1  # one file per tick
    CONVS = 2_000
    LATE_FRAC = 0.05
    GRACE_S = 4.0  # after the last tick, time allowed to commit what was offered
    LEAD_S = 1.0  # schedule start after the query starts

    def setup(self, ctx: Ctx, seconds: float) -> None:
        self.n_files = max(1, int(round(seconds / self.TICK_S)))
        per_file = int(self.RATE * self.TICK_S)
        with ctx.tracer.span("generate", "sources.generator"):
            self.table = E.generate_rows(ctx.seed, self.n_files * per_file, self.CONVS,
                                         late_frac=self.LATE_FRAC)
        self.files = E.split_files(self.table, self.n_files)
        self.closer = E.closer_table(E.max_ts(self.table))
        _warm_streams(ctx, self.table, [LIVE_QUERY[:3]])

    def _generate(self, ctx: Ctx, src: str, due: list[float], late: list[float]) -> None:
        """Open-loop, single-threaded: file i is published at due[i]
        whatever the engine is doing; a late write is recorded, never
        skipped or re-timed."""
        for i, (tbl, d) in enumerate(zip(self.files, due)):
            wait = d - time.time()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, time.time() - d) * 1e3)
            with ctx.tracer.span("publish", "sources.generator"):
                E.publish(src, f"part-{i:06d}.parquet", tbl, d)

    def measure(self, ctx: Ctx, seconds: float) -> dict:
        src = ctx.fresh("live", "in")
        name, layer, build, _, _ = LIVE_QUERY
        drain = Drain(ctx, name, layer, build, src, ctx.fresh("live", "q"), max_files=None,
                      available_now=False)
        t0 = time.time() + self.LEAD_S
        due = [t0 + i * self.TICK_S for i in range(self.n_files)]
        m = {"drain": drain, "due": due, "late_ms": [], "t0": t0, "src": src}

        def waiter():
            gen = threading.Thread(target=self._generate, args=(ctx, src, due, m["late_ms"]),
                                   name="open-loop")
            gen.start()
            gen.join()
            end = due[-1] + self.GRACE_S
            while time.time() < end and _ingested(drain.query) < self.table.num_rows:
                time.sleep(0.05)
            m["end"] = min(end, time.time())
            # close the stream: the closer's trigger moves the watermark
            # past every row; the no-data trigger after it fires the
            # last timeouts
            E.publish(src, f"part-{self.n_files:06d}.parquet", self.closer, due[-1] + 1.0)
            deadline = time.time() + 60
            while time.time() < deadline and not _closed(drain.query, self.table.num_rows + 1):
                time.sleep(0.05)

        drain.finish(waiter)
        ctx.attempted += len(m["late_ms"])
        ctx.failed += self.late_files(m)
        return m

    def e2e(self, m: dict) -> dict:
        d, end = m["drain"], m["end"]
        rows = [t.num_rows for t in self.files]
        lags, got = lags_and_delivered(d, rows, m["due"], end)
        epochs = [p["durationMs"]["triggerExecution"] for p in d.progress
                  if p.get("numInputRows", 0) and E.progress_time(p) < end]
        last_commit = max((r["committed_at"] for r in d.body.epochs.values()
                           if r["committed_at"] <= end), default=end)
        return _stream_e2e(got / (last_commit - m["t0"]), epochs, lags, got / sum(rows))

    def describe(self, m: dict) -> list[dict]:
        return describe([m["drain"]])

    def layers(self, m: dict) -> dict:
        out = stream_layers([m["drain"]])
        out["gen_late_ms_max"] = max(m["late_ms"])
        return out

    def primary(self, e2e: dict) -> float:
        return e2e["emit_lag_ms_p50"]

    def late_files(self, m: dict) -> int:
        """Files the generator published more than one tick late; any
        makes the run invalid."""
        return sum(1 for x in m["late_ms"] if x > self.TICK_S * 1e3)

    def gate(self, ctx: Ctx, m: dict) -> bool:
        ok, _ = gate(ctx, m["src"], self.table, ["match_pairs"], [(m["drain"], *LIVE_QUERY[3:])])
        return ok


def _ingested(query) -> int:
    return sum(p["numInputRows"] for p in E.progress_of(query))


def _closed(query, total: int) -> bool:
    """All rows ingested and at least one trigger ran after the one that
    took the last rows (the no-data trigger that fires the timeouts)."""
    prog = E.progress_of(query)
    acc = 0
    for i, p in enumerate(prog):
        acc += p["numInputRows"]
        if acc >= total:
            return i + 1 < len(prog)
    return False


WORKLOADS = {
    "stream_catchup": StreamCatchup,
    "stream_live": StreamLive,
}
