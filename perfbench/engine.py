"""Everything the benchmark does through Spark and the engine's public
functions: session start, seeded input files, the per-epoch sink body,
and the reduction of Spark's own progress reports and event log into
per-layer numbers.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from stellar_etl_spark.config import EngineConfig
from stellar_etl_spark.sources.generator import generate_transcripts
from stellar_etl_spark.streaming.sink import EpochCommitSink, lineage_of

# one state-store partition per core: at local[4] every trigger is one
# task wave
SHUFFLE_PARTITIONS = 4
JVM_HEAP = "1g"
# C1 only. A run measures within the JVM's first minute, while C2 is
# still compiling: with tiered compilation a catch-up round on a 4-vCPU
# VM fell from 21 s to 11 s over five rounds, so the measured round sat on that slope
# and its time moved with the CPU the compiler threads got. C1 reaches
# its plateau within the first round. C1 alone defaults to a 48 MB code
# cache, which filled within a minute and disabled the compiler; 240 MB
# is the tiered default.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
# The generator splits sessions on 30-minute gaps; the engine default
# (8 hours) is sized for the events-derived table.
CFG = EngineConfig(session_gap="30 minutes")
WATERMARK_S = 600  # CFG.watermark_delay
CLOSER = "__closer__"
# Closer event time sits this far past max ts + the watermark delay, so
# the final watermark clears every session end (max ts + 30 min) and
# every sliding-window end.
CLOSER_SLACK_S = 86400


def start_session(work: str, cores: int, event_log: bool):
    """A fresh SparkSession at local[cores] whose scratch, warehouse and
    event log stay under ``work``. The JVM is launched by the first call
    only; later calls start a new SparkContext in the same JVM."""
    from stellar_etl_spark.session import get_spark

    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    tmp = os.path.join(work, "jvm-tmp")
    ev = os.path.join(work, "eventlog")
    for d in (tmp, ev):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JIT_OPTS}",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
        "spark.eventLog.enabled": str(event_log).lower(),
        "spark.eventLog.dir": ev,
        "spark.eventLog.compress": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    cfg = EngineConfig(
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        session_gap=CFG.session_gap,
        extra_conf=conf,
    )
    spark = get_spark(cfg, app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- inputs -----------------------------------------------------------------

def generate_rows(seed: int, n_rows: int, n_convs: int, late_frac: float = 0.0) -> pa.Table:
    """The first ``n_rows`` rows, in arrival order, of the generator's
    output for ``seed``. A fixed row count keeps the work per run equal
    across seeds; the prefix of a time-ordered stream keeps a prefix of
    every conversation, so ts stays monotone in turn_idx.

    ``late_frac`` delays that share of rows by 2 minutes of event time
    (the generator shifts late rows by twice ``watermark_s``), inside
    the 10-minute watermark delay: no row can arrive behind the
    watermark."""
    t = generate_transcripts(n_convs, seed=seed, late_frac=late_frac, watermark_s=60)
    if t.num_rows < n_rows:
        raise ValueError(f"seed {seed}: {t.num_rows} rows < {n_rows} needed")
    return t.slice(0, n_rows)


def split_files(table: pa.Table, n_files: int) -> list[pa.Table]:
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    return [table.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n_files)]


def publish(dir_: str, name: str, table: pa.Table, mtime: float) -> None:
    """Write under a hidden name, set the mtime, then rename into place:
    the file source never sees a partial file, and pickup order is the
    mtime order."""
    tmp = os.path.join(dir_, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, os.path.join(dir_, name))


def closer_table(max_ts: np.datetime64) -> pa.Table:
    """One sentinel row of a reserved conversation with a reserved,
    non-null tool (a pushed-down ``tool IS NOT NULL`` filter must not
    drop it), event time past max ts + the watermark delay: its trigger
    moves the final watermark past every real row, and the no-data
    trigger after it fires every pending event-time timeout and emits
    every window and session."""
    return pa.table(
        {
            "conv_id": [CLOSER],
            "turn_idx": pa.array([0], pa.int32()),
            "role": ["assistant"],
            "text": ["closer"],
            "tool": [CLOSER],
            "ts": pa.array([max_ts + np.timedelta64(WATERMARK_S + CLOSER_SLACK_S, "s")],
                           pa.timestamp("us")),
        }
    )


def write_backlog(dir_: str, table: pa.Table, n_files: int) -> list[int]:
    """A time-ordered backlog of ``n_files`` data files plus the closer
    file, with strictly increasing mtimes; returns the data files' row
    counts."""
    os.makedirs(dir_, exist_ok=True)
    parts = split_files(table, n_files)
    files = parts + [closer_table(max_ts(table))]
    t0 = time.time() - 2.0 * len(files)
    for i, part in enumerate(files):
        publish(dir_, f"part-{i:05d}.parquet", part, t0 + 2.0 * i)
    return [p.num_rows for p in parts]


def max_ts(table: pa.Table) -> np.datetime64:
    return np.datetime64(pa.compute.max(table["ts"]).as_py(), "us")


# --- the per-epoch sink body ---------------------------------------------------

class EpochBody:
    """The foreachBatch body of every streaming query: materialize the
    micro-batch once, take its lineage, commit it to the epoch sink.
    Records per-epoch timings; spans go to ``tracer`` under ``parent``
    (the body runs on the Py4J callback thread)."""

    def __init__(self, sink_root: str, table: str, tracer, op_layer: str, parent=None):
        self.sink = EpochCommitSink(sink_root)
        self.sink_root = sink_root
        self.table = table
        self.tracer = tracer
        self.op_layer = op_layer
        self.parent = parent
        self.epochs: dict[int, dict] = {}

    def __call__(self, batch_df, epoch_id: int) -> None:
        tr = self.tracer
        rec: dict = {}
        with tr.span("foreach_batch", "streaming.pipeline", parent=self.parent, epoch=epoch_id):
            batch_df = batch_df.persist()
            try:
                t0 = time.time()
                with tr.span("materialize", self.op_layer, epoch=epoch_id):
                    rec["rows_out"] = batch_df.count()
                t1 = time.time()
                with tr.span("lineage_of", "streaming.sink", epoch=epoch_id):
                    lineage = lineage_of(batch_df)
                t2 = time.time()
                with tr.span("write_epoch", "streaming.sink", epoch=epoch_id):
                    rec["written"] = self.sink.write_epoch(
                        epoch_id, {self.table: batch_df}, lineage=lineage
                    )
                t3 = time.time()
            finally:
                batch_df.unpersist()
        rec.update(
            materialize_ms=(t1 - t0) * 1e3,
            lineage_ms=(t2 - t1) * 1e3,
            write_epoch_ms=(t3 - t2) * 1e3,
            committed_at=t3,
            nonempty_partitions=sum(1 for n in lineage["partitions"].values() if n),
        )
        self.epochs[epoch_id] = rec

    def epoch_bytes(self, epoch_id: int) -> int:
        d = os.path.join(self.sink_root, "data", self.table, f"epoch={epoch_id}")
        total = 0
        for root, _, files in os.walk(d):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total


def start_stream(stream_df, name: str, body: EpochBody, ckpt: str, available_now: bool):
    w = (
        stream_df.writeStream.queryName(name)
        .outputMode("append")
        .foreachBatch(body)
        .option("checkpointLocation", ckpt)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def progress_of(query) -> list[dict]:
    """Every progress report of a query, one per executed trigger."""
    out = {}
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        out[d["batchId"]] = d
    return [out[k] for k in sorted(out)]


# --- Spark's own numbers per layer ---------------------------------------------

DURATION_KEYS = {
    "source.latest_offset_ms": "latestOffset",
    "source.get_batch_ms": "getBatch",
    "trigger.add_batch_ms": "addBatch",
    "trigger.query_planning_ms": "queryPlanning",
    "trigger.wal_commit_ms": "walCommit",
    "trigger.commit_offsets_ms": "commitOffsets",
}
# the trigger's phases in execution order (MicroBatchExecution)
PHASES = [
    ("latestOffset", "streaming.source"),
    ("walCommit", "streaming.pipeline"),
    ("getBatch", "streaming.source"),
    ("queryPlanning", "streaming.pipeline"),
    ("addBatch", "streaming.pipeline"),
    ("commitOffsets", "streaming.pipeline"),
]


def is_cep(op: dict) -> bool:
    """A Python-stateful (CEP) operator, as opposed to JVM aggregation
    state."""
    return "WithState" in op.get("operatorName", "")


def state_ops(progress: list[dict], cep: bool) -> list[list[dict]]:
    return [[op for op in p.get("stateOperators", []) if is_cep(op) == cep] for p in progress]


def progress_time(p: dict) -> float:
    """Trigger start as epoch seconds (progress timestamps are UTC ISO)."""
    return pd.Timestamp(p["timestamp"]).timestamp()


def trace_epochs(tracer, progress: list[dict], parent, bodies: dict[int, int]) -> None:
    """Turn each trigger's progress breakdown into an epoch span with one
    child per phase, and re-parent that epoch's foreachBatch body under
    its addBatch phase."""
    if not tracer.enabled:
        return
    for p in progress:
        start = progress_time(p)
        dur = p.get("durationMs", {})
        total = dur.get("triggerExecution", 0) / 1e3
        eid = tracer.add("epoch", "streaming.pipeline", start, start + total, parent, epoch=p["batchId"])
        t = start
        for key, layer in PHASES:
            d = dur.get(key, 0) / 1e3
            if not d:
                continue
            pid = tracer.add(key, layer, t, t + d, eid, epoch=p["batchId"])
            if key == "addBatch" and p["batchId"] in bodies:
                tracer.spans[bodies[p["batchId"]]]["parent"] = pid
            t += d


def eventlog_actions(ev_dir: str) -> dict[str, dict]:
    """Reduce the local Spark event log to per job-group numbers: bytes
    of shuffle written, bytes spilled, and max / median task time per
    stage (the worst stage of the group)."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[float]] = {}
    out: dict[str, dict] = {}
    # Spark 4 rolls each application's log into eventlog_v2_<app>/events_<n>_<app>
    paths = []
    for root, _, files in os.walk(ev_dir):
        for name in files:
            if name.startswith("events_"):
                paths.append((root, int(name.split("_")[1]), os.path.join(root, name)))
    for _, _, path in sorted(paths):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        for sid in e.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    g = stage_group.get(sid)
                    if g is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    rec = out.setdefault(g, {"shuffle_write_bytes": 0, "spill_bytes": 0})
                    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tasks.setdefault(sid, []).append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    for sid, ts in tasks.items():
        if len(ts) < 2:
            continue
        med = float(np.median(ts))
        skew = max(ts) / med if med > 0 else 1.0
        rec = out[stage_group[sid]]
        rec["task_skew"] = max(rec.get("task_skew", 1.0), skew)
    return out


# --- correctness --------------------------------------------------------------

def value_hash(pdf: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive hash) of a result. Columns are
    taken in name order; numbers compare at 6 decimal places whatever
    their type, timestamps as naive-UTC microseconds, nulls as nulls."""
    cols = {}
    for c in sorted(pdf.columns):
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            v = s.astype("datetime64[us]").astype("int64").astype(str)
            v[s.isna()] = "null"
        elif pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            f = s.astype("float64").round(6)
            v = f.map("{:.6f}".format)
            v[f.isna()] = "null"
        else:
            v = s.astype(object).where(s.notna(), "null").map(str)
        cols[c] = v.to_numpy()
    frame = pd.DataFrame(cols)
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    return len(frame), int(h.sum(dtype=np.uint64))


def same_values(name: str, got: pd.DataFrame, want: pd.DataFrame, log) -> bool:
    g, w = value_hash(got), value_hash(want)
    if g == w:
        return True
    log(f"MISMATCH {name}: got {g[0]} rows, want {w[0]} rows")
    return False
