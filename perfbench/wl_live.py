"""``live_ticks``: an open-loop replay of seeded ticks through the
supervised live pipeline (``streaming/pipeline.py:live_tick_pipeline``
under ``streaming/lifecycle.py:supervise``), with its 1 s
processing-time trigger and its ledger and daily-summary sinks.

The ticks are cut in event-time order into one warm-up file of
``WARM_TICKS`` (enough history for the trailing z-score that trades
close in the warm-up and in every timed file) and files of
``FILE_TICKS``, written ahead of time to a staging directory. The keys
are many enough that every no-data batch closes trades: each key's
last tick is held back until the watermark passes it, so the no-data
batch after a file releases one tick per key, and with few keys
whether any of them closes a trade (and the batch runs its sinks)
varies from file to file. The warm-up file runs through the query
during set-up. In the timed phase a generator thread renames one file
into the source directory every ``GAP_S`` seconds, on a fixed schedule
that does not wait for the query, at least ``MIN_FILES`` files so the
per-file medians are not set by one file. A file's latency runs from
when it was due to the commit of the micro-batch that read it: the
first progress entry whose ``sources[0].endOffset.logOffset`` covers
the file's offset in the file-source log (batch ids do not match log
offsets, because no-data batches interleave). A file not committed
within ``LAG_LIMIT_S`` of its due time counts as failed.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from datetime import datetime
from pathlib import Path
from statistics import median

import numpy as np
import pyarrow.parquet as pq

import eventlog
import inputs
import procs
from stats import tail

USERS = 200
WARM_TICKS = 8000
FILE_TICKS = 1000
GAP_S = 12.0
MIN_FILES = 2
LAG_LIMIT_S = 30.0
NODATA_WAIT_S = 8.0


def _n_timed(seconds: float) -> int:
    return max(MIN_FILES, math.ceil(seconds / GAP_S))


def _tables(seconds: float) -> dict:
    return {"events": {"n": WARM_TICKS + _n_timed(seconds) * FILE_TICKS, "users": USERS}}


def make_inputs(sf_dir: Path, seed: int, seconds: float) -> None:
    inputs.write_tables(sf_dir, seed, _tables(seconds))


def _stage(sf_dir: Path, stage: Path) -> list[Path]:
    ticks = pq.read_table(sf_dir / "events.parquet")
    stage.mkdir(parents=True)
    cuts = [0, *range(WARM_TICKS, ticks.num_rows, FILE_TICKS), ticks.num_rows]
    files = []
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        f = stage / f"{i:05d}.parquet"
        pq.write_table(ticks.slice(a, b - a), f)
        files.append(f)
    return files


def _plain(p) -> dict:
    """A progress entry as plain JSON values (nested offsets included)."""
    return json.loads(p.json)


def _log_offset(p: dict) -> int:
    """Last file-source log offset a progress entry covers, -1 if none."""
    end = p["sources"][0]["endOffset"]
    return end["logOffset"] if end else -1


def _trades(ledger_dir: Path) -> dict[int, int]:
    """Ledger rows each micro-batch wrote, by batch id: the sink writes
    every epoch into its own ``batch_id=<epoch>`` partition."""
    out: dict[int, int] = {}
    for f in ledger_dir.glob("batch_id=*/**/*.parquet"):
        epoch = int(f.relative_to(ledger_dir).parts[0].split("=")[1])
        out[epoch] = out.get(epoch, 0) + pq.ParquetFile(f).metadata.num_rows
    return out


def _epoch(progress: dict) -> float:
    """Wall time at which a progress entry's micro-batch committed."""
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() + progress["durationMs"]["triggerExecution"] / 1000.0


class Replay:
    """Feeds files on schedule and follows the query until they are
    committed; ``until`` is the supervisor's completion test.

    The timed phase is measured over busy spans only: a span opens when
    a file is due while no span is open and closes when every renamed
    file is committed and the no-data batch after the last one has run.
    Each file is charged the wall and CPU time of its span (shared
    equally when files queue into one span), so the generator's idle
    gaps are left out and the figures move with the pipeline's work,
    not its schedule.
    """

    def __init__(self, files: list[Path], src: Path, n_timed: int):
        self.files, self.src, self.n_timed = files, src, n_timed
        self.pid = os.getpid()
        self.renamed = 0
        self.due: list[float] = []
        self.late: list[float] = []
        self.backlog_max = 0
        self.t_timed = None
        self.warm_batches = 0
        self.progress: list[dict] = []
        # per timed file: wall and CPU seconds of the busy span it was
        # in, shared equally when files queue into one span
        self.file_wall: list[float] = []
        self.file_cpu: list[float] = []
        # (time, tree CPU) at every poll of the timed phase, to price
        # each micro-batch in CPU seconds
        self.cpu_trace: list[tuple[float, float]] = []
        # (due time, tree CPU, files renamed before it) of the open span
        self._span = None
        self._t_commit = None  # when every renamed file was first committed
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._feed, daemon=True)
        self._drop(0)

    def _drop(self, i: int) -> None:
        os.rename(self.files[i], self.src / self.files[i].name)
        self.renamed = i + 1
        self._t_commit = None

    def _feed(self) -> None:
        for k in range(self.n_timed):
            due = self.t_timed + k * GAP_S
            time.sleep(max(0.0, due - time.time()))
            with self._lock:
                if self._span is None:
                    self._span = (due, procs.tree_cpu_s(self.pid), self.renamed)
                self._drop(1 + k)
                self.due.append(due)
                self.late.append(time.time() - due)

    def _settled(self, p: dict | None, idle: bool, now: float) -> float | None:
        """End time of the work on every renamed file: the commit of the
        no-data batch after the last one, once the query is idle; or
        ``now`` when no such batch came within ``NODATA_WAIT_S``."""
        if p is None or 1 + _log_offset(p) < self.renamed:
            return None
        self._t_commit = self._t_commit or now
        if not idle:
            return None
        if p["numInputRows"] == 0 and "addBatch" in p["durationMs"]:
            return _epoch(p)
        return now if now - self._t_commit > NODATA_WAIT_S else None

    def _close(self, end: float) -> None:
        k = self.renamed - self._span[2]
        self.file_wall += [(end - self._span[0]) / k] * k
        self.file_cpu += [(procs.tree_cpu_s(self.pid) - self._span[1]) / k] * k
        self._span = None

    def batch_cpu_s(self, p: dict) -> float:
        """Tree CPU seconds over a micro-batch, interpolated between the
        polls around its start and commit."""
        ts, cpu = zip(*self.cpu_trace)
        end = _epoch(p)
        start = end - p["durationMs"]["triggerExecution"] / 1000.0
        return float(np.interp(end, ts, cpu) - np.interp(start, ts, cpu))

    def until(self, q) -> bool:
        p = q.lastProgress
        p = _plain(p) if p else None
        idle = not q.status["isTriggerActive"] and not q.status["isDataAvailable"]
        now = time.time()
        with self._lock:
            if self.t_timed is None:
                if self._settled(p, idle, now) is not None:
                    self.warm_batches = len(q.recentProgress)
                    # the 1 s trigger fires on whole epoch seconds: files
                    # due 0.1 s before one wait the same for it every time
                    self.t_timed = math.ceil(now + 0.2) - 0.1
                    self.cpu_trace.append((now, procs.tree_cpu_s(self.pid)))
                    self._thread.start()
                return False
            self.cpu_trace.append((now, procs.tree_cpu_s(self.pid)))
            committed = 1 + _log_offset(p) if p else 0
            self.backlog_max = max(self.backlog_max, self.renamed - committed)
            if self._span is not None and (end := self._settled(p, idle, now)) is not None:
                self._close(end)
            if self._thread.is_alive():
                return False
            if self._span is None:
                return True
            if now > self.due[-1] + LAG_LIMIT_S:
                self._close(now)
                return True
            return False


def _rollup(led):
    from pyspark.sql import functions as F

    return led.groupBy(F.date_format("exit_ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).alias("n_wins"),
    )


def _streamed(r) -> tuple:
    """A streamed trade at the batch twin's precision and rounding rule
    (prices to 1e-6, pnl to whole micro-units, Spark's HALF_UP)."""
    from zcode_iceberg_spark.streaming.pipeline import spark_round

    return (
        r["side"],
        spark_round(r["entry_price"]),
        spark_round(r["exit_price"]),
        r["exit_reason"],
        spark_round(r["pnl"] * 1e6, "1"),
    )


def _batch(r) -> tuple:
    """A batch-twin trade; its prices are rounded and its pnl is whole
    micro-units over 1e6 already."""
    return (r["side"], r["entry_price"], r["exit_price"], r["exit_reason"], round(r["pnl"] * 1e6))


def check(spark, sf: str, ledger_dir: str, summary_dir: str, failures: list[str]) -> bool:
    """Streamed ledger rows equal the batch twin's rows with the same
    (user_id, trade_seq) and are not empty; the daily summary equals
    the ledger's own rollup."""
    from zcode_iceberg_spark.suite.stateful import q_live_pipeline_ledger

    try:
        led = spark.read.parquet(ledger_dir)
        got = {(r["user_id"], r["trade_seq"]): _streamed(r) for r in led.collect()}
        want = {
            (r["user_id"], r["trade_seq"]): _batch(r)
            for r in q_live_pipeline_ledger(spark, sf).collect()
        }
        roll = {r["day"]: (r["n_trades"], r["n_wins"]) for r in _rollup(led).collect()}
        summ = {
            str(r["day"]): (r["n_trades"], r["n_wins"])
            for r in spark.read.parquet(summary_dir).collect()
        }
    except Exception as e:  # an unreadable sink is a wrong output
        failures.append(f"live check: {e!r:.300}")
        return False
    ok = True
    if not got:
        failures.append("live check: streamed ledger is empty")
        ok = False
    wrong = [k for k, v in got.items() if want.get(k) != v]
    if wrong:
        k = wrong[0]
        failures.append(
            f"live check: {len(wrong)} ledger rows differ from the batch twin, "
            f"e.g. {k}: streamed {got[k]}, batch {want.get(k)}"
        )
        ok = False
    if summ != roll:
        failures.append("live check: daily summary differs from the ledger rollup")
        ok = False
    return ok


def run(spark, run_dir: Path, seed: int, seconds: float, trace: bool) -> dict:
    from zcode_iceberg_spark.streaming.lifecycle import supervise
    from zcode_iceberg_spark.streaming.pipeline import live_tick_pipeline

    sf = run_dir / "data"
    src = run_dir / "src"
    src.mkdir()
    files = _stage(sf, run_dir / "stage")
    n_timed = _n_timed(seconds)

    t = time.time()
    replay = Replay(files, src, n_timed)
    start, ledger_dir, summary_dir = live_tick_pipeline(spark, str(src), str(sf), str(run_dir / "out"))
    define_s = time.time() - t

    def until(q) -> bool:
        done = replay.until(q)
        if done:
            replay.progress = [_plain(p) for p in q.recentProgress]
        return done

    report = supervise(start, until=until)
    failures = list(report["failures"])
    if not report["completed"]:
        failures.append("live: supervisor gave up")

    timed = replay.progress[replay.warm_batches:]
    lat = []
    for k, due in enumerate(replay.due):
        off = 1 + k
        hit = next((p for p in timed if _log_offset(p) >= off), None)
        lag = _epoch(hit) - due if hit else None
        if lag is None or lag > LAG_LIMIT_S:
            failures.append(f"live: file {off} not committed within {LAG_LIMIT_S} s")
        else:
            lat.append(lag)
    failed = len(replay.due) - len(lat)
    if not check(spark, str(sf), ledger_dir, summary_dir, failures):
        failed = len(replay.due)

    trades = _trades(Path(ledger_dir))
    data = [p for p in timed if p["numInputRows"] > 0]
    nodata = [p for p in timed if p["numInputRows"] == 0 and "addBatch" in p["durationMs"]]
    trig = lambda ps: [p["durationMs"]["triggerExecution"] / 1000.0 for p in ps]  # noqa: E731
    tail_p, tail_v = tail(lat) if lat else ("max", LAG_LIMIT_S)
    res = {
        "t_timed": replay.t_timed,
        "attempted": len(replay.due),
        "failed": failed,
        "failures": failures,
        "progress": timed,
        "e2e": {
            "wall_s": median(replay.file_wall) if replay.file_wall else 0.0,
            "cpu_s": median(replay.file_cpu) if replay.file_cpu else 0.0,
            "latency_s_p50": median(lat) if lat else LAG_LIMIT_S,
            "latency_s_tail": tail_v,
            "build_s_p50": median(trig(data)) if data else 0.0,
            "probe_s_p50": median(trig(nodata)) if nodata else 0.0,
            "build_cpu_s_p50": median(map(replay.batch_cpu_s, data)) if data else 0.0,
            "probe_cpu_s_p50": median(map(replay.batch_cpu_s, nodata)) if nodata else 0.0,
        },
        "layers": {
            "session.warm_s": replay.t_timed - t - define_s,
            "streaming.define_s": define_s,
        },
        "noise": {
            "generator_late_s": replay.late,
            # (log offset, input rows, seconds, trades written) of every
            # timed micro-batch
            "batches": [
                (
                    _log_offset(p),
                    p["numInputRows"],
                    p["durationMs"]["triggerExecution"] / 1000.0,
                    trades.get(p["batchId"], 0),
                )
                for p in timed
            ],
            "latency_tail_stat": tail_p,
            "latency_n": len(lat),
            "restarts": report["restarts"],
        },
    }
    if trace:
        res["layers"].update(stream_layers(replay, data, nodata, run_dir / "out"))
    return res


def trace_layers(res: dict, events: list[dict]) -> dict:
    """exec, operators, plan and sink-write numbers per timed file."""
    log = eventlog.Log(events)
    batches = {str(p["batchId"]) for p in res["progress"]}
    jobs = [j for j in log.jobs.values() if j["batch"] in batches]
    n = max(1, res["attempted"])
    out = {k: v / n for k, v in log.totals(jobs).items()}
    out.update({k: v / n for k, v in log.plan_totals(jobs).items()})
    out["sources.sink_write_s"] = sum(j["t1"] - j["t0"] for j in jobs if log.writes(j)) / 1e3 / n
    return out


def stream_layers(replay: Replay, data: list[dict], nodata: list[dict], out: Path) -> dict:
    def med(ps, key):
        return median(key(p) for p in ps) if ps else 0.0

    def state(p, field):
        return sum(s.get(field, 0) for s in p["stateOperators"])

    last = (data or nodata)[-1]
    sink = [f for d in ("ledger", "daily_summary") for f in (out / d).rglob("*.parquet")]
    n = max(1, len(replay.due))
    return {
        "streaming.batch_s": med(data, lambda p: p["durationMs"]["triggerExecution"] / 1000.0),
        "streaming.nodata_batch_s": med(nodata, lambda p: p["durationMs"]["triggerExecution"] / 1000.0),
        "streaming.nodata_per_file": len(nodata) / n,
        "streaming.add_batch_s": med(data, lambda p: p["durationMs"].get("addBatch", 0) / 1000.0),
        "streaming.plan_s": med(data, lambda p: p["durationMs"].get("queryPlanning", 0) / 1000.0),
        "streaming.wal_s": med(
            data,
            lambda p: (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1000.0,
        ),
        "streaming.state_rows": state(last, "numRowsTotal"),
        "streaming.state_mem_mb": state(last, "memoryUsedBytes") / 2**20,
        "streaming.state_commit_s": med(data, lambda p: state(p, "commitTimeMs") / 1000.0),
        "streaming.rows_updated": sum(state(p, "numRowsUpdated") for p in data + nodata) / n,
        "streaming.backlog_files_max": replay.backlog_max,
        "streaming.generator_late_s_max": max(replay.late, default=0.0),
        "sources.sink_files": len(sink),
        "sources.sink_mb": sum(f.stat().st_size for f in sink) / 2**20,
    }
