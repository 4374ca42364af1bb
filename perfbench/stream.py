"""``tick_stream``: the reference pipeline's write path, in two phases.

* **Ingest** (open loop). The generator writes seeded finnhub-shaped JSON
  files into the source directory on a fixed schedule, one file every
  ``INTERVAL_S``, whatever the stream is doing. The stream is
  ``kafka_shaped_file_stream`` → ``finnhub_pipeline`` (decode, gate, sha2
  key, watermarked ``dropDuplicates``) → the idempotent parquet sink
  (``foreach_batch_idempotent_parquet``), on a fixed ``TRIGGER_S``
  processing-time trigger with room for a batch on a loaded box. The
  schedule is aligned to the trigger's clock, so every run cuts the files
  into the same micro-batches, however fast each batch runs, and the CPU
  per message measures the same work. That CPU runs from the sink call of
  the batch that reads the first scheduled file to the end of the last
  batch, and is divided by the messages those batches read. A file's
  latency runs from the time it was *due* to the end of the micro-batch
  that consumed it; the batch is read from the checkpoint's ``sources/0``
  file log. One warm-up file is consumed before the schedule starts, so
  its batch carries the cold start (reported as ``cold.first_pass_s`` and,
  by CPU, as ``cold_cpu_s``).
* **Indicator** (closed; traced run only). The same files, plus a
  far-future sentinel tick that lets the watermark release every buffered
  tick, are replayed through ``finnhub_pipeline`` without its dedup into
  ``rsi_stream`` and a memory sink. (Spark refuses a second watermark on the
  deduplicated stream, and this is the configuration the engine runs the
  indicator in.) It costs about 16 s of fixed query, Python-worker and
  micro-batch start-up per run, which the untraced runs cannot afford
  within the benchmark's time budget; its rate is a per-layer metric.

Checks: the sink holds exactly the generator's ledger of distinct valid
ticks (none missing, no duplicate ``id``), and the RSI rows equal
``rsi_fold`` over each symbol's valid ticks — the ledger plus the re-sent
copies the indicator does not deduplicate — sorted by event time.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import fixtures
from cputime import tree_cpu_s

#: Open-loop schedule: one file every INTERVAL_S seconds of PER_FILE
#: messages (248 msgs/s at sf0.1).
INTERVAL_S = 0.25
#: Micro-batch trigger interval. Spark fires a processing-time trigger on
#: multiples of the interval since the epoch; files are written between
#: firings (see ``run``). A batch of 20 files took 1.5–3.7 s on a loaded
#: 4-core box, so batches do not run into the next firing.
TRIGGER_S = 5.0
PER_TRIGGER = round(TRIGGER_S / INTERVAL_S)  # files each micro-batch reads
PER_FILE = {"sf0.1": 62, "smoke": 20}
#: The indicator replay reads the files in this many micro-batches.
INDICATOR_BATCHES = 2
SENTINEL_SYMBOL = "ZZZZ"


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _epoch(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _file_batches(checkpoint: str) -> dict[str, int]:
    """File name → id of the micro-batch that read it. The file source's
    log (``sources/0``, plain and compacted entries) gives each file the
    source log offset it was listed under; the query's offset log
    (``offsets/<batch>``) gives the last source log offset each batch
    read."""
    log_offset: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    log_offset[os.path.basename(e["path"])] = e["batchId"]
    batch_end: list[tuple[int, int]] = []  # (last source log offset, batch id)
    for path in glob.glob(os.path.join(checkpoint, "offsets", "[0-9]*")):
        with open(path) as f:
            source_offset = json.loads(f.read().splitlines()[2])
        batch_end.append((source_offset["logOffset"], int(os.path.basename(path))))
    batch_end.sort()
    out = {}
    for name, off in log_offset.items():
        out[name] = min(b for last, b in batch_end if last >= off)
    return out


def _epoch_ms(col):
    col = pd.to_datetime(col, utc=True)
    return col.dt.tz_convert(None).astype("datetime64[ms]").astype("int64")


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


class TickRun:
    def __init__(self, spark, run_dir: str, scale: str, traced: bool, drop_row: bool = False):
        self.spark, self.traced = spark, traced
        self.per_file = PER_FILE[scale]
        self.src = os.path.join(run_dir, "ticks")
        self.sink = os.path.join(run_dir, "sink")
        self.cp = os.path.join(run_dir, "cp_ingest")
        self.cp_rsi = os.path.join(run_dir, "cp_rsi")
        #: self-test hook: delete one row from the sink before it is checked
        self.drop_row = drop_row
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0  # wrong or missing output rows
        self.e2e: dict = {}
        self.layers: dict = {}
        self.detail: dict = {}

    def _write_file(self, name: str, lines: list[str]) -> float:
        tmp = os.path.join(self.src, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.src, name))
        return time.time()

    def _start_ingest(self, sink_times: list[float], sink_cpu: dict[int, float]):
        from finance_data_ingestion_pipeline_with_kafka_spark.sources import kafka_shaped_file_stream
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import finnhub_pipeline
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.sinks import (
            foreach_batch_idempotent_parquet,
        )

        ticks = finnhub_pipeline(kafka_shaped_file_stream(self.spark, self.src))
        write = foreach_batch_idempotent_parquet(self.sink)

        def timed_write(batch_df, batch_id):
            sink_cpu[batch_id] = tree_cpu_s()
            t0 = time.perf_counter()
            write(batch_df, batch_id)
            sink_times.append((time.perf_counter() - t0) * 1000.0)

        return (ticks.writeStream.outputMode("append").foreachBatch(timed_write)
                .option("checkpointLocation", self.cp)
                .trigger(processingTime=f"{TRIGGER_S} seconds").start())

    def run(self, seed: int, seconds: float) -> None:
        n_files = max(1, round(seconds / TRIGGER_S)) * PER_TRIGGER
        stream = fixtures.tick_stream(seed, n_files + 1, self.per_file, INTERVAL_S)
        self.attempted = stream.n_messages
        os.makedirs(self.src)
        names = [f"t{i:05d}.json" for i in range(n_files + 1)]
        sink_times: list[float] = []
        sink_cpu: dict[int, float] = {}  # batch id -> tree CPU at its sink call
        t_ingest = time.perf_counter()
        # the warm-up file is there before the query starts, so its first
        # trigger reads it at once rather than at the next firing
        self._write_file(names[0], stream.files[0])
        cpu0 = tree_cpu_s()
        q = self._start_ingest(sink_times, sink_cpu)
        try:
            q.processAllAvailable()
            cold_cpu_s = tree_cpu_s() - cpu0
            # the open loop: each file is written when due, whatever the
            # stream is doing (its micro-batches run on JVM threads). Files
            # are due half an interval off the trigger's firings, so each
            # firing reads the files of the interval before it.
            writes: list[tuple[float, float]] = []  # (due, written)
            t0 = (time.time() // TRIGGER_S + 1) * TRIGGER_S + INTERVAL_S / 2
            for i in range(1, n_files + 1):
                due = t0 + (i - 1) * INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                writes.append((due, self._write_file(names[i], stream.files[i])))
            q.processAllAvailable()
            cpu_end = tree_cpu_s()
        finally:
            q.stop()
        self._ingest_metrics(_progress(q), names, stream.files, writes, sink_times)
        first = self.detail["first_scheduled_batch"]
        msgs = sum(n for b, n in self.detail["rows_in"].items() if b >= first)
        self.e2e["cpu_ms_per_op"] = ((cpu_end - sink_cpu[first]) * 1000.0 / msgs, "ms")
        self.e2e["cold_cpu_s"] = (cold_cpu_s, "s")
        t0 = time.perf_counter()
        self._check_sink(stream.ledger)
        if self.traced:
            self._indicator(stream.ledger, stream.duplicates, len(names))
        print(f"perfbench: ingest phase {t0 - t_ingest:.1f} s, "
              f"checks and indicator {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    def _ingest_metrics(self, progress, names, files, writes, sink_times) -> None:
        # Input rows come from the file log and the generated files: a
        # foreachBatch sink leaves the progress's numInputRows unreliable.
        by_file = _file_batches(self.cp)
        rows_in = {}
        for name, lines in zip(names, files):
            rows_in[by_file[name]] = rows_in.get(by_file[name], 0) + len(lines)
        batches = {p["batchId"]: p for p in progress}
        end = {b: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
               for b, p in batches.items()}
        warm_batch = by_file[names[0]]
        measured = list(zip(names[1:], writes))
        self.detail.update(rows_in=rows_in, first_scheduled_batch=by_file[measured[0][0]])
        lat = [(end[by_file[n]] - due) * 1000.0 for n, (due, _) in measured]
        # batches from the one that read the first measured file on,
        # no-data (state eviction) batches included
        after = [p for b, p in sorted(batches.items()) if b >= by_file[measured[0][0]]]
        loop = [p for p in after if p["batchId"] in rows_in]
        busy = sum(p["durationMs"]["triggerExecution"] for p in after) / 1000.0
        rows = sum(rows_in[p["batchId"]] for p in loop)
        self.e2e = {
            "first_pass_s": (batches[warm_batch]["durationMs"]["triggerExecution"] / 1000.0, "s"),
            "latency_p50_ms": (float(np.percentile(lat, 50)), "ms"),
            "throughput_per_s": (rows / busy, "1/s"),
        }
        backlog = [sum(1 for n, (_, w) in measured
                       if w <= _epoch(p["timestamp"]) and by_file[n] >= p["batchId"])
                   for p in loop]
        dur = lambda k: [p["durationMs"].get(k, 0) for p in loop]  # noqa: E731
        state = [p["stateOperators"][0] for p in after]
        add = dur("addBatch")
        quarter = max(1, len(add) // 4)
        self.layers.update({
            "sources.latest_offset_ms": _median(dur("latestOffset")),
            "sources.get_batch_ms": _median(dur("getBatch")),
            "streaming.backlog_files": _median(backlog),
            "streaming.query_planning_ms": _median(dur("queryPlanning")),
            "streaming.add_batch_ms": _median(add),
            "streaming.add_batch_ms_first_quarter": _median(add[:quarter]),
            "streaming.add_batch_ms_last_quarter": _median(add[-quarter:]),
            "streaming.wal_commit_ms": _median(dur("walCommit")),
            "streaming.commit_offsets_ms": _median(dur("commitOffsets")),
            "streaming.rows_per_batch": rows / len(loop),
            "streaming.batches": len(loop),
            "streaming.latency_p95_ms": float(np.percentile(lat, 95)),
            "generator.lateness_ms": max((w - d) * 1000.0 for d, w in writes),
            "state.rows_total_end": state[-1]["numRowsTotal"],
            "state.memory_bytes_end": state[-1]["memoryUsedBytes"],
            "state.rows_dropped_by_watermark": sum(s["numRowsDroppedByWatermark"] for s in state),
            "state.commit_ms": _median([s["commitTimeMs"] for s in state]),
            "state.updates_ms": _median([s["allUpdatesTimeMs"] for s in state]),
            "state.removals_ms": _median([s["allRemovalsTimeMs"] for s in state]),
            "sinks.foreach_batch_ms": _median(sink_times),
        })
        self.detail["ingest_batches"] = loop
        self.detail["file_latency_ms"] = dict(zip([n for n, _ in measured], lat))

    def _check_sink(self, ledger) -> None:
        files = glob.glob(os.path.join(self.sink, "**", "*.parquet"), recursive=True)
        if self.drop_row and files:
            t = pq.read_table(files[0])
            pq.write_table(t.slice(1), files[0])
        table = pq.read_table(self.sink, columns=["id", "symbol", "datetime", "last_price", "volume"])
        got = table.to_pandas()
        self.layers.update({
            "sinks.files_written": len(files),
            "sinks.bytes_written": sum(os.path.getsize(f) for f in files),
            "sinks.rows_written": len(got),
        })
        ts_ms = _epoch_ms(got["datetime"])
        rows = set(zip(got["symbol"], ts_ms, got["last_price"].astype(float), got["volume"]))
        want = set(ledger)
        dups = len(got) - got["id"].nunique()
        if dups:
            self.failed += dups
            self.failures.append(f"sink: {dups} duplicate ids")
        if rows != want:
            self.failed += len(want ^ rows)
            self.failures.append(
                f"sink: {len(want - rows)} ledger ticks missing, {len(rows - want)} unexpected")

    def _indicator(self, ledger, duplicates, n_files: int) -> None:
        from finance_data_ingestion_pipeline_with_kafka_spark.sources import kafka_shaped_file_stream
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.pipeline import finnhub_pipeline
        from finance_data_ingestion_pipeline_with_kafka_spark.streaming.stateful import rsi_fold, rsi_stream

        last = max(t for _, t, _, _ in ledger)
        sentinel = {"c": ["1"], "p": 1.0, "s": SENTINEL_SYMBOL, "t": last + 86_400_000, "v": 1}
        self._write_file("z-sentinel.json", [json.dumps(sentinel)])
        ticks = finnhub_pipeline(kafka_shaped_file_stream(
            self.spark, self.src, max_files_per_trigger=-(-n_files // INDICATOR_BATCHES)),
            dedup_watermark=None)
        q = (rsi_stream(ticks).writeStream.format("memory").queryName("perfbench_rsi")
             .outputMode("append").option("checkpointLocation", self.cp_rsi)
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(150):
                raise RuntimeError("indicator replay did not finish within 150 s")
        finally:
            q.stop()
        progress = [p for p in _progress(q) if p["numInputRows"] > 0]
        out = self.spark.table("perfbench_rsi").toPandas()
        out = out[out["symbol"] != SENTINEL_SYMBOL]
        busy = sum(p["durationMs"]["triggerExecution"] for p in progress) / 1000.0
        rows_in = sum(p["numInputRows"] for p in progress)
        self.layers.update({
            "stateful.msgs_per_s": rows_in / busy,
            "stateful.add_batch_ms": _median([p["durationMs"].get("addBatch", 0) for p in progress]),
            "stateful.state_rows_total": progress[-1]["stateOperators"][0]["numRowsTotal"],
            "stateful.rows_out": len(out),
        })
        per_symbol: dict[str, list] = {}
        for sym, t, price, _v in ledger + duplicates:
            per_symbol.setdefault(sym, []).append((t, price))
        want = set()
        for sym, ticks_ in per_symbol.items():
            for t, rsi, n in rsi_fold(0.0, [], 0, sorted(ticks_))[3]:
                want.add((sym, t, rsi, n))
        ts_ms = _epoch_ms(out["datetime"])
        got = set(zip(out["symbol"], ts_ms, out["rsi"].astype(float), out["n_obs"]))
        if len(got) != len(out) or got != want:
            self.failed += max(1, len(want ^ got))
            self.failures.append(
                f"rsi: {len(want - got)} expected rows missing, {len(got - want)} unexpected")
