"""The stream phase: streaming R7 over a txlog source.

``readStream.format("txlog")`` → ``gap_anchor_mark_stream`` →
``writeStream.format("txlog")``, with one checkpoint for the phase, so
the per-group anchors carry over in the operator's state. First a
closed drain: an ``availableNow`` query drains a backlog of event
commits landed in set-up. Then an open loop: the query runs on a
processing-time trigger while one generator thread commits events at a
fixed rate; an event's latency is the time from its commit at the
generator to the output txlog version holding it. Every event must
come out exactly once, with the ``validacion`` flag that the batch
``gap_anchor_mark`` gives over all generated events."""

from __future__ import annotations

import os
import re
import statistics
import threading
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen

GROUP_KEYS = ["grp"]


def _land(root: str, tables: list[pa.Table]) -> None:
    """Write each table as one data file and commit it as one txlog
    version of ``root``; the first commit creates the table."""
    from etl_sendas_spark.sources.txlog import TxLogTable

    os.makedirs(root, exist_ok=True)
    table = TxLogTable(root)
    for c, t in enumerate(tables):
        rel = f"part-{c:05d}.parquet"
        pq.write_table(t, os.path.join(root, rel))
        table.commit_files([rel], op="create" if c == 0 else "append")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _version(raw) -> int:
    """The version of a txlog source offset as progress reports it."""
    return int(re.search(r"version\W+(-?\d+)", str(raw)).group(1))


def prepare_inputs(in_dir: str, seed: int) -> dict:
    """Generate every event, keep them all in one file for the batch
    oracle, and land the backlog in the source table."""
    backlog, open_loop, props = gen.gen_stream(seed)
    os.makedirs(in_dir, exist_ok=True)
    pq.write_table(
        pa.concat_tables(backlog + open_loop), os.path.join(in_dir, "all_events.parquet")
    )
    _land(os.path.join(in_dir, "events"), backlog)
    return {"props": props, "backlog": backlog, "open_loop": open_loop}


class StreamPhase:
    def __init__(self, spark, tracer, in_dir: str, work: str, prepared: dict) -> None:
        from etl_sendas_spark.sources.txlog_source import register_txlog_source

        self.spark = spark
        self.tr = tracer
        self.in_dir = in_dir
        self.src = os.path.join(in_dir, "events")
        self.out = os.path.join(work, "marked")
        self.ck = os.path.join(work, "checkpoint")
        self.props = prepared["props"]
        self.backlog = prepared["backlog"]
        self.open_loop = prepared["open_loop"]
        self.expected: dict[int, int] = {}
        register_txlog_source(spark)

    def _start(self, available_now: bool):
        from etl_sendas_spark.streaming.sessions import gap_anchor_mark_stream

        events = self.spark.readStream.format("txlog").load(self.src)
        marked = gap_anchor_mark_stream(events, GROUP_KEYS, ts_col="ts", id_col="event_id")
        w = marked.writeStream.format("txlog").option("checkpointLocation", self.ck)
        if available_now:
            w = w.trigger(availableNow=True)
        else:
            w = w.trigger(processingTime="0 seconds")
        return w.start(self.out)

    # -- checks -----------------------------------------------------------

    def _oracle(self) -> None:
        """event_id → validacion of the batch fold over every event."""
        from etl_sendas_spark.operators.marking import gap_anchor_mark

        df = self.spark.read.parquet(os.path.join(self.in_dir, "all_events.parquet"))
        got = gap_anchor_mark(df, GROUP_KEYS, "ts", ["ts", "event_id"]).select(
            "event_id", "validacion"
        ).toArrow()
        self.expected = dict(zip(got["event_id"].to_pylist(), got["validacion"].to_pylist()))

    def _wrong(self, tables: list[pa.Table], sent: int) -> tuple[int, list[str]]:
        """(commits of ``tables`` whose events are missing, repeated or
        wrongly flagged in the output, one error for each of them and
        one if the output holds more than the ``sent`` events)."""
        from etl_sendas_spark.sources.txlog import TxLogTable

        files = TxLogTable(self.out).live_files()
        out = pa.concat_tables([pq.read_table(f, columns=["event_id", "validacion"]) for f in files])
        seen: dict[int, list] = {}
        for i, f in zip(out["event_id"].to_pylist(), out["validacion"].to_pylist()):
            seen.setdefault(i, []).append(f)
        errors = []
        for c, t in enumerate(tables):
            bad = [i for i in t["event_id"].to_pylist() if seen.get(i) != [self.expected[i]]]
            if bad:
                errors.append(
                    f"commit {c}: {len(bad)} of {t.num_rows} events missing, repeated or"
                    f" wrongly flagged (first id {bad[0]}: got {seen.get(bad[0])},"
                    f" batch fold {self.expected[bad[0]]})"
                )
        n_bad = len(errors)
        extra = len(seen) - sent
        if extra > 0:
            errors.append(f"output holds {extra} event ids that were not sent")
        return n_bad, errors

    # -- the phase --------------------------------------------------------

    def run(self, rss) -> tuple[int, int, list[str], dict]:
        """Drain the backlog, then run the open loop. The drain and each
        generator commit are one unit each. Returns (attempted, failed,
        errors, layer figures)."""
        with self.tr.span("stream_drain") as d:
            q = self._start(available_now=True)
            if not q.awaitTermination(150):
                q.stop()
                raise TimeoutError("availableNow drain did not finish in 150 s")
        drain_s = d["end"] - d["start"]
        progress = list(q.recentProgress)
        with rss.paused():
            self._oracle()
            n_bad, errs = self._wrong(self.backlog, sum(t.num_rows for t in self.backlog))
        failed = int(bool(errs))
        errors = [f"stream drain: {e}" for e in errs]

        created, lag, gen_error, out_v0, open_progress = self._open_loop()
        n = len(self.open_loop)
        if gen_error is not None:
            return 1 + n, failed + n, errors + [f"open loop: generator failed: {gen_error!r}"], {}
        with rss.paused():
            n_bad, errs = self._wrong(self.open_loop, self.props["events"])
            latency = self._latencies(out_v0, created)
        failed += n_bad + (n_bad == 0 and bool(errs))
        errors += [f"stream open loop: {e}" for e in errs]
        layers = self._layers(progress + open_progress, open_progress, lag, latency)
        layers["stream.drain_s"] = drain_s
        layers["stream.drain_rows_per_s"] = sum(t.num_rows for t in self.backlog) / drain_s
        return 1 + n, failed, errors, layers

    def _open_loop(self):
        """Commit the open-loop events at the fixed rate while the query
        runs; wait until it has processed all of them."""
        from etl_sendas_spark.sources.txlog import TxLogTable

        rate = self.props["rate_commits_per_s"]
        first = len(self.backlog)
        n = len(self.open_loop)
        created = [0.0] * n
        lag = [0.0] * n
        failure: list[BaseException] = []
        out_v0 = set(TxLogTable(self.out).versions())

        def generate(t0: float) -> None:
            try:
                table = TxLogTable(self.src)
                for j, t in enumerate(self.open_loop):
                    due = t0 + j / rate
                    time.sleep(max(0.0, due - time.time()))
                    # latency counts from when the commit was due, so a
                    # late generator cannot hide a stall
                    created[j] = due
                    lag[j] = time.time() - due
                    rel = f"part-{first + j:05d}.parquet"
                    pq.write_table(t, os.path.join(self.src, rel))
                    table.commit_files([rel], op="append")
            except BaseException as e:  # noqa: BLE001 — reported by the caller
                failure.append(e)

        q = self._start(available_now=False)
        try:
            thread = threading.Thread(target=generate, args=(time.time() + 0.2,))
            thread.start()
            thread.join()
            q.processAllAvailable()
        finally:
            q.stop()
        return created, lag, (failure[0] if failure else None), out_v0, list(q.recentProgress)

    def _latencies(self, out_v0: set, created: list[float]) -> list[float]:
        """Per open-loop event: the commit time of the output version
        holding it minus the time the generator was due to commit it."""
        from etl_sendas_spark.sources.txlog import TxLogTable

        per_commit = self.props["events_per_commit"]
        first = len(self.backlog)
        table = TxLogTable(self.out)
        out = []
        for v in sorted(set(table.versions()) - out_v0):
            meta = table.commit_meta(v)
            for rel in meta.get("add", []):
                ids = pq.read_table(os.path.join(self.out, rel), columns=["event_id"])
                for i in ids["event_id"].to_pylist():
                    j = i // per_commit - first
                    if 0 <= j < len(created):
                        out.append(meta["ts"] - created[j])
        return out

    def _layers(self, progress, open_progress, lag, latency) -> dict:
        """Figures of the phase's micro-batches and of its open loop."""
        def sec(p, key):
            return p["durationMs"].get(key, 0) / 1000.0

        def state(p, key):
            ops = p.get("stateOperators") or [{}]
            return ops[0].get(key, 0)

        def commits(p):
            s = p["sources"][0]
            start = -1 if s["startOffset"] is None else _version(s["startOffset"])
            return _version(s["endOffset"]) - start

        busy = [p for p in open_progress if p["numInputRows"] > 0]
        last = progress[-1] if progress else {}
        p95 = statistics.quantiles(latency, n=20)[18] if len(latency) > 1 else 0.0
        return {
            "stream.event_latency_p50_s": _median(latency),
            "stream.event_latency_p95_s": p95,
            "stream.events": len(latency),
            "stream.batches": len(busy),
            "generator.lag_s": max(lag) if lag else 0.0,
            "generator.commits": len(lag),
            "txlog_source.backlog_commits": _median([commits(p) for p in busy]),
            "txlog_source.rows_per_batch": _median([p["numInputRows"] for p in busy]),
            "txlog_source.get_batch_s": _median(
                [sec(p, "getBatch") + sec(p, "latestOffset") for p in busy]
            ),
            "sessions.batches": len([p for p in progress if p["numInputRows"] > 0]),
            "sessions.add_batch_s": _median([sec(p, "addBatch") for p in busy]),
            "sessions.trigger_s": _median([sec(p, "triggerExecution") for p in busy]),
            "sessions.wal_commit_s": _median([sec(p, "walCommit") for p in busy]),
            "sessions.planning_s": _median([sec(p, "queryPlanning") for p in busy]),
            "sessions.state_rows": state(last, "numRowsTotal") if last else 0,
            "sessions.state_bytes": state(last, "memoryUsedBytes") if last else 0,
            "sessions.state_rows_removed": sum(state(p, "numRowsRemoved") for p in progress),
        }
