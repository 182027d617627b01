"""``ingest``: the reference's own job, open loop.

A separate feeder process drops tick files and job files on a fixed
schedule. One loop polls every ``POLL_S`` seconds; each poll runs a
``pipelines.run_wss_stream`` drain (over
``streaming.sources.file_tick_stream``) and then a
``pipelines.run_rest_stream`` drain (over ``jobs_feed.stream_jobs_json``),
each an availableNow drain of whatever has arrived. Writes happen beside
reads: queue files, checkpoints and a jobs table rewritten every cycle.

Latency counts from each file's scheduled drop, so a stalled drain loop
also delays every tick queued behind it. A tick is published when its
``conn-*.jsonl`` queue file is closed (the file's mtime); a job is done
when the drain that wrote its final state returns.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.json as pa_json
import pyarrow.parquet as pq

import gen
import spans
from base import Workload, noop

#: the feed's first files are due this long after its start is sent
FEED_LEAD_S = 0.2
#: the set-up cycle drains this much of the feed's rate, written beforehand
WARMUP_S = 2.0
#: the drain loop polls on a fixed schedule, as the reference's job
#: poller does: a cycle starts every POLL_S seconds after the feed's
#: start, or at once when the cycle before overran its slot. Every
#: measured cycle then drains the same span of the feed, whatever the
#: host's speed was in the cycle before.
POLL_S = 10.0
#: polls sit this far after a file is due, between two drops, so no
#: drain races a file landing
POLL_PHASE_S = gen.TICK_EVERY_S / 2
#: a run measures at least this many polls
MEASURED_CYCLES = 1
#: the feed ends by itself after this long; the benchmark stops it as
#: soon as the last measured cycle has ended
FEED_MAX_S = 150.0
#: the message fields the check reads; the tick id rides in daily_change
_MESSAGE = pa_json.ParseOptions(
    explicit_schema=pa.schema([(c, pa.float64()) for c in
                               ("daily_change", "bid", "ask", "ts", "mid")]
                              + [("pair", pa.string())]),
    unexpected_field_behavior="ignore")
_PROGRESS_MS = {"triggerExecution": "trigger_ms",
                "queryPlanning": "query_planning_ms",
                "addBatch": "add_batch_ms", "walCommit": "wal_commit_ms"}


def _drain(q):
    q.awaitTermination()
    return q.recentProgress


def _run_id(q) -> list[str]:
    return [str(q.runId)]


class Ingest(Workload):
    def prepare(self) -> None:
        d = self.work
        self.ticks_dir = os.path.join(d, "feed", "ticks")
        self.jobs_dir = os.path.join(d, "feed", "jobs")
        self.queue_wss = os.path.join(d, "queue", "wss")
        self.queue_rest = os.path.join(d, "queue", "rest")
        self.ck_wss = os.path.join(d, "checkpoints", "wss")
        self.ck_rest = os.path.join(d, "checkpoints", "rest")
        self.jobs_table = os.path.join(d, "tables", "jobs")
        self.manifest_path = os.path.join(d, "feed", "manifest.json")
        self.stop_file = os.path.join(d, "feed", "STOP")
        os.makedirs(self.ticks_dir)
        os.makedirs(self.jobs_dir)
        #: ticks written so far (ids run from 0); the expected ticks are
        #: read back from the tick files in ``check``
        self.n_ticks = 0
        #: job id -> (expected final action or None if never written,
        #: scheduled stamp, drop time)
        self.jobs: dict[int, tuple[int | None, float, float]] = {}
        self.job_done: dict[int, float] = {}
        self.drain_began: dict[str, float] = {}
        self.files_seen = 0
        self.backlog_max = 0
        #: per measured cycle: [wss drain s, wss rows, rest drain s, rest rows]
        self.cycle_shapes: list[list[float]] = []
        self.feeder: subprocess.Popen | None = None
        self._drop_warmup()
        self._launch_feeder()

    def _drop_warmup(self) -> None:
        """The set-up cycle's feed, written by this process:
        ``WARMUP_S`` seconds of it."""
        rng = np.random.default_rng([self.seed, 6])
        stamp = time.time()
        for k in range(round(WARMUP_S / gen.TICK_EVERY_S)):
            table = gen.tick_table(rng, self.n_ticks, gen.TICKS_PER_FILE, stamp)
            pq.write_table(table, os.path.join(self.ticks_dir, f"warm-{k}.parquet"))
            self.n_ticks += gen.TICKS_PER_FILE
        for k in range(round(WARMUP_S / gen.JOB_EVERY_S)):
            jobs = gen.job_rows(rng, 1 + len(self.jobs), gen.JOBS_PER_FILE)
            gen.write_jobs(os.path.join(self.jobs_dir, f"warm-{k}.json"), jobs)
            self.jobs.update((j["downloader_jq_id"], (e, stamp, stamp))
                             for j, e in jobs)

    def _launch_feeder(self) -> None:
        """Start the feeder now, so its imports overlap the engine's
        start; it waits for its start time on stdin."""
        here = os.path.dirname(os.path.abspath(__file__))
        self.feeder = subprocess.Popen([
            sys.executable, os.path.join(here, "feeder.py"),
            "--ticks-dir", self.ticks_dir, "--jobs-dir", self.jobs_dir,
            "--manifest", self.manifest_path, "--stop-file", self.stop_file,
            "--seed", str(self.seed), "--seconds", repr(FEED_MAX_S),
            "--first-tick-id", str(self.n_ticks),
            "--first-job-id", str(1 + len(self.jobs))],
            stdin=subprocess.PIPE, text=True)
        self.sampler.exclude.add(self.feeder.pid)

    def _n_files(self) -> int:
        return len(os.listdir(self.ticks_dir)) + len(os.listdir(self.jobs_dir))

    def _cycle(self, spark) -> None:
        from stockanalyses_downloader_spark import pipelines
        from stockanalyses_downloader_spark.caching import release_tracked
        from stockanalyses_downloader_spark.dims.currency import currency_dim
        from stockanalyses_downloader_spark.sources.jobs_feed import (
            read_jobs_json, stream_jobs_json)
        from stockanalyses_downloader_spark.streaming.sources import file_tick_stream

        n = self._n_files()
        self.backlog_max = max(self.backlog_max, n - self.files_seen)
        self.files_seen = n
        drains = (
            ("pipelines.run_wss_stream", lambda: pipelines.run_wss_stream(
                spark, file_tick_stream(spark, self.ticks_dir),
                self.queue_wss, self.ck_wss)),
            ("pipelines.run_rest_stream", lambda: pipelines.run_rest_stream(
                spark, stream_jobs_json(spark, self.jobs_dir),
                self.queue_rest, self.jobs_table, self.ck_rest)),
        )
        shape = []
        for name, build in drains:
            self.drain_began[name] = time.time()
            progress, wall = self.call(spark, name, "pipelines", build, _drain,
                                       _run_id, round_key="pipelines.call_s",
                                       exec_layer="streaming")
            rows = self._note_progress(name, progress)
            shape += [round(wall, 2), rows]
        self._collect_done(time.time())
        if self.in_round():
            self.cycle_shapes.append(shape)

        t0 = time.perf_counter()
        with self.tracer.span("caching.release_tracked", "caching"):
            self.add("caching.tracked_frames", release_tracked())
        self.add("caching.release_s", time.perf_counter() - t0)
        self.probe("sources.scan_s", "sources", lambda: noop(
            read_jobs_json(spark, self.jobs_dir)))
        self.probe("dims.currency_dim_s", "dims", lambda: noop(
            currency_dim(spark)))

    def _note_progress(self, name: str, progress) -> int:
        vals = {v: 0.0 for v in _PROGRESS_MS.values()}
        rows = 0
        for p in progress:
            rows += p["numInputRows"]
            for k, v in _PROGRESS_MS.items():
                vals[v] += p["durationMs"].get(k, 0)
        self.note(name, batches=len(progress), input_rows=rows, **vals)
        if self.in_round():
            self.layer["pipelines.drains"] = self.layer.get("pipelines.drains", 0) + 1
            for key, v in (("streaming.batches", len(progress)),
                           ("streaming.input_rows", rows)):
                self.layer[key] = self.layer.get(key, 0) + v
        return rows

    def _collect_done(self, now: float) -> None:
        """Stamp every job whose final state the jobs table shows for
        the first time with the return time of this drain cycle."""
        if not os.path.isdir(self.jobs_table):
            return
        table = pq.read_table(self.jobs_table, columns=["downloader_jq_id"])
        for jid in table.column(0).to_pylist():
            self.job_done.setdefault(jid, now)
        size = sum(os.path.getsize(f) for f in
                   glob.glob(os.path.join(self.jobs_table, "*.parquet")))
        self.note("pipelines.run_rest_stream", jobs_table_rows=table.num_rows,
                  jobs_table_bytes=size)

    # --- lifecycle -------------------------------------------------------
    def setup(self, spark) -> None:
        """One cycle over the warm-up files (the cold one: class
        loading, codegen, the first checkpoints and jobs table)."""
        self._cycle(spark)

    def measure(self, spark, seconds: float) -> None:
        """Start the feed, then poll on the fixed schedule: poll 0 just
        after the first files land, then ``max(MEASURED_CYCLES, seconds
        / POLL_S)`` measured polls. Poll 0 is not measured: it runs the
        drains a second time after the cold set-up cycle, and it starts
        both streams' windows, so every measured poll drains one poll
        interval of each. Latency is measured for what a measured poll
        drained and was stamped before the last poll's drains began:
        whole intervals, each drained by an ordinary cycle."""
        start = time.time() + FEED_LEAD_S
        self.feeder.stdin.write(f"{start!r}\n")
        self.feeder.stdin.close()
        polls = max(MEASURED_CYCLES, math.ceil(seconds / POLL_S))
        if polls * POLL_S > FEED_MAX_S / 2:
            raise ValueError(f"{seconds} s is longer than the feed")
        self.poll_late = []
        for k in range(polls + 1):
            if self.feeder.poll() is not None:
                raise RuntimeError(f"feeder exited with {self.feeder.returncode}")
            due = start + k * POLL_S + POLL_PHASE_S
            time.sleep(max(0.0, due - time.time()))
            if k == 0:
                self._cycle(spark)
                self.measured_from = time.time()
                continue
            self.poll_late.append(time.time() - due)
            with self.measured_round():
                self._cycle(spark)
        self._stop_feeder()

    def _stop_feeder(self) -> None:
        with open(self.stop_file, "w", encoding="utf-8"):
            pass
        try:
            self.feeder.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.feeder.kill()
            self.feeder.wait(timeout=10)
        if self.feeder.returncode != 0:
            raise RuntimeError(f"feeder exited with {self.feeder.returncode}")

    def check(self, spark) -> None:
        """Every known-pair tick published exactly once with the values
        of its tick file and ``mid == (bid+ask)/2``, unknown pairs never;
        every job in its expected final state. Files that landed after
        the last drain began may or may not have been drained: their
        rows may appear at most once."""
        with open(self.manifest_path, encoding="utf-8") as fh:
            manifest = json.load(fh)
        late = [e["written"] - e["due"] for e in manifest]
        landed = {e["name"]: e["written"] for e in manifest}
        for entry in manifest:
            if entry["kind"] == "job":
                for i, e in entry["rows"]:
                    self.jobs[i] = (e, entry["due"], entry["written"])
        # measured: drained by a measured poll and stamped before the
        # last poll's drain began (later ones have no drain to wait for)
        w0 = self.measured_from
        w1 = self.drain_began["pipelines.run_wss_stream"]

        # offered: every tick file (warm-up files landed at their stamp)
        files = sorted(glob.glob(os.path.join(self.ticks_dir, "*.parquet")))
        parts = [gen.read_ticks(p) for p in files]
        exp = {k: np.concatenate([t[k] for t in parts]) for k in parts[0]}
        exp["written"] = np.concatenate([
            np.full(len(t["id"]), landed.get(os.path.basename(p), t["ts"][0]))
            for p, t in zip(files, parts)])
        order = np.argsort(exp["id"])
        exp = {k: v[order] for k, v in exp.items()}
        n = len(exp["id"])

        # published: every message of every queue file, at its file's mtime
        paths = glob.glob(os.path.join(self.queue_wss, "conn-*.jsonl"))
        mtimes = [os.stat(p).st_mtime for p in paths]
        tables = [pa_json.read_json(p, parse_options=_MESSAGE) for p in paths]
        msg = pa.concat_tables(tables)
        msg = {c: msg.column(c).to_numpy() for c in msg.column_names}
        published = np.repeat(mtimes, [t.num_rows for t in tables])
        tid = msg["daily_change"].astype(np.int64)
        pos = np.minimum(np.searchsorted(exp["id"], tid), n - 1)
        found = exp["id"][pos] == tid
        ok = (found & (exp["pair"][pos] == msg["pair"])
              & (exp["bid"][pos] == msg["bid"]) & (exp["ask"][pos] == msg["ask"])
              & (exp["ts"][pos] == msg["ts"])
              & (msg["mid"] == (msg["bid"] + msg["ask"]) / 2))
        bad = len(np.unique(tid[~ok]))
        counts = np.bincount(pos[found], minlength=n)
        _, first = np.unique(tid, return_index=True)
        first = first[found[first]]
        due = exp["ts"][pos[first]]
        measured = (published[first] >= w0) & (due < w1)
        self.latencies = (published[first] - due)[measured].tolist()

        # published more often than expected: twice, or an unknown pair
        known = np.isin(exp["pair"], gen.KNOWN_PAIRS)
        drained = exp["written"] < w1
        missing = int(np.sum(known & drained & (counts == 0)))
        extra = int(np.sum(np.where(known, np.maximum(counts - 1, 0), counts)))
        attempted = int(np.sum(drained))
        conns = sum(m >= w0 for m in mtimes)
        msgs = int(np.sum(published >= w0))

        final = {}
        if os.path.isdir(self.jobs_table):
            t = pq.read_table(self.jobs_table).to_pydict()
            final = dict(zip(t["downloader_jq_id"], t["action"]))
        w1 = self.drain_began["pipelines.run_rest_stream"]
        wrong_jobs = len(set(final) - set(self.jobs))
        for jid, (expect, due, written) in self.jobs.items():
            got = final.get(jid)
            if written < w1:
                attempted += 1
                wrong_jobs += got != expect
            else:
                wrong_jobs += got not in (expect, None)
            if due < w1 and self.job_done.get(jid, 0.0) >= w0:
                self.round_trips.append(self.job_done[jid] - due)

        self.attempted = attempted
        self.failed = missing + extra + bad + wrong_jobs
        self.layer["streaming.sinks.messages"] = msgs
        self.layer["streaming.sinks.connections"] = conns
        self.diag.update({
            "offered_ticks_per_s": gen.TICKS_PER_FILE / gen.TICK_EVERY_S,
            "offered_jobs_per_s": gen.JOBS_PER_FILE / gen.JOB_EVERY_S,
            "missing": missing, "extra_publishes": extra, "bad_messages": bad,
            "wrong_jobs": wrong_jobs,
            "cycles": self.cycle_shapes,
            "poll_s": POLL_S,
            "poll_late_s": [round(x, 2) for x in self.poll_late],
            "generator_late_s_max": round(max(late), 4),
            "generator_late_s_p90": round(spans.quantile(late, 0.9), 4),
            "backlog_files_max": self.backlog_max,
            "messages_per_connection": round(msgs / max(conns, 1), 2),
        })
        if not self.latencies or not self.round_trips:
            raise RuntimeError("no measured ticks or jobs completed")

    def close(self) -> None:
        if self.feeder is not None and self.feeder.poll() is None:
            self.feeder.kill()
        if self.feeder is not None:
            self.feeder.wait(timeout=10)
