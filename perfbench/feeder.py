"""Open-loop feed generator for the ingest workload, run as its own
process (pyarrow only, no Spark).

Drops tick parquet files and JSON-lines job files on the fixed schedule
of ``gen`` (``TICK_EVERY_S``, ``JOB_EVERY_S``) for ``--seconds`` from a
start time (epoch seconds) read as one line from stdin, whatever the
engine is doing. Each file is written under a hidden name and renamed
into place, so a stream source never sees a partial file. Every tick
carries its file's scheduled time as ``ts``. The feed ends after ``--seconds`` or as soon
as ``--stop-file`` exists; then a manifest lists each file's name,
scheduled and actual drop time, and for a job file its job ids with
the final action each must reach.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen


def _drop(directory: str, name: str, write) -> float:
    tmp = os.path.join(directory, f".{name}.tmp")
    write(tmp)
    os.rename(tmp, os.path.join(directory, name))
    return time.time()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ticks-dir", required=True)
    ap.add_argument("--jobs-dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--stop-file", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-tick-id", type=int, required=True)
    ap.add_argument("--first-job-id", type=int, required=True)
    a = ap.parse_args()

    # write one throwaway file first: pyarrow's lazy imports would
    # otherwise make the first tick file late (a hidden name: stream
    # sources skip it)
    warm = os.path.join(a.ticks_dir, ".warm.parquet")
    pq.write_table(gen.tick_table(np.random.default_rng(0), 0, 1, 0.0), warm)
    os.remove(warm)
    line = sys.stdin.readline()
    if not line:  # the benchmark ended before the feed was due
        return
    start = float(line)
    rng = np.random.default_rng([a.seed, 5])
    schedule = sorted(
        [(start + k * gen.TICK_EVERY_S, "tick") for k in
         range(int(np.ceil(a.seconds / gen.TICK_EVERY_S)))]
        + [(start + k * gen.JOB_EVERY_S, "job") for k in
           range(int(np.ceil(a.seconds / gen.JOB_EVERY_S)))])
    next_tick, next_job = a.first_tick_id, a.first_job_id
    manifest = []
    for seq, (due, kind) in enumerate(schedule):
        name = f"{kind}-{seq:06d}"
        if kind == "tick":
            table = gen.tick_table(rng, next_tick, gen.TICKS_PER_FILE, due)
            next_tick += gen.TICKS_PER_FILE
        else:
            rows = gen.job_rows(rng, next_job, gen.JOBS_PER_FILE)
            next_job += gen.JOBS_PER_FILE
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        if os.path.exists(a.stop_file):
            break
        entry = {"kind": kind, "due": due}
        if kind == "tick":
            entry["name"] = name + ".parquet"
            entry["written"] = _drop(a.ticks_dir, entry["name"],
                                     lambda p: pq.write_table(table, p))
        else:
            entry["name"] = name + ".json"
            entry["written"] = _drop(a.jobs_dir, entry["name"],
                                     lambda p: gen.write_jobs(p, rows))
            entry["rows"] = [(job["downloader_jq_id"], expect)
                             for job, expect in rows]
        manifest.append(entry)
    tmp = a.manifest + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, a.manifest)


if __name__ == "__main__":
    main()
