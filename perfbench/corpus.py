"""``corpus_curation``: closed-loop curation passes, one client.

Each pass runs the corpus operators through the query registry, each
forced through the noop sink and followed by ``caching.release_tracked``
(the harness contract of the tracked persists), then
``pipelines.incremental_quality_refresh`` over a seeded delta of added,
changed and removed docs against a freshly restored quality table.
CPU- and shuffle-heavy operators, tracked persists (the IVF lists and
the k-means projection), eager k-means training inside
``ivf_topk_trained`` and one write path. The planted duplicate rate sets
how much work the inputs share.

The warm-up pass collects every result; after the measured window
each is checked against the query's DuckDB oracle with
``testing.assert_matches_oracle``, so neither the oracle's time nor its
memory counts as the engine's.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import gen
from base import Workload, noop

OPS = ("exact_dedup_docs", "ngram_jaccard_near_dups", "cosine_topk_bruteforce",
       "ivf_topk_trained")
REFRESH = "pipelines.incremental_quality_refresh"
N_DOCS = 1000
N_VECS = 600
#: share of documents and vectors that copy an earlier one
DUP_RATE = 0.2
#: share of docs removed, of docs changed and of docs added by the delta
DELTA_SHARE = 0.05


class _Collected:
    """A collected result in the shape ``assert_matches_oracle`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class CorpusCuration(Workload):
    def prepare(self) -> None:
        self.base = os.path.join(self.work, "corpus", "v1")
        self.delta = os.path.join(self.work, "corpus", "v2")
        docs = gen.write_corpus(self.base, self.seed, N_DOCS, N_VECS, DUP_RATE)
        self.expect_refresh = gen.write_corpus_delta(
            self.delta, self.seed, docs, DELTA_SHARE)
        self.scored_v1 = os.path.join(self.work, "tables", "quality-v1")
        self.results = os.path.join(self.work, "tables", "quality")
        #: query name -> the warm-up pass's collected result
        self.collected: dict[str, object] = {}

    def _op(self, spark, name: str, materialize):
        from stockanalyses_downloader_spark.queries import all_queries
        q = all_queries()[name]
        return self.call(spark, name, "queries",
                         lambda: q.spark(spark, self.base), materialize)

    def _refresh(self, spark) -> float:
        from stockanalyses_downloader_spark import pipelines
        from stockanalyses_downloader_spark.sources.tables import load_table
        counts, wall = self.call(
            spark, REFRESH, "pipelines",
            lambda: load_table(spark, self.delta, "documents"),
            lambda docs: pipelines.incremental_quality_refresh(
                spark, docs, self.results),
            round_key="pipelines.call_s", exec_layer="pipelines")
        if counts != self.expect_refresh:
            print(f"refresh counts {counts} != {self.expect_refresh}",
                  file=sys.stderr)
            self.failed += 1
        return wall

    def _release(self) -> None:
        from stockanalyses_downloader_spark.caching import release_tracked
        t0 = time.perf_counter()
        with self.tracer.span("caching.release_tracked", "caching"):
            self.add("caching.tracked_frames", release_tracked())
        self.add("caching.release_s", time.perf_counter() - t0)

    def _restore(self) -> None:
        shutil.rmtree(self.results, ignore_errors=True)
        shutil.copytree(self.scored_v1, self.results)

    def setup(self, spark) -> None:
        from stockanalyses_downloader_spark import pipelines
        from stockanalyses_downloader_spark.sources.tables import load_table

        for name in OPS:
            self.attempted += 1
            try:
                self.collected[name], _ = self._op(
                    spark, name, lambda df: df.toPandas())
            except Exception:  # noqa: BLE001 - count it, keep going
                traceback.print_exc()
                self.failed += 1
            finally:
                self._release()
        # the quality table every refresh starts from: a full scoring
        # of the first snapshot, fit once like a model
        pipelines.incremental_quality_refresh(
            spark, load_table(spark, self.base, "documents"), self.scored_v1)
        self._restore()
        self.attempted += 1
        self._refresh(spark)

    def measure(self, spark, seconds: float) -> None:
        from stockanalyses_downloader_spark.sources.tables import load_table

        deadline = time.perf_counter() + seconds
        while True:
            self._restore()
            t0 = time.perf_counter()
            with self.measured_round():
                for name in OPS:
                    self.attempted += 1
                    try:
                        _, wall = self._op(spark, name, noop)
                        self.latencies.append(wall)
                    except Exception:  # noqa: BLE001 - count it, keep measuring
                        traceback.print_exc()
                        self.failed += 1
                    self._release()
                self.attempted += 1
                try:
                    self.latencies.append(self._refresh(spark))
                except Exception:  # noqa: BLE001 - count it, keep measuring
                    traceback.print_exc()
                    self.failed += 1
                self.probe("sources.scan_s", "sources", lambda: [
                    noop(load_table(spark, self.base, t))
                    for t in ("documents", "embeddings")])
            self.round_trips.append(time.perf_counter() - t0)
            if time.perf_counter() >= deadline:
                break

    def check(self, spark) -> None:
        from stockanalyses_downloader_spark.queries import all_queries
        from stockanalyses_downloader_spark.testing import assert_matches_oracle

        for name, pdf in self.collected.items():
            try:
                assert_matches_oracle(_Collected(pdf), all_queries()[name].oracle,
                                      self.base, require_rows=True)
            except AssertionError as exc:
                print(f"{name}: oracle mismatch: {exc}", file=sys.stderr)
                self.failed += 1
