"""The ``etl_ingest`` workload: the reference pipeline, one @daily
interval after another, driven by ``Engine.run_scheduled``.

Before each interval (untimed) the generator lands a Spotify-shaped
playlist JSON array and an artist-snapshot JSON array. The interval then
runs four ``Pipeline`` steps:

1. ``wire``: read the playlist (``sources.binary.read_json_array``),
   ``normalize_playlist_items``, and write ``to_kafka_records`` JSONL;
2. ``ingest``: ``start_tracks_ingest`` with AvailableNow cleanses the new
   wire files into the month-partitioned parquet warehouse;
3. ``artists``: ``normalize_artist_records`` appended to the artist state;
4. ``views``: ``register_views`` over the whole warehouse, then the set of
   techno track ids from ``v_track_is_techno``.

The warehouse grows every interval, so reads sit beside writes. After
the timed loop, the committed row count and every interval's techno set
are compared with what the generator predicts.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time
from datetime import datetime, timedelta

from datagen import EtlCorpus, write_json_array
from spans import merge, spark_metrics, union_length
from stats import geomean, slope, tail

ITEMS_PER_INTERVAL = 10_000
START = datetime(2025, 7, 1)
STEPS = ("wire", "ingest", "artists", "views")
JOB = "tracks_ingest"
MIN_INTERVALS = 3  # medians of fewer samples are too noisy
# Items whose popularity is 13 (about 1 in 90) get a malformed wire
# ingest_ts, which the cleanse step replaces with the time of ingest.
MALFORMED_TS = "2025-13-45T25:61:00Z"


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for fn in filenames:
            if fn.startswith((".", "_")) or not fn.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return files, size


class EtlWorkload:
    name = "etl_ingest"

    def __init__(self, seed: int, tmp: str):
        self.seed = seed
        self.land = os.path.join(tmp, "land")
        self.wire_dir = os.path.join(tmp, "wire")
        self.warehouse = os.path.join(tmp, "warehouse")
        self.artists_dir = os.path.join(tmp, "artists")
        self.checkpoint = os.path.join(tmp, "checkpoint")
        self.ledger_path = os.path.join(tmp, "ledger.jsonl")
        os.makedirs(self.land)
        self.day = 0
        self.landed_bytes = 0
        self.expected_rows = 0
        self.ingested: set[int] = set()  # track indices with a usable id
        self.latest_genres: dict[int, list[str]] = {}
        self.expected_techno: list[set[str]] = []
        self.got_techno: list[set[str]] = []
        self.intervals: list[dict] = []  # timed intervals
        self.cur: dict = {}  # the running interval: op id, step walls, stream progress
        self.calls = dict.fromkeys(STEPS, 0)
        self.failed_steps = 0
        self.steps_run = 0

    # -- set-up ------------------------------------------------------------
    def prepare(self, spark, tracer) -> None:
        from ravelytics_spark.engine import Engine
        from ravelytics_spark.pipeline import Pipeline, Step
        from ravelytics_spark.schedule import RunLedger

        self.spark, self.tracer = spark, tracer
        self.corpus = EtlCorpus(self.seed, ITEMS_PER_INTERVAL)
        self.engine = Engine(spark)
        self.ledger = RunLedger(self.ledger_path)
        self.pipeline = Pipeline()
        fns = {"wire": self._wire, "ingest": self._ingest, "artists": self._artists, "views": self._views}
        for i, name in enumerate(STEPS):
            self.pipeline.add(Step(name, self._timed(name, fns[name]), STEPS[:i][-1:], retries=1))

    def _timed(self, name, fn):
        def step(ctx):
            self.calls[name] += 1
            t0 = time.perf_counter()
            with self.tracer.span(f"pipeline.{name}", self.cur["op"]):
                out = fn(ctx)
            self.cur["step_s"][name] = time.perf_counter() - t0
            return out

        return step

    def _land(self) -> None:
        """Land the next interval's files (untimed) and extend the
        expected outputs."""
        iv = self.corpus.interval(self.day, START)
        stamp = iv["stamp"].date().isoformat()
        self.landed_bytes += write_json_array(iv["items"], os.path.join(self.land, f"playlist_{stamp}.json"))
        write_json_array(iv["artists"], os.path.join(self.land, f"artists_{stamp}.json"))
        self.expected_rows += iv["rows"]
        self.ingested |= iv["ingested"]
        for a in iv["artists"]:
            self.latest_genres[self.corpus.artist_index[a["id"]]] = a["genres"]
        techno = {a for a, g in self.latest_genres.items() if any("techno" in x.lower() for x in g)}
        self.expected_techno.append(
            {self.corpus.track_ids[t] for t in self.ingested if techno.intersection(self.corpus.track_artists[t])}
        )

    # -- the four steps ------------------------------------------------------
    def _wire(self, ctx):
        from pyspark.sql import functions as F

        from ravelytics_spark.plans.tracks_pipeline import normalize_playlist_items
        from ravelytics_spark.sources.binary import read_json_array
        from ravelytics_spark.sources.kafka import to_kafka_records

        stamp = ctx["execution_date"]
        op = self.cur["op"]
        with self.tracer.span("sources.read_json", op):
            items = read_json_array(self.spark, os.path.join(self.land, f"playlist_{stamp.date()}.json"))
        with self.tracer.span("sources.wire", op):
            ingest_ts = F.when(F.col("track.popularity") == 13, F.lit(MALFORMED_TS)).otherwise(
                F.lit(stamp.strftime("%Y-%m-%dT%H:%M:%SZ"))
            )
            before = dir_stats(self.wire_dir)[1]
            wire = to_kafka_records(normalize_playlist_items(items, ingest_ts=ingest_ts))
            wire.write.mode("append").text(self.wire_dir)
            self.cur["wire_b"] = dir_stats(self.wire_dir)[1] - before

    def _ingest(self, ctx):
        from ravelytics_spark.streaming.pipeline import read_tracks_stream_files, start_tracks_ingest

        q = start_tracks_ingest(
            read_tracks_stream_files(self.spark, self.wire_dir), self.warehouse, self.checkpoint
        )
        if self.tracer.enabled:
            self.tracer.stream_groups[str(q.runId)] = f"{self.name}/{self.cur['op']}/pipeline.ingest"
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.cur["progress"] = q.recentProgress

    def _artists(self, ctx):
        from pyspark.sql import functions as F

        from ravelytics_spark.plans.tracks_pipeline import normalize_artist_records
        from ravelytics_spark.sources.binary import read_json_array

        stamp = ctx["execution_date"]
        with self.tracer.span("sources.read_json", self.cur["op"]):
            raw = read_json_array(self.spark, os.path.join(self.land, f"artists_{stamp.date()}.json"))
        normalize_artist_records(raw, ingest_ts=F.lit(stamp).cast("timestamp")).write.mode(
            "append"
        ).parquet(self.artists_dir)

    def _views(self, ctx):
        from ravelytics_spark.plans.views import register_views

        spark = self.spark
        register_views(spark, spark.read.parquet(self.warehouse), spark.read.parquet(self.artists_dir))
        rows = spark.sql("SELECT DISTINCT track_id FROM v_track_is_techno WHERE is_techno").collect()
        return {r.track_id for r in rows}

    # -- one interval --------------------------------------------------------
    def _interval(self) -> dict:
        from ravelytics_spark.pipeline import Status

        self._land()
        gc.collect()  # landing's garbage, so no collection lands in the interval
        day = self.day
        op = f"day{day}"
        self.cur = {"op": op, "step_s": {}}
        now = START + timedelta(days=day + 1, hours=1)
        t0 = time.perf_counter()
        with self.tracer.span("interval", op):
            results = self.engine.run_scheduled(JOB, self.pipeline, "@daily", START, self.ledger, now=now)
        wall = time.perf_counter() - t0
        self.day += 1
        statuses = [r.status for res in results.values() for r in res.values()]
        self.failed_steps += sum(s == Status.FAILED for s in statuses)
        self.steps_run += sum(s in (Status.SUCCESS, Status.FAILED) for s in statuses)
        views = results.get(START + timedelta(days=day), {}).get("views")
        self.got_techno.append(views.value if views is not None and views.status == Status.SUCCESS else None)
        cur = self.cur
        progress = cur.get("progress", [])
        return {
            "op": op,
            "wall": wall,
            "traced": self.tracer.enabled,
            "steps": cur["step_s"],
            "wire_b": cur.get("wire_b", 0),
            "rows": sum(p["numInputRows"] for p in progress),
            "progress": progress,
        }

    def warm(self, spark, registry) -> None:
        """One untimed interval: the first stream start, JSON inference
        and parquet write paths are warm before timing."""
        self._interval()

    def run(self, spark, registry, tracer, deadline: float, alternate: bool) -> int:
        """Closed loop of intervals until ``deadline``, and at least
        ``MIN_INTERVALS`` of each kind; with ``alternate``, every other
        interval is traced."""
        while len(self.intervals) < MIN_INTERVALS * (1 + alternate) or time.perf_counter() < deadline:
            tracer.enabled = alternate and len(self.intervals) % 2 == 1
            self.intervals.append(self._interval())
        tracer.enabled = False
        return len(self.intervals)

    # -- correctness -------------------------------------------------------
    def check(self, spark, registry) -> tuple[int, list[str]]:
        """Every interval's techno track set, and the committed row count
        of the whole warehouse."""
        problems = []
        for day, (got, want) in enumerate(zip(self.got_techno, self.expected_techno)):
            if got != want:
                n = "failed" if got is None else f"{len(got ^ want)} ids differ"
                problems.append(f"etl_ingest day {day}: techno track set mismatch ({n})")
        rows = spark.read.parquet(self.warehouse).count()
        if rows != self.expected_rows:
            problems.append(f"etl_ingest: warehouse has {rows} rows, expected {self.expected_rows}")
        return len(self.got_techno) + 1, problems

    # -- metrics -----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        timed = [iv for iv in self.intervals if not iv["traced"]]
        walls = [iv["wall"] for iv in timed]
        step_meds = [statistics.median(iv["steps"][s] for iv in timed if s in iv["steps"]) for s in STEPS]
        print(
            "intervals " + " ".join(f"{w:.3f}" for w in walls) + "; step medians "
            + " ".join(f"{s}={m:.3f}" for s, m in zip(STEPS, step_meds)),
            file=sys.stderr,
        )
        _, wh_bytes = dir_stats(self.warehouse, ".parquet")
        return {
            # one pass of the pipeline's steps, each at its median; the
            # engine's own time between steps is in interval_p50_s only
            "suite_s": sum(step_meds),
            "query_geomean_s": geomean(step_meds),
            "interval_p50_s": statistics.median(walls),
            "interval_tail_s": tail(walls),
            "ingest_rows_per_s": sum(iv["rows"] for iv in timed) / sum(walls),
            "storage_ratio": wh_bytes / self.landed_bytes,
        }

    def per_layer(self, groups: dict, cores: int) -> dict[str, float]:
        traced = [iv for iv in self.intervals if iv["traced"]]
        per = len(traced)
        # Each traced interval against the untraced ones on either side,
        # so the drift over the run (JIT warming, warehouse growth) cancels.
        ivs = self.intervals
        ratios = [
            iv["wall"] / statistics.fmean(n["wall"] for n in ivs[max(i - 1, 0):i + 2] if not n["traced"])
            for i, iv in enumerate(ivs)
            if iv["traced"]
        ]
        spans = [s for s in self.tracer.spans if any(s.op == iv["op"] for iv in traced)]

        def span_s(name: str) -> float:
            return sum(s.wall for s in spans if s.name == name) / per

        progress = [p for iv in traced for p in iv["progress"]]
        batches = len(progress)
        files, wh_bytes = dir_stats(self.warehouse, ".parquet")
        # A span's jobs carry its group; streaming jobs carry the query's
        # run id, mapped back to the ingest span that started the query.
        names = {s.group for s in spans}
        names |= {run for run, g in self.tracer.stream_groups.items() if g in names}
        stats = merge([groups[g] for g in names if g in groups])
        interval_spans = [s for s in spans if s.name == "interval"]
        wall = sum(s.wall for s in interval_spans)
        jobs_wall = sum(union_length(stats.job_intervals, s.start, s.end) for s in interval_spans)
        # step walls are timed on every interval, traced or not

        def step_s(step: str) -> list[float]:
            return [iv["steps"][step] for iv in ivs if step in iv["steps"]]

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in progress) / per

        out = {
            "sources.read_json_s": span_s("sources.read_json"),
            "sources.wire_s": span_s("sources.wire"),
            "sources.wire_mb": statistics.fmean(iv["wire_b"] for iv in ivs) / 2**20,
            "streaming.ingest_s": span_s("pipeline.ingest"),
            "streaming.batches": batches / per,
            "streaming.empty_batch_frac": sum(p["numInputRows"] == 0 for p in progress) / max(batches, 1),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.commit_ms": dur("commitOffsets") + dur("commitBatch"),
            "warehouse.files": files,
            "warehouse.files_per_interval": files / self.day,
            "warehouse.mb": wh_bytes / 2**20,
            "views.refresh_s": statistics.median(step_s("views")),
            "views.refresh_growth": slope(step_s("views")),
            "pipeline.failed_steps": self.failed_steps,
            "pipeline.retries": sum(self.calls.values()) - self.steps_run,
            "engine.self_s": statistics.median(iv["wall"] - sum(iv["steps"].values()) for iv in ivs),
            "spark.exec_s": jobs_wall / per,
            "trace.overhead_frac": statistics.median(ratios) - 1.0,
        }
        for s in STEPS:
            out[f"pipeline.step_s.{s}"] = statistics.median(step_s(s))
        out.update(spark_metrics(stats, wall, cores, per))
        return out
