"""The two workloads. Each is a closed loop with one client.

A workload generates its inputs (``generate``, untimed), prepares the
program (``setup``, part of ``setup_s``), repeats its operation for the
run's seconds (``measure``), then checks every output against DuckDB
(``check``). With tracing on, ``after_loop`` runs the forced-subtree
and candidate-count passes that would distort the timed operations.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import checks
import gen
import numpy as np
from spans import (EventLog, Tracer, first_job_delay, jobs_in, jobs_of, marker_window,
                   spark_summary, window_summary)

EXPORT_TABLES = ("mb_artist", "mb_artist_alias", "mb_album", "mb_song", "mb_song_alias")
LIFECYCLES = ("dedup_minhash_incremental", "dedup_cluster_incremental", "sim_ann_ivf_pq_persisted")

# every per-layer metric of a traced run, with its unit. The figures
# only one workload has (accuracy, merge latency, write amplification,
# build and lifecycle times) are listed here too, because every run reports the
# same metric set; a layer or figure a workload does not reach reports 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "host.probe_s": "s",
    "peak_rss_mb": "MiB",
    "trace_overhead_pct": "%",
    "pipeline.plan_s": "s",
    "pipeline.candidates_s": "s",
    "pipeline.canonical_s": "s",
    **{f"pipeline.write_{t}_s": "s" for t in EXPORT_TABLES},
    "spark.stages_skipped_frac": "ratio",
    "fuzzy.build_ms": "ms",
    "fuzzy.plan_ms": "ms",
    "fuzzy.jobs_per_request": "count",
    "fuzzy.collect_ms": "ms",
    "fuzzy.candidates_per_query": "count",
    "upsert.touched_buckets": "count",
    "upsert.readback_mb": "MiB",
    "upsert.written_mb": "MiB",
    "upsert.jobs_per_merge": "count",
    "store.files": "count",
    "store.mb_per_live_mb": "ratio",
    "search_p90_ms": "ms",
    "accuracy_correct_pct": "%",
    "accuracy_wrong_pct": "%",
    "accuracy_missing_pct": "%",
    "merge_p50_ms": "ms",
    "fresh_search_p50_ms": "ms",
    "write_amp": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.job_active_s": "s",
    "spark.driver_gap_s": "s",
    "spark.wall_coverage_pct": "%",
    "spark.exec_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.input_mb": "MiB",
    "spark.output_mb": "MiB",
    "export_build_s": "s",
    "ingest_s": "s",
    "probe_s": "s",
    **{f"lifecycle.{q}.jobs": "count" for q in LIFECYCLES},
    "lifecycle.driver_gap_s": "s",
    "lifecycle.store_files": "count",
    "lifecycle.probe_jobs": "count",
}


@dataclass
class Context:
    seed: int
    seconds: float
    traced: bool
    sizes: gen.Sizes
    work: str
    cache: str
    tracer: Tracer = field(default_factory=Tracer)
    spark: object = None
    attempted: int = 0
    host_probe_s: float = 0.0
    session_start_s: float = 0.0
    setup_s: float = 0.0
    measure_s: float = 0.0  # perf_counter wall of the measured phase
    peak_rss_mb: float = 0.0

    def __post_init__(self):
        self.tracer.enabled = self.traced


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


class Workload:
    """Shared loop: ``op(i)`` runs one timed operation and returns its
    wall seconds; the loop runs at least ``min_ops`` of them and at
    least the run's seconds, but never more than ``max_ops``."""

    name = ""
    min_ops = 3
    max_ops: int | None = None

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.walls: list[float] = []
        self.measure_windows: list[tuple[float, float]] = []

    def generate(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        pass

    def op(self, i: int) -> float:
        raise NotImplementedError

    def measure(self) -> None:
        start = time.perf_counter()
        i = 0
        while i < self.min_ops or (time.perf_counter() - start < self.ctx.seconds
                                   and (self.max_ops is None or i < self.max_ops)):
            w0 = time.time()
            self.walls.append(self.op(i))
            self.measure_windows.append((w0, time.time()))
            i += 1
        self.ctx.attempted += i
        print("[perfbench] op walls (ms): " + " ".join(
            f"{w * 1000:.0f}" for w in self.walls), file=sys.stderr)

    def after_loop(self) -> None:
        pass

    def check(self) -> list[str]:
        raise NotImplementedError

    def figures(self) -> dict[str, float]:
        """The workload's own end-to-end figures (named as in LAYER_UNITS)."""
        return {}

    def e2e_metrics(self) -> dict[str, tuple[float, str]]:
        """The end-to-end metrics every workload reports; the workload's
        own figures and the peak RSS go to stderr (and into the traced
        run's metrics)."""
        figures = {**self.figures(), "peak_rss_mb": self.ctx.peak_rss_mb}
        print("[perfbench] figures: " + ", ".join(
            f"{k}={v:.4f}" for k, v in figures.items()), file=sys.stderr)
        return {
            # best of the run's operations, as bench.py's best-of-N: on a
            # shared host a contention burst inflates single operations
            # (over ten runs the median's quartile spread was 0.31 of its
            # median, the best's 0.13)
            "op_best_ms": (1000 * min(self.walls), "ms"),
            "setup_s": (self.ctx.setup_s, "s"),
        }

    def layers(self, log: EventLog) -> dict[str, float]:
        return {}

    def layer_metrics(self, log: EventLog, untraced_op_ms: float | None) -> dict[str, tuple[float, str]]:
        ctx = self.ctx
        vals = {k: 0.0 for k in LAYER_UNITS}
        vals["session.start_s"] = ctx.session_start_s
        vals["host.probe_s"] = ctx.host_probe_s
        vals["peak_rss_mb"] = ctx.peak_rss_mb
        if untraced_op_ms:
            vals["trace_overhead_pct"] = (1000 * min(self.walls) / untraced_op_ms - 1) * 100
        else:
            print("[perfbench] no untraced run of this workload and seed: "
                  "trace_overhead_pct reported as 0", file=sys.stderr)
        # the measured phase as the event log saw it (between the two
        # marker jobs) against its perf_counter wall: the two clocks and
        # the log's completeness are checked, not a sum that holds by
        # construction
        window = marker_window(log, f"{self.name}/marker")
        if window is None:
            print("[perfbench] WARNING marker jobs missing from the event log", file=sys.stderr)
            window = (self.measure_windows[0][0], self.measure_windows[-1][1])
        s = spark_summary(log, jobs_of(log, f"{self.name}/measure"), [window])
        n = max(len(self.walls), 1)
        for k in ("jobs", "tasks", "job_active_s", "driver_gap_s", "exec_cpu_s", "gc_s",
                  "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"):
            vals[f"spark.{k}"] = s[k] / n
        vals["spark.stages_skipped_frac"] = s["stages_skipped_frac"]
        cover = (s["job_active_s"] + s["driver_gap_s"]) / ctx.measure_s * 100
        vals["spark.wall_coverage_pct"] = cover
        if abs(cover - 100) > 5:
            print(f"[perfbench] WARNING event-log job_active_s + driver_gap_s cover {cover:.1f}% "
                  "of the measured phase's wall", file=sys.stderr)
        vals.update(self.figures())
        vals.update(self.layers(log))
        selfs = ctx.tracer.self_times()
        print("[perfbench] span self times (s): "
              + ", ".join(f"{k}={v:.3f}" for k, v in sorted(selfs.items())),
              file=sys.stderr)
        return {k: (float(v), LAYER_UNITS[k]) for k, v in vals.items()}


# ---------------------------------------------------------------------------
# batch_build: the five-table export build, then the three snapshot-tier
# index lifecycles, as one cold batch operation
# ---------------------------------------------------------------------------


class BatchBuild(Workload):
    """One operation = the export build (``mb_scale_tables`` ->
    ``run_pipeline`` -> five parquet exports) followed by one trial of
    the three index lifecycles (builder call = build + ingest + commit;
    draining the returned frame = probe), in a fresh session."""

    name = "batch_build"
    # exactly one operation per run, whatever its length: a second one in
    # the same session would run warm and change what the figure means
    min_ops = max_ops = 1

    def generate(self):
        c = self.ctx
        self.src = gen.inputs(c.cache, "tpch", c.seed, c.sizes)
        self.docs = gen.inputs(c.cache, "docs", c.seed, c.sizes)
        self.sink = os.path.join(c.work, "export")
        self.build_walls: list[float] = []
        self.ingest_walls: list[float] = []
        self.probe_walls: list[float] = []
        self.last: dict[str, tuple] = {}

    def _build(self) -> None:
        from tijdloze_musicbrainz_spark.pipeline import run_pipeline  # noqa: PLC0415
        from tijdloze_musicbrainz_spark.plans.mb_pipeline import mb_scale_tables  # noqa: PLC0415

        tr = self.ctx.tracer
        with tr.span("pipeline.plan"):
            out = run_pipeline(mb_scale_tables(self.ctx.spark, self.src))
        for t in EXPORT_TABLES:
            with tr.span(f"pipeline.write_{t}"):
                out[t].write.mode("overwrite").parquet(os.path.join(self.sink, t))

    def _trial(self, i) -> tuple[float, float]:
        from tijdloze_musicbrainz_spark.plans.registry import REGISTRY  # noqa: PLC0415

        tr = self.ctx.tracer
        ingest = probe = 0.0
        for q in LIFECYCLES:
            t0 = time.perf_counter()
            with tr.span(f"lifecycle.{q}.ingest", req=i):
                df = REGISTRY[q].builder(self.ctx.spark, self.docs)
            t1 = time.perf_counter()
            with tr.span(f"lifecycle.{q}.probe", req=i):
                rows = df.collect()
            t2 = time.perf_counter()
            ingest += t1 - t0
            probe += t2 - t1
            self.last[q] = (df.columns, [tuple(r) for r in rows])
        return ingest, probe

    # no warm-up: the batch runs once per session, so the first (cold)
    # run is the one users wait for

    def op(self, i):
        t0 = time.perf_counter()
        with self.ctx.tracer.span("export.build", req=i):
            self._build()
        t1 = time.perf_counter()
        with self.ctx.tracer.span("lifecycle.trial", req=i):
            ingest, probe = self._trial(i)
        self.build_walls.append(t1 - t0)
        self.ingest_walls.append(ingest)
        self.probe_walls.append(probe)
        return time.perf_counter() - t0

    def after_loop(self):
        if not self.ctx.traced:
            return
        from tijdloze_musicbrainz_spark.pipeline import run_pipeline  # noqa: PLC0415
        from tijdloze_musicbrainz_spark.plans.mb_pipeline import mb_scale_tables  # noqa: PLC0415

        out = run_pipeline(mb_scale_tables(self.ctx.spark, self.src))
        for part in ("candidates", "canonical"):
            with self.ctx.tracer.span(f"pipeline.force_{part}"):
                out[part].write.format("noop").mode("overwrite").save()

    def check(self):
        from tijdloze_musicbrainz_spark.plans.registry import REGISTRY  # noqa: PLC0415

        errors = checks.check_export(self.src, self.sink, REGISTRY["mb_pipeline_scale"].oracle)
        for q, (cols, rows) in self.last.items():
            errors += checks.check_oracle(self.docs, q, REGISTRY[q].oracle, cols, rows)
        return errors

    def figures(self):
        return {"export_build_s": median(self.build_walls),
                "ingest_s": median(self.ingest_walls), "probe_s": median(self.probe_walls)}

    def layers(self, log):
        tr = self.ctx.tracer
        spans = tr.spans
        builds = {i for i, s in enumerate(spans) if s.name == "export.build"}

        def per_build(name):
            inside = [s.end - s.start for s in spans if s.name == name and s.parent in builds]
            return sum(inside) / max(len(builds), 1)

        vals = {"pipeline.plan_s": per_build("pipeline.plan")}
        for t in EXPORT_TABLES:
            vals[f"pipeline.write_{t}_s"] = per_build(f"pipeline.write_{t}")
        for part in ("candidates", "canonical"):
            vals[f"pipeline.{part}_s"] = sum(s.end - s.start for s in tr.named(f"pipeline.force_{part}"))
        # the shared-subtree signal belongs to the export build alone
        vals["spark.stages_skipped_frac"] = window_summary(
            log, [(s.start, s.end) for s in tr.named("export.build")])["stages_skipped_frac"]
        for q in LIFECYCLES:
            per = [len(jobs_in(log, [(s.start, s.end)])) for s in tr.named(f"lifecycle.{q}.ingest")]
            probes = [len(jobs_in(log, [(s.start, s.end)])) for s in tr.named(f"lifecycle.{q}.probe")]
            vals[f"lifecycle.{q}.jobs"] = median([a + b for a, b in zip(per, probes)])
            vals["lifecycle.probe_jobs"] = vals.get("lifecycle.probe_jobs", 0.0) + median(probes)
        vals["lifecycle.driver_gap_s"] = median(
            [window_summary(log, [(s.start, s.end)])["driver_gap_s"] for s in tr.named("lifecycle.trial")])
        vals["lifecycle.store_files"] = float(_dir_bytes(os.environ["SPARK_GRAFT_SINK_DIR"])[1])
        return vals


# ---------------------------------------------------------------------------
# the read path: batches of free-text queries against the export catalog
# ---------------------------------------------------------------------------


def _search_frame(spark, catalog, aliases, batch):
    """The request path: search_key -> fuzzy_key_join (direct, then the
    '&' split for unresolved duets) -> catalog join -> rank_candidates."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from tijdloze_musicbrainz_spark.functions.normalize import search_key  # noqa: PLC0415
    from tijdloze_musicbrainz_spark.plans.fuzzy import fuzzy_key_join, rank_candidates  # noqa: PLC0415

    q = spark.createDataFrame(
        [(x["qid"], x["artist_q"], x["title_q"]) for x in batch],
        "qid long, artist_q string, title_q string",
    )
    keyed = q.select(
        "qid", "artist_q",
        search_key("artist_q").alias("artist_key"),
        search_key("title_q").alias("title_key"),
        search_key("element_at(split(artist_q, '&'), 1)").alias("main_key"),
    )
    direct = (
        fuzzy_key_join(keyed.select("qid", "artist_key", "title_key"), aliases, "artist_key", "alias")
        .select("qid", "title_key", "artist_id").distinct()
    )
    unresolved = keyed.filter(F.col("artist_q").contains("&")).join(
        direct.select("qid").distinct(), "qid", "left_anti")
    duet = (
        fuzzy_key_join(unresolved.select("qid", "title_key", "main_key"), aliases, "main_key", "alias")
        .select("qid", "title_key", "artist_id").distinct()
    )
    joined = catalog.join(F.broadcast(direct.unionByName(duet)), "artist_id")
    return joined, rank_candidates(joined)


def _catalog_frame(spark, songs, albums):
    """The search catalog over the export tables."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from tijdloze_musicbrainz_spark.functions.normalize import search_key  # noqa: PLC0415

    return songs.join(albums.select(F.col("mb_id").alias("album_mb_id"), "release_year",
                                    "is_main_album"), "album_mb_id").select(
        F.col("mb_id").cast("long").alias("song_id"), "artist_id", "title",
        search_key("title").alias("alias_key"),
        F.col("score").alias("recording_score"), "release_year",
        F.col("is_single").alias("is_single_from"), "is_main_album",
    )


RESULT_COLS = ["qid", "song_id", "artist_id", "title", "release_year", "phase", "relevance"]


# ---------------------------------------------------------------------------
# export_refresh: bucketed merges into the stored mb_song, then a search
# ---------------------------------------------------------------------------


class ExportRefresh(Workload):
    name = "export_refresh"
    # the first cycle runs while the JIT compiles (up to ~3x slower)
    warm_cycles = 1
    min_ops = 3

    def generate(self):
        c = self.ctx
        self.src = gen.inputs(c.cache, "export", c.seed, c.sizes)
        with open(os.path.join(self.src, "refresh_batches.json")) as f:
            self.batches = json.load(f)["batches"]
        self.store = os.path.join(c.work, "store", "mb_song")
        self.merged = [os.path.join(self.src, "mb_song.parquet")]
        self.searches: list[tuple] = []
        self.answers: list[tuple] = []
        self.done: list[list[dict]] = []
        self.merge_walls: list[float] = []
        self.search_walls: list[float] = []
        self.inc_bytes = self.written_bytes = 0
        self.touched: list[int] = []

    def _read(self, name):
        return self.ctx.spark.read.parquet(os.path.join(self.src, f"{name}.parquet"))

    def request(self, batch, req):
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("fuzzy.request", req=req):
            with tr.span("fuzzy.build", req=req):
                _, df = _search_frame(self.ctx.spark, self.catalog, self.aliases, batch)
            with tr.span("fuzzy.collect", req=req):
                rows = df.select(*RESULT_COLS).collect()
        return time.perf_counter() - t0, rows

    def _merge(self, k: int) -> tuple[float, list[int]]:
        from tijdloze_musicbrainz_spark.operators.upsert import merge_upsert_bucketed  # noqa: PLC0415

        path = os.path.join(self.src, f"increment_{k:04d}.parquet")
        t0 = time.perf_counter()
        touched = merge_upsert_bucketed(
            self.ctx.spark.read.parquet(path), self.store, ["mb_id"], "version")
        wall = time.perf_counter() - t0
        self.merged.append(path)
        return wall, touched

    def _fresh_catalog(self):
        spark = self.ctx.spark
        return _catalog_frame(spark, spark.read.parquet(self.store).drop("__bucket"),
                              self._read("mb_album"))

    def setup(self):
        from tijdloze_musicbrainz_spark.operators.upsert import merge_upsert_bucketed  # noqa: PLC0415

        tr = self.ctx.tracer
        with tr.span("setup.store_load"):
            merge_upsert_bucketed(self._read("mb_song"), self.store, ["mb_id"], "version")
        self.aliases = self._read("mb_artist_alias")
        with tr.span("setup.warmup"):
            for k in range(self.warm_cycles):
                self._merge(k)
                self.catalog = self._fresh_catalog()
                _search_frame(self.ctx.spark, self.catalog, self.aliases,
                              self.batches[k])[1].select(*RESULT_COLS).collect()

    def op(self, i):
        k = self.warm_cycles + i
        if k >= len(self.batches):
            raise RuntimeError("refresh increments exhausted: generate more for this run length")
        tr = self.ctx.tracer
        with tr.span("upsert.merge", req=i):
            wall, touched = self._merge(k)
        self.merge_walls.append(wall)
        inc = os.path.getsize(self.merged[-1])
        written = sum(_dir_bytes(os.path.join(self.store, f"__bucket={b}"))[0] for b in touched)
        self.inc_bytes += inc
        self.written_bytes += written
        self.touched.append(len(touched))
        self.catalog = self._fresh_catalog()
        search_wall, rows = self.request(self.batches[k], i)
        answers = [tuple(r) for r in rows]
        self.searches.append((len(self.merged), self.batches[k], RESULT_COLS, answers))
        self.answers.extend(answers)
        self.done.append(self.batches[k])
        self.search_walls.append(search_wall)
        return wall + search_wall

    def after_loop(self):
        if not self.ctx.traced:
            return
        spark = self.ctx.spark
        n_cand = n_q = 0
        for b in self.done[:2]:
            joined, _ = _search_frame(spark, self.catalog, self.aliases, b)
            n_cand += joined.count()
            n_q += len(b)
        self.cand_per_query = n_cand / n_q

    def check(self):
        return checks.check_refresh(self.src, self.store, self.merged, self.searches)

    def accuracy(self) -> dict[str, float]:
        got = {r[0]: r[1] for r in self.answers}
        expected = [(q["qid"], q["expected"]) for b in self.done for q in b]
        n = len(expected)
        missing = sum(1 for qid, _ in expected if qid not in got)
        correct = sum(1 for qid, e in expected if got.get(qid) == e)
        return {
            "accuracy_correct_pct": 100 * correct / n,
            "accuracy_wrong_pct": 100 * (n - correct - missing) / n,
            "accuracy_missing_pct": 100 * missing / n,
        }

    def figures(self):
        return {
            "search_p90_ms": float(np.percentile([w * 1000 for w in self.search_walls], 90)),
            "merge_p50_ms": 1000 * median(self.merge_walls),
            "fresh_search_p50_ms": 1000 * median(self.search_walls),
            "write_amp": self.written_bytes / max(self.inc_bytes, 1),
            **self.accuracy(),
        }

    def layers(self, log):
        tr = self.ctx.tracer
        merges = tr.named("upsert.merge")
        live, files = _dir_bytes(self.store)
        collects = tr.named("fuzzy.collect")
        plan = [d for d in (first_job_delay(log, (s.start, s.end)) for s in collects) if d is not None]
        return {
            "fuzzy.build_ms": 1000 * median([s.end - s.start for s in tr.named("fuzzy.build")]),
            "fuzzy.collect_ms": 1000 * median([s.end - s.start for s in collects]),
            "fuzzy.plan_ms": 1000 * median(plan),
            "fuzzy.jobs_per_request": median([len(jobs_in(log, [(s.start, s.end)])) for s in collects]),
            "fuzzy.candidates_per_query": getattr(self, "cand_per_query", 0.0),
            "upsert.touched_buckets": median(self.touched),
            "upsert.readback_mb": median([window_summary(log, [(s.start, s.end)])["input_mb"]
                                          for s in merges]),
            "upsert.written_mb": self.written_bytes / max(len(self.merge_walls), 1) / (1 << 20),
            "upsert.jobs_per_merge": median([len(jobs_in(log, [(s.start, s.end)])) for s in merges]),
            "store.files": float(files),
            "store.mb_per_live_mb": live / max(self._live_bytes(), 1),
        }

    def _live_bytes(self) -> int:
        """Bytes of the store's live rows written as one compact file."""
        import duckdb  # noqa: PLC0415

        out = os.path.join(self.ctx.work, "tmp", "live.parquet")
        duckdb.execute(f"COPY ({checks.lww_sql(self.merged)}) TO '{out}' (FORMAT parquet)")
        return os.path.getsize(out)


WORKLOADS = {w.name: w for w in (BatchBuild, ExportRefresh)}
