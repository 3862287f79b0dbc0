"""The two workloads: set-up, one timed pass, output checks, layer metrics.

Every public package call a workload makes is wrapped in a tracer span
named after the layer it enters; spans cost nothing when tracing is off.
In traced passes each boundary's output is forced (and cached where a
later span would recompute it) so a span holds only its own layer's work.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import datagen
from digest import spark_digest
from measure import RssSampler, Tracer, tree_cpu_s

from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.promote import (
    committed,
    promote,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.relational import (
    latest_per_key,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.pipeline import (
    run_pipeline,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sinks import (
    append_observations,
    overwrite_locations_dim,
    write_snapshot,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.json_landing import (
    PSGC_CITY_SCHEMA,
    PSGC_PROVINCE_SCHEMA,
    read_landed_json,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.dedup import (
    content_keyed,
    dedup_stream,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.ingest import (
    foreach_batch_change_detect,
    run_available_now,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.windows import (
    windowed_observation_stats,
)

#: How many times the (cheap, deterministic) input build repeats in set-up;
#: set-up reports its median.
INPUT_REPS = 3

SURFACES = ("windowed_agg", "stream_dedup", "change_detect")

#: Every per-layer metric BENCHMARK.json lists, with its unit. A traced run
#: reports all of them; a metric of a layer its workload never enters
#: reads 0.
PER_LAYER: dict[str, str] = {
    "sources.read_s": "s",
    "plans.pipeline.diff_s": "s",
    "plans.pipeline.changed_rows": "count",
    "plans.pipeline.dim_s": "s",
    "plans.pipeline.ingest_s": "s",
    "operators.enrich.geocode_s": "s",
    "operators.enrich.geocode_rows": "count",
    "operators.enrich.geocode_ratio": "ratio",
    "sinks.dim_write_s": "s",
    "sinks.fact_append_s": "s",
    "sinks.snapshot_write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.fact_files_total": "count",
    "operators.latest_per_key_s": "s",
    **{
        f"streaming.{s}.{m}": u
        for s in SURFACES
        for m, u in (
            ("epoch_p50_ms", "ms"),
            ("planning_ms", "ms"),
            ("add_batch_ms", "ms"),
            ("log_commit_ms", "ms"),
            ("state_commit_ms", "ms"),
            ("state_rows_max", "count"),
            ("state_mem_bytes_max", "bytes"),
        )
    },
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


@dataclass
class Context:
    seed: int
    tmp: str
    small: bool
    tracer: Tracer
    rss: RssSampler
    spark: object = None
    #: ops issued, and those that raised or failed an output check
    attempted: int = 0
    failed: int = 0
    #: output checks made (set-up's included) and every failure's message
    checks: int = 0
    failures: list = field(default_factory=list)

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record one output check (not an op); returns ``ok``."""
        self.checks += 1
        if not ok:
            self.failures.append(f"{what}: {detail}")
        return ok

    def cpu_s(self) -> float:
        """CPU seconds this process and its engine processes used so far,
        the memory sampler's own left out."""
        return tree_cpu_s(os.getpid()) - self.rss.cpu_s

    def error(self, what: str, ex: Exception) -> None:
        self.failures.append(f"{what}: {type(ex).__name__}: {str(ex)[:200]}")


def make(name: str, ctx: Context):
    return {"refresh_runs": RefreshRuns, "stream_epochs": StreamEpochs}[name](ctx)


def _median_time(fn, reps: int) -> float:
    times = []
    for i in range(reps):
        t0 = time.perf_counter()
        fn(i)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, Spark's hidden files excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class _Clock:
    """An op's latency with the benchmark's own bookkeeping paused out."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.off = 0.0

    @contextmanager
    def paused(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.off += time.perf_counter() - t

    def elapsed(self) -> float:
        return time.perf_counter() - self.t0 - self.off


# --------------------------------------------------------------------------
# refresh_runs
# --------------------------------------------------------------------------
class _CountingGeocoder:
    """The deterministic geocoder, counting calls in a Spark accumulator."""

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, row):
        self.acc.add(1)
        return datagen.fake_geocoder(row)


class RefreshRuns:
    """Op = one scheduled refresh: land drifted PSGC JSON, read it, run the
    pipeline against the previous snapshot, overwrite the dimension, append
    facts, write and promote the snapshot, read back the latest observation
    per location.

    Set-up runs the cold refresh (full geocode) and one incremental warm-up
    refresh, then saves the tables and the generator. Every pass restores
    that state and runs ``PER_PASS`` incremental refreshes in a row, so all
    passes do the same work and the fact table grows the same way in each.
    """

    input_reps = INPUT_REPS
    DRIFT = 0.01
    PER_PASS = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_cities = 300 if ctx.small else 2_000
        self.per_pass = 1 if ctx.small else self.PER_PASS
        self.base = os.path.join(ctx.tmp, "refresh")
        self.saved = os.path.join(ctx.tmp, "refresh-saved")
        self.landing = os.path.join(self.base, "landing")
        self.dim = os.path.join(self.base, "dim")
        self.facts = os.path.join(self.base, "facts")
        self.snap = os.path.join(self.base, "snapshot")
        self.refreshes = 0
        self.changed_shares: list[float] = []

    def describe(self) -> str:
        share = statistics.median(self.changed_shares) if self.changed_shares else 0.0
        return (f"{self.n_cities} cities, 82 provinces, drift {self.DRIFT:.0%} per refresh "
                f"({self.psgc.n_drift} rows), measured changed share {share:.2%}, "
                f"{self.per_pass} refreshes per pass")

    def setup(self) -> tuple[float, float]:
        def build(_):
            self.psgc = datagen.Psgc(self.n_cities, 82, self.ctx.seed, self.DRIFT)
            self.psgc.land(self.landing)

        input_s = _median_time(build, self.input_reps)
        self.acc = self.ctx.spark.sparkContext.accumulator(0)
        t0 = time.perf_counter()
        self._refresh(cold=True)
        self._refresh()
        self._check_tables()
        shutil.copytree(self.base, self.saved)
        self.saved_psgc = copy.deepcopy(self.psgc)
        self.saved_refreshes = self.refreshes
        return input_s, time.perf_counter() - t0

    def _restore(self) -> None:
        shutil.rmtree(self.base)
        shutil.copytree(self.saved, self.base)
        self.psgc = copy.deepcopy(self.saved_psgc)
        self.refreshes = self.saved_refreshes

    def run_pass(self, phase: str, p: int) -> tuple[list[float], float, float]:
        ctx = self.ctx
        self._restore()
        ops, bad, cpu = [], [], 0.0
        for i in range(self.per_pass):
            ctx.tracer.op_id = f"{phase}:{p}:{i}"
            ctx.attempted += 1
            try:
                op, op_cpu, ok = self._refresh()
            except Exception as ex:  # a broken refresh is a failed op, not a crash
                ctx.error(f"refresh {phase}:{p}:{i}", ex)
                ctx.failed += 1
                continue
            ops.append(op)
            cpu += op_cpu
            bad.append(not ok)
        # A wrong table can't be pinned on one refresh: all of them fail.
        ctx.failed += sum(bad) if self._check_tables() else len(bad)
        return ops, sum(ops), cpu

    def _check_tables(self) -> bool:
        """Dimension and fact row counts against the generator's."""
        spark, n, k = self.ctx.spark, self.n_cities, self.refreshes
        dim_rows = spark.read.parquet(self.dim).count()
        fact_rows = spark.read.parquet(self.facts).count()
        ok = self.ctx.check("refresh.dim_rows", dim_rows == n,
                            f"{dim_rows} dim rows, expected {n}")
        return self.ctx.check("refresh.fact_rows", fact_rows == n * k,
                              f"{fact_rows} fact rows, expected {n * k}") and ok

    def _refresh(self, cold: bool = False) -> tuple[float, float, bool]:
        """One refresh: (latency with the checks and file counts paused
        out, CPU seconds, whether its output checks passed)."""
        spark, tr, ctx = self.ctx.spark, self.ctx.tracer, self.ctx
        traced = tr.enabled
        facts_before = _dir_stats(self.facts) if traced else (0, 0)
        ok = True
        cpu0 = ctx.cpu_s()
        clock = _Clock()
        changed = 0 if cold else self.psgc.drift()
        self.psgc.land(self.landing)
        with tr.span("sources.read"):
            cities = read_landed_json(spark, os.path.join(self.landing, "cities"), PSGC_CITY_SCHEMA)
            provinces = read_landed_json(
                spark, os.path.join(self.landing, "provinces"), PSGC_PROVINCE_SCHEMA
            )
            if traced:
                cities, provinces = cities.cache(), provinces.cache()
                cities.count()
                provinces.count()
        old = spark.read.parquet(self.snap) if committed(self.snap) else None
        geo0 = self.acc.value
        with tr.span("plans.pipeline.run"):
            res = run_pipeline(
                spark, cities, provinces, old, _CountingGeocoder(self.acc), datagen.fake_weather
            )
        cached = []
        n_changed = 0
        if traced:
            for span, df in (
                ("plans.pipeline.diff", res.changes),
                ("operators.enrich.geocode", res.new_snapshot),
                ("plans.pipeline.dim", res.locations_dim),
                ("plans.pipeline.ingest", res.observations),
            ):
                with tr.span(span):
                    df.cache().count()
                cached.append(df)
            with clock.paused():
                n_changed = res.changes.filter(F.col("diff_side") == "left_only").count()
                if not cold:
                    ok &= ctx.check("refresh.diff_rows", n_changed == changed,
                                    f"diff has {n_changed} changed rows, generator drifted {changed}")

        with tr.span("sinks.dim_write"):
            overwrite_locations_dim(res.locations_dim, self.dim)
        with tr.span("sinks.fact_append"):
            append_observations(res.observations, self.facts)
        with tr.span("sinks.snapshot_write"):
            write_snapshot(res.new_snapshot, self.snap + "_next")
            promote(self.snap)
        with tr.span("operators.latest_per_key"):
            facts = spark.read.parquet(self.facts)
            dim = spark.read.parquet(self.dim).select("location_id")
            latest = latest_per_key(
                facts.join(dim, "location_id"), ["location_id"], [F.col("data_datetime").desc()]
            )
            n_latest = latest.count()
        op = clock.elapsed()
        cpu = ctx.cpu_s() - cpu0
        for df in cached:
            df.unpersist()
        if traced:
            cities.unpersist()
            provinces.unpersist()
        self.refreshes += 1

        # Output checks, off the clock, against the generator's counts.
        n = self.n_cities
        if not cold:
            suffix = f" r{self.psgc.version}"
            renamed = spark.read.parquet(self.snap).filter(F.col("name").endswith(suffix)).count()
            self.changed_shares.append(renamed / n)
            ok &= ctx.check("refresh.changed_rows", renamed == changed,
                            f"{renamed} rows carry this refresh's rename, generator drifted {changed}")
        ok &= ctx.check("refresh.latest_rows", n_latest == n,
                        f"{n_latest} latest rows, expected {n}")
        if traced:
            dim_files, dim_bytes = _dir_stats(self.dim)
            snap_files, snap_bytes = _dir_stats(self.snap)
            fact_files, fact_bytes = _dir_stats(self.facts)
            tr.count("refreshes", 1)
            tr.count("changed_rows", n_changed)
            tr.count("geocode_rows", self.acc.value - geo0)
            tr.count("live_locations", n_latest)
            tr.count("files_written", dim_files + snap_files + fact_files - facts_before[0])
            tr.count("bytes_written", dim_bytes + snap_bytes + fact_bytes - facts_before[1])
        return op, cpu, ok

    def layer_metrics(self) -> dict:
        tr = self.ctx.tracer
        c = tr.counters
        k = c.get("refreshes", 1)

        def med(name: str) -> float:
            return statistics.median(tr.durations(name))

        return {
            "sources.read_s": (med("sources.read"), "s"),
            "plans.pipeline.diff_s": (med("plans.pipeline.diff"), "s"),
            "plans.pipeline.changed_rows": (c["changed_rows"] / k, "count"),
            "plans.pipeline.dim_s": (med("plans.pipeline.dim"), "s"),
            "plans.pipeline.ingest_s": (med("plans.pipeline.ingest"), "s"),
            "operators.enrich.geocode_s": (med("operators.enrich.geocode"), "s"),
            "operators.enrich.geocode_rows": (c["geocode_rows"] / k, "count"),
            "operators.enrich.geocode_ratio": (c["geocode_rows"] / c["live_locations"], "ratio"),
            "sinks.dim_write_s": (med("sinks.dim_write"), "s"),
            "sinks.fact_append_s": (med("sinks.fact_append"), "s"),
            "sinks.snapshot_write_s": (med("sinks.snapshot_write"), "s"),
            "sinks.bytes_written": (c["bytes_written"] / k, "bytes"),
            "sinks.files_written": (c["files_written"] / k, "count"),
            "sinks.fact_files_total": (float(_dir_stats(self.facts)[0]), "count"),
            "operators.latest_per_key_s": (med("operators.latest_per_key"), "s"),
        }


# --------------------------------------------------------------------------
# stream_epochs
# --------------------------------------------------------------------------
EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, ingest_ts timestamp"


def _reader(spark, path: str, schema: str):
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def _drain(q) -> None:
    if not q.awaitTermination(60):
        q.stop()
        raise TimeoutError("stream did not drain within 60 s")


class StreamEpochs:
    """Op = one micro-batch epoch (``durationMs.triggerExecution``). A pass
    drains the landed chunks through each surface in turn, each with a fresh
    checkpoint, so every pass does the same work; afterwards each surface's
    output is checked against its batch equivalent over the same landed
    rows, computed once after the first pass. Set-up drains a small landing
    through one surface first, so the JVM's warm-up is not in the timed
    epochs; each pass still starts its queries afresh."""

    input_reps = INPUT_REPS
    N_CHUNKS = 2

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.n_chunks = 2 if ctx.small else self.N_CHUNKS
        self.n_events = 600 if ctx.small else 20_000
        self.n_docs = 100 if ctx.small else 1_000
        self.root = os.path.join(ctx.tmp, "stream")
        self.progress: dict[str, list[dict]] = {s: [] for s in SURFACES}
        self.expected: dict[str, tuple[int, str]] = {}

    def describe(self) -> str:
        return (f"{self.n_events} events + {self.n_docs} documents in {self.n_chunks} "
                f"chunks each, surfaces {', '.join(SURFACES)}")

    def _land(self, root: str, n_events: int, n_docs: int, n_chunks: int) -> tuple[str, str]:
        ev, docs = datagen.stream_frames(self.ctx.seed, n_events, n_docs)
        ev_dir = datagen.land_chunks(ev, os.path.join(root, "events"), n_chunks,
                                     datagen.sentinel_events())
        doc_dir = datagen.land_chunks(docs, os.path.join(root, "documents"), n_chunks)
        return ev_dir, doc_dir

    def setup(self) -> tuple[float, float]:
        def build(i):
            self.ev_dir, self.doc_dir = self._land(
                os.path.join(self.root, f"land{i}"), self.n_events, self.n_docs, self.n_chunks
            )

        input_s = _median_time(build, self.input_reps)
        t0 = time.perf_counter()
        # The first epoch in a JVM costs several ordinary ones (class loading,
        # interpreted code); one small windowed stream absorbs most of it.
        warm = os.path.join(self.root, "warm")
        ev_dir, doc_dir = self._land(warm, 600, 100, 1)
        _drain(self._start("windowed_agg", ev_dir, doc_dir,
                           os.path.join(warm, "out"), os.path.join(warm, "ckpt")))
        shutil.rmtree(warm)
        return input_s, time.perf_counter() - t0

    # Batch equivalents over the same landed rows -------------------------
    def _batch(self, surface: str, ev_dir: str, doc_dir: str):
        spark = self.ctx.spark
        ev = spark.read.schema(EVENTS_SCHEMA).parquet(ev_dir)
        docs = spark.read.schema(DOCS_SCHEMA).parquet(doc_dir)
        if surface == "windowed_agg":
            return windowed_observation_stats(
                ev, "1 hour", event_time_col="ts", key_cols=("event_type",)
            ).filter(F.year("window_start") < 2099)
        if surface == "stream_dedup":
            return dedup_stream(content_keyed(docs), ("content_hash",), "ingest_ts").select(
                "content_hash"
            )
        return docs.select("doc_id", "source").distinct()

    # Streamed surfaces -----------------------------------------------------
    def _start(self, surface: str, ev_dir: str, doc_dir: str, out: str, ckpt: str):
        spark = self.ctx.spark

        def sink(df, mode: str = "append"):
            return (
                df.writeStream.outputMode(mode).format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).trigger(availableNow=True).start()
            )

        if surface == "windowed_agg":
            ev = _reader(spark, ev_dir, EVENTS_SCHEMA).withWatermark("ts", "1 hour")
            return sink(windowed_observation_stats(
                ev, "1 hour", event_time_col="ts", key_cols=("event_type",)
            ))
        if surface == "stream_dedup":
            docs = _reader(spark, doc_dir, DOCS_SCHEMA)
            return sink(dedup_stream(content_keyed(docs), ("content_hash",), "ingest_ts"))
        fn = foreach_batch_change_detect(
            spark, ("doc_id", "source"), os.path.join(out, "snapshot"),
            os.path.join(out, "novel"),
        )
        return run_available_now(_reader(spark, doc_dir, DOCS_SCHEMA), fn, ckpt)

    def _streamed(self, surface: str, out: str):
        spark = self.ctx.spark
        if surface == "windowed_agg":
            return spark.read.parquet(out)
        if surface == "stream_dedup":
            return spark.read.parquet(out).select("content_hash")
        return spark.read.parquet(os.path.join(out, "snapshot"))

    def _pass(self, root: str, ev_dir: str, doc_dir: str) -> tuple[dict, float, float]:
        """Drain every surface once: ({surface: epoch progress}, wall, CPU)."""
        progress, wall, cpu = {}, 0.0, 0.0
        tr = self.ctx.tracer
        for s in SURFACES:
            out, ckpt = os.path.join(root, s, "out"), os.path.join(root, s, "ckpt")
            cpu0 = self.ctx.cpu_s()
            t0 = time.perf_counter()
            with tr.span(f"streaming.{s}"):
                q = self._start(s, ev_dir, doc_dir, out, ckpt)
                _drain(q)
            wall += time.perf_counter() - t0
            cpu += self.ctx.cpu_s() - cpu0
            progress[s] = [
                e for e in (json.loads(p) if isinstance(p, str) else p for p in q.recentProgress)
                if "triggerExecution" in (e.get("durationMs") or {})
            ]
        return progress, wall, cpu

    def run_pass(self, phase: str, p: int) -> tuple[list[float], float, float]:
        ctx = self.ctx
        root = os.path.join(self.root, f"{phase}-{p}")
        ctx.tracer.op_id = f"{phase}:{p}"
        try:
            progress, wall, cpu = self._pass(root, self.ev_dir, self.doc_dir)
        except Exception as ex:  # a broken surface fails the pass, not the run
            ctx.error(f"stream {phase}:{p}", ex)
            ctx.attempted += 1
            ctx.failed += 1
            return [], 0.0, 0.0
        ops = []
        for s in SURFACES:
            epochs = progress[s]
            ops += [e["durationMs"]["triggerExecution"] / 1e3 for e in epochs]
            ctx.attempted += len(epochs)
            if ctx.tracer.enabled:
                self.progress[s] += epochs
            try:
                if s not in self.expected:
                    self.expected[s] = spark_digest(self._batch(s, self.ev_dir, self.doc_dir))
                got = spark_digest(self._streamed(s, os.path.join(root, s, "out")))
                ok = ctx.check(f"stream.{s}", got == self.expected[s],
                               f"{got[0]} rows, batch equivalent has {self.expected[s][0]}")
            except Exception as ex:
                ctx.error(f"stream.{s}", ex)
                ok = False
            if not ok:
                ctx.failed += len(epochs)
        shutil.rmtree(root, ignore_errors=True)
        return ops, wall, cpu

    def layer_metrics(self) -> dict:
        out = {}
        for s, epochs in self.progress.items():
            def med(fn):
                return statistics.median(fn(e) for e in epochs) if epochs else 0.0

            def dur(e, *keys):
                return sum((e.get("durationMs") or {}).get(k, 0) for k in keys)

            def states(e, key):
                return sum(so.get(key, 0) or 0 for so in e.get("stateOperators") or [])

            out[f"streaming.{s}.epoch_p50_ms"] = (med(lambda e: dur(e, "triggerExecution")), "ms")
            out[f"streaming.{s}.planning_ms"] = (med(lambda e: dur(e, "queryPlanning")), "ms")
            out[f"streaming.{s}.add_batch_ms"] = (med(lambda e: dur(e, "addBatch")), "ms")
            out[f"streaming.{s}.log_commit_ms"] = (
                med(lambda e: dur(e, "walCommit", "commitOffsets")), "ms"
            )
            out[f"streaming.{s}.state_commit_ms"] = (
                med(lambda e: states(e, "commitTimeMs")), "ms"
            )
            out[f"streaming.{s}.state_rows_max"] = (
                float(max((states(e, "numRowsTotal") for e in epochs), default=0)), "count"
            )
            out[f"streaming.{s}.state_mem_bytes_max"] = (
                float(max((states(e, "memoryUsedBytes") for e in epochs), default=0)), "bytes"
            )
        return out
