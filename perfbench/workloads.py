"""One benchmark workload in one fresh process (launched by
``perfbench/run.py``, which sets the isolated scratch, CPU count and
PYTHONPATH). Usage::

    python3 perfbench/workloads.py <workload> <seed> <seconds> <trace 0|1> <work_dir> <result.json>

Phases: generate inputs (untimed) -> set-up (timed as ``setup_s``:
session start, ``load_all_operators``, the warm pass) -> timed region
(peak RSS sampled) -> oracle checks (untimed) -> with trace on, the event
log and checkpoint are read for the per-layer metrics.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from probes import (  # noqa: E402
    PeakRss, Tracer, file_batches, file_commit_times, job_totals, jobs_in,
    jvm_pid, pct, read_event_log,
)

# cdc_backlog: 8 files of 10k events, drained 2 files per trigger (4
# batches of 20k), Zipf 1.1 over 200k keys. Three warm drains: the merge
# path was still compiling through the first two.
BACKLOG = dict(n_events=80_000, n_files=8, key_space=200_000, skew=1.1)
BACKLOG_WARM_DRAINS = 3
# cdc_live: one 2.5k-event file every 125 ms (20k events/s), uniform keys.
# A batch may take up to 16 files: with the pipeline's default cap of 2,
# a small batch's fixed cost holds the engine below the offered file rate
# on a 4-core host, and the backlog (so the lag) grew for the whole run.
# Lag percentiles are taken per window of 10 consecutive files, then the
# median over windows: one host stall then moves one window, not the p90.
LIVE = dict(period=0.125, per_file=2_500, key_space=100_000, warm_files=8, max_files=16,
            window=10)
LIVE_CATCHUP_S = 30.0

MIX_GROUPS = {
    "relational": ["sql_tpch_q3", "sql_tpch_q5", "sql_tpch_q9", "sql_tpch_q18",
                   "agg_hash_groupby", "join_inner_equi", "win_latest_per_key"],
    "cdc_batch": ["cdc_diff_fieldwise", "cdc_window_audit"],
    "vectors": ["ext_dedup_near_minhash", "ext_semantic_dedup", "ext_sim_cosine_topk",
                "ext_sim_ivf_recall_eval"],
    "gates": ["stream_dedup_minhash", "stream_semantic_dedup_ingest", "stream_upsert_dlq"],
}
# Runs of each key per timed pass: a single run of a 0.1-0.4 s key varied
# by up to a quarter between identical runs; its median of 3 is steadier.
MIX_REPS = {"relational": 3, "cdc_batch": 3, "vectors": 1, "gates": 1}
MIX_KEYS = [k for keys in MIX_GROUPS.values() for k in keys]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "throughput_per_s": "1/s",
             "latency_p50_s": "s", "latency_p90_s": "s"}
SPARK_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "executor_run_ms": "ms",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
# Every per-layer metric of a traced run, with its unit. A layer the
# workload does not exercise reports 0.
LAYER_UNITS = {
    "changefeed.rows_per_batch": "count", "changefeed.latest_offset_ms": "ms",
    "changefeed.files_pending": "count",
    "pipeline.batches": "count", "pipeline.trigger_ms_p50": "ms",
    "pipeline.planning_ms_p50": "ms", "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.jobs_per_batch": "count",
    "upsert.merge_ms_p50": "ms", "upsert.merge_share": "ratio",
    "upsert.touched_buckets_per_batch": "count", "upsert.write_amplification": "ratio",
    "upsert.state_rows_end": "count",
    "monitor.reported_lag_s": "s", "monitor.measured_lag_s": "s", "monitor.events_total": "count",
    **{f"io.load_table_ms.{t}": "ms" for t in TABLES}, "io.register_views_ms": "ms",
    **{f"operators.{g}_s": "s" for g in MIX_GROUPS},
    **{f"{k}.{m}": u for k in MIX_KEYS for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    **{f"spark.{k}": u for k, u in SPARK_UNITS.items()},
    **{f"overhead.{k}": u for k, u in E2E_UNITS.items()},
}


class TimedTarget:
    """``MergeTarget`` wrapper (traced runs only): delegates to
    ``ParquetUpsertTarget.merge_batch``, times it, and reads the table's
    snapshot manifests to count touched buckets and rows written."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner = inner
        self.path = inner.path
        self.tracer = tracer
        self.merges: list[dict] = []

    def current(self, spark):
        return self.inner.current(spark)

    def _manifest(self) -> dict[str, str]:
        snaps = self.inner.snapshots()
        if not snaps:
            return {}
        with open(os.path.join(self.path, "_log", f"{snaps[-1]}.json")) as f:
            return json.load(f)["buckets"]

    def merge_batch(self, batch, epoch_id: int) -> None:
        before = self._manifest()
        with self.tracer.span("upsert.merge_batch", group=f"batch{epoch_id}") as s:
            self.inner.merge_batch(batch, epoch_id)
        after = self._manifest()
        touched = [b for b, v in after.items() if before.get(b) != v]
        written = 0
        for b in touched:
            vdir = os.path.join(self.path, f"bucket={b}", after[b])
            written += sum(pq.read_metadata(os.path.join(vdir, f)).num_rows
                           for f in os.listdir(vdir) if f.endswith(".parquet"))
        self.merges.append({"merge_s": s["end"] - s["start"], "touched": len(touched),
                            "rows_written": written})


class Workload:
    """State of one invocation: inputs, timings, failures, metrics."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str) -> None:
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.tracer = Tracer()
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
        self.detail: dict = {}
        self.spark = None

    # Phases, in the order main() runs them.
    def generate(self) -> None:
        """Write the seeded inputs (untimed, no Spark)."""

    def warm(self) -> None:
        """The untimed-by-the-run, set-up-timed warm pass."""

    def measure(self) -> None:
        """The timed region; fills the end-to-end metrics it owns."""

    def check(self) -> None:
        """Oracle checks; count attempted and failed."""

    def layers(self, jobs: list[dict]) -> None:
        """Per-layer metrics of a traced run from spans and ``jobs``."""

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_session(self) -> None:
        from mongodb_cdc_spark.registry import load_all_operators
        from mongodb_cdc_spark.session import get_spark

        # A fixed-size driver heap: with a growable one, when G1 expands
        # it moved peak RSS by a quarter between identical runs.
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.defaultJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"]}
        if self.trace:
            os.makedirs(self.path("eventlog"), exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                # Spark 4 compresses with zstd by default; Python here
                # has no zstd/lz4 module to read it back
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        load_all_operators()


# ------------------------------------------------------------ CDC shared --


class CdcWorkload(Workload):
    """Shared by both CDC workloads: queries, per-file lag, oracle, layers."""

    lag_name = "lag"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.checks: list[tuple[list[str], object, int]] = []  # (files, target, events)
        self.progress: list = []
        self.batch_pending: list[int] = []
        self.file_lag: list[list[float]] = []  # per query
        self.last_lag = 0.0
        self.listener = None

    def new_target(self, name: str):
        from mongodb_cdc_spark.streaming.upsert import ParquetUpsertTarget

        target = ParquetUpsertTarget(self.path("scratch", name))
        return TimedTarget(target, self.tracer) if self.trace else target

    def start(self, source: str, target, name: str, available_now: bool, max_files: int = 2):
        from mongodb_cdc_spark.streaming.pipeline import start_cdc_replication

        kw = {} if available_now else {"processing_time": "0 seconds"}
        return start_cdc_replication(
            self.spark, source, target, self.path("scratch", f"ckpt_{name}"),
            available_now=available_now, max_files_per_trigger=max_files, **kw)

    def add_listener(self) -> None:
        if self.trace:
            from mongodb_cdc_spark.streaming.monitor import CDCHealthListener

            self.listener = CDCHealthListener()
            self.spark.streams.addListener(self.listener)

    def record_query(self, q, sched: dict[str, float], name: str) -> dict[str, float]:
        """Per-file lag and sampled backlog of one finished query. ``sched``
        maps each input file to its scheduled creation time; returns the
        commit time of every committed file. The lag of the files of the
        last batch is kept for ``monitor.measured_lag_s``."""
        ckpt = self.path("scratch", f"ckpt_{name}")
        batch_of = file_batches(ckpt)
        done = file_commit_times(ckpt)
        self.file_lag.append([done[f] - t for f, t in sched.items() if f in done])
        for c in sorted(set(done.values())):
            created = sum(1 for t in sched.values() if t <= c)
            self.batch_pending.append(created - sum(1 for d in done.values() if d <= c))
        self.progress += [p for p in q.recentProgress if p.numInputRows > 0]
        if done:
            last = max(batch_of[f] for f in done)
            self.last_lag = max(done[f] - sched[f] for f in done if batch_of[f] == last)
        missing = len(sched) - len(done)
        if missing:
            print(f"{missing} files not committed by {name}", file=sys.stderr)
        return done

    def finish(self) -> None:
        """Per-file lag percentiles of each group of files (a drain, or a
        window of the live feed), then the median over groups, so one
        slow group does not move them."""
        for q in (50, 90):
            v = pct([pct(lags, q) for lags in self.file_lag], 50)
            self.e2e[f"latency_p{q}_s"] = v
            self.detail[f"{self.lag_name}_p{q}_s"] = v
        self.detail["lag_samples"] = sum(map(len, self.file_lag))

    def check(self) -> None:
        """Every target against the DuckDB oracle; a mismatched key counts
        as failed (uncommitted files were counted when recorded)."""
        for files, target, events in self.checks:
            rows = oracle.current_rows(self.spark, target)
            bad = oracle.mismatched_keys(files, rows)
            self.attempted += events
            self.failed += bad
            if bad:
                print(f"oracle mismatch: {bad} keys in {target.path}", file=sys.stderr)
        self.layer["upsert.state_rows_end"] = float(rows.num_rows)
        if self.listener is not None:
            expected = sum(e for _, _, e in self.checks)
            deadline = time.time() + 5.0
            while self.listener.report.total_events < expected and time.time() < deadline:
                time.sleep(0.1)
            if self.listener.report.total_events != expected:
                print(f"listener saw {self.listener.report.total_events} of {expected} events",
                      file=sys.stderr)
                self.failed += 1
            self.spark.streams.removeListener(self.listener)

    def layers(self, jobs: list[dict]) -> None:
        dur = [p.durationMs for p in self.progress]

        def ms(*keys: str) -> list[float]:
            return [sum(d.get(k, 0) for k in keys) for d in dur]

        batches = len(self.progress)
        runs = {str(p.runId) for p in self.progress}  # timed queries only
        stream_jobs = [j for j in jobs if "streaming.sql.batchId" in j["props"]
                       and j["props"].get("spark.jobGroup.id") in runs]
        merge_in = sum(o["inserts"] + o["updates"] for o in
                       (p.observedMetrics.get("cdc_stats") for p in self.progress) if o is not None)
        merges = [m for _, t, _ in self.checks for m in t.merges]
        merge_s = [m["merge_s"] for m in merges]
        L = self.layer
        L["changefeed.rows_per_batch"] = pct([p.numInputRows for p in self.progress], 50)
        L["changefeed.latest_offset_ms"] = pct(ms("latestOffset"), 50)
        L["changefeed.files_pending"] = sum(self.batch_pending) / max(1, len(self.batch_pending))
        L["pipeline.batches"] = float(batches)
        L["pipeline.trigger_ms_p50"] = pct(ms("triggerExecution"), 50)
        L["pipeline.planning_ms_p50"] = pct(ms("queryPlanning"), 50)
        L["pipeline.wal_commit_ms_p50"] = pct(ms("walCommit", "commitOffsets"), 50)
        L["pipeline.jobs_per_batch"] = len(stream_jobs) / max(1, batches)
        L["upsert.merge_ms_p50"] = pct(merge_s, 50) * 1000.0
        L["upsert.merge_share"] = sum(merge_s) * 1000.0 / max(1.0, sum(ms("triggerExecution")))
        L["upsert.touched_buckets_per_batch"] = sum(m["touched"] for m in merges) / max(1, len(merges))
        L["upsert.write_amplification"] = sum(m["rows_written"] for m in merges) / max(1, merge_in)
        if self.listener is not None:
            L["monitor.reported_lag_s"] = float(self.listener.report.last_batch_lag_s or 0.0)
            L["monitor.events_total"] = float(self.listener.report.total_events)
        L["monitor.measured_lag_s"] = self.last_lag
        for k, v in job_totals(stream_jobs).items():
            L[f"spark.{k}"] = v / max(1, batches)
        self.detail["per_batch"] = [
            {"run": j["props"].get("spark.jobGroup.id"),
             "batch": int(j["props"]["streaming.sql.batchId"]),
             **{k: j[k] for k in SPARK_UNITS if k != "jobs"}}
            for j in stream_jobs]


class CdcBacklog(CdcWorkload):
    """Catch-up after an outage: the whole log is on disk when a drain
    starts. Closed loop, one drain at a time, each into a fresh target."""

    lag_name = "catchup"

    def generate(self) -> None:
        self.log_dir = self.path("log")
        self.files = gen.write_change_log(self.log_dir, self.seed, **BACKLOG)

    def drain(self, name: str):
        from mongodb_cdc_spark.streaming.pipeline import run_to_completion

        target = self.new_target(f"target_{name}")
        with self.tracer.span("drain", group=name, root=True) as s:
            q = self.start(self.log_dir, target, name, available_now=True)
            run_to_completion(q)
        return q, target, s

    def warm(self) -> None:
        for i in range(BACKLOG_WARM_DRAINS):
            self.drain(f"warm{i}")

    def measure(self) -> None:
        self.add_listener()
        rates, t_end = [], time.time() + self.seconds
        while not rates or time.time() < t_end:
            name = f"d{len(rates)}"
            q, target, s = self.drain(name)
            rates.append(BACKLOG["n_events"] / (s["end"] - s["start"]))
            # the outage ends when the drain starts: every file is due then
            sched = {os.path.basename(f): s["start"] for f in self.files}
            done = self.record_query(q, sched, name)
            self.failed += (len(sched) - len(done)) * BACKLOG["n_events"] // BACKLOG["n_files"]
            self.checks.append((self.files, target, BACKLOG["n_events"]))
        self.e2e["throughput_per_s"] = pct(rates, 50)
        self.detail.update(events_per_s=pct(rates, 50), drains=len(rates),
                           drain_events_per_s=rates)
        self.finish()


class CdcLive(CdcWorkload):
    """Replication lag at a steady offered rate: an open-loop generator
    process writes one file every ``period`` seconds."""

    def generate(self) -> None:
        self.warm_dir = self.path("warm_log")
        gen.write_change_log(self.warm_dir, self.seed + 1, LIVE["warm_files"] * LIVE["per_file"],
                             LIVE["warm_files"], LIVE["key_space"], 0.0)
        self.live_dir = self.path("live")
        os.makedirs(self.live_dir)
        self.n_files = max(1, round(self.seconds / LIVE["period"]))

    def warm(self) -> None:
        from mongodb_cdc_spark.streaming.pipeline import run_to_completion

        run_to_completion(self.start(self.warm_dir, self.new_target("target_warm"), "warm", True))

    def measure(self) -> None:
        self.add_listener()
        target = self.new_target("target_live")
        report = self.path("gen_report.json")
        names = [f"live-{i:05d}.parquet" for i in range(self.n_files)]
        with self.tracer.span("live", root=True):
            q = self.start(self.live_dir, target, "live", False, LIVE["max_files"])
            t0 = time.time() + 0.5
            generator = subprocess.Popen([
                sys.executable, os.path.join(HERE, "gen.py"), "live", "--dir", self.live_dir,
                "--seed", str(self.seed), "--start", repr(t0), "--files", str(self.n_files),
                "--period", str(LIVE["period"]), "--per-file", str(LIVE["per_file"]),
                "--key-space", str(LIVE["key_space"]), "--report", report])
            try:
                generator.wait(timeout=self.seconds + 30)
            finally:
                if generator.poll() is None:
                    generator.kill()
                    generator.wait()
            deadline = time.time() + LIVE_CATCHUP_S
            ckpt = self.path("scratch", "ckpt_live")
            while time.time() < deadline and len(file_commit_times(ckpt)) < self.n_files:
                time.sleep(0.05)
            q.stop()
        if generator.returncode != 0:
            raise RuntimeError(f"live generator exited with {generator.returncode}")
        sched = {n: t0 + i * LIVE["period"] for i, n in enumerate(names)}
        done = self.record_query(q, sched, "live")
        lags = [done[n] - sched[n] for n in names if n in done]
        w = LIVE["window"]
        self.file_lag = [lags[i:i + w] for i in range(0, len(lags), w)]
        missing = (len(names) - len(done)) * LIVE["per_file"]
        self.attempted += missing
        self.failed += missing
        files = [os.path.join(self.live_dir, n) for n in names if n in done]
        self.checks.append((files, target, len(files) * LIVE["per_file"]))
        self.e2e["throughput_per_s"] = len(files) * LIVE["per_file"] / (max(done.values()) - t0)
        with open(report) as f:
            late = json.load(f)["late_ms"]
        self.detail.update(gen_late_p99_ms=pct(late, 99), files=self.n_files)
        self.finish()


# ------------------------------------------------------------- query mix --


class QueryMix(Workload):
    """The registered keys of ``MIX_GROUPS`` in a fixed order, closed
    loop, one client, over generated sf0.01-shaped tables."""

    def generate(self) -> None:
        self.sf = self.path("data", "sf0.01")
        gen.write_tables(self.sf, self.seed)

    def run_key(self, key: str, group: str | None = None) -> None:
        from mongodb_cdc_spark.registry import QUERIES

        with self.tracer.span(f"{key}.build", group=group):
            df = QUERIES[key](self.spark, self.sf)
        with self.tracer.span(f"{key}.exec", group=group):
            df.write.format("noop").mode("overwrite").save()

    def warm(self) -> None:
        for key in MIX_KEYS:
            self.run_key(key)

    def measure(self) -> None:
        self.passes, t_end = 0, time.time() + self.seconds
        with self.tracer.span("timed", root=True):
            while not self.passes or time.time() < t_end:
                for group, keys in MIX_GROUPS.items():
                    for key in keys:
                        for _ in range(MIX_REPS[group]):
                            self.run_key(key, group=f"pass{self.passes}")
                            self.attempted += 1
                self.passes += 1
        self.timed = timed = [s for s in self.tracer.spans if (s["group"] or "").startswith("pass")]
        self.key_s = {}
        for key in MIX_KEYS:
            b = [s["end"] - s["start"] for s in timed if s["name"] == f"{key}.build"]
            e = [s["end"] - s["start"] for s in timed if s["name"] == f"{key}.exec"]
            self.key_s[key] = (pct(b, 50), pct(e, 50), pct([x + y for x, y in zip(b, e)], 50))
        total = [t for _, _, t in self.key_s.values()]
        self.e2e["throughput_per_s"] = len(MIX_KEYS) / sum(total)
        self.e2e["latency_p50_s"] = pct(total, 50)
        self.e2e["latency_p90_s"] = pct(total, 90)
        self.detail.update(mix_s=sum(total), key_p50_s=pct(total, 50), passes=self.passes,
                           key_s={k: v[2] for k, v in self.key_s.items()})

    def check(self) -> None:
        from mongodb_cdc_spark.testing import compare_query, duckdb_connect

        con = duckdb_connect(self.sf)
        try:
            for key in MIX_KEYS:
                self.attempted += 1
                try:
                    r = compare_query(self.spark, key, self.sf, con=con)
                except Exception as exc:  # a key that raises counts as failed
                    print(f"{key}: raised {exc!r}", file=sys.stderr)
                    self.failed += 1
                    continue
                if not r.ok:
                    print(f"oracle mismatch: {r}", file=sys.stderr)
                    self.failed += 1
        finally:
            con.close()

    def io_layer(self) -> None:
        """``io.load_table`` per table and ``io.register_views``, each the
        median of three calls (traced runs, after the timed region)."""
        from mongodb_cdc_spark.io import load_table, register_views

        def med_ms(fn) -> float:
            out = []
            for _ in range(3):
                t = time.perf_counter()
                fn()
                out.append((time.perf_counter() - t) * 1000.0)
            return pct(out, 50)

        for name in TABLES:
            self.layer[f"io.load_table_ms.{name}"] = med_ms(lambda: load_table(self.spark, self.sf, name))
        self.layer["io.register_views_ms"] = med_ms(lambda: register_views(self.spark, self.sf))

    def layers(self, jobs: list[dict]) -> None:
        L = self.layer
        for group, keys in MIX_GROUPS.items():
            L[f"operators.{group}_s"] = sum(self.key_s[k][2] for k in keys)
        timed = self.timed
        per_key = {}
        for key in MIX_KEYS:
            spans = [s for s in timed if s["name"].startswith(key + ".")]
            runs = len(spans) // 2  # a build and an exec span per run
            per_key[key] = {k: v / runs for k, v in job_totals(jobs_in(jobs, spans)).items()}
            L[f"{key}.build_s"] = self.key_s[key][0]
            L[f"{key}.exec_s"] = self.key_s[key][1]
            L[f"{key}.jobs"] = per_key[key]["jobs"]
        for k, v in job_totals(jobs_in(jobs, timed)).items():
            L[f"spark.{k}"] = v / self.passes
        self.detail["per_key"] = per_key


WORKLOADS = {"cdc_backlog": CdcBacklog, "cdc_live": CdcLive, "query_mix": QueryMix}


def main() -> int:
    workload, seed, seconds, trace, work, result = sys.argv[1:7]
    w = WORKLOADS[workload](int(seed), float(seconds), trace == "1", work)
    w.generate()
    t0 = time.perf_counter()
    w.start_session()
    w.warm()
    setup_s = time.perf_counter() - t0
    with PeakRss([os.getpid(), jvm_pid(w.spark)]) as rss:
        w.measure()
    w.e2e["setup_s"] = setup_s
    w.e2e["peak_rss_mb"] = rss.peak_mb
    w.check()
    if w.trace and isinstance(w, QueryMix):
        w.io_layer()
    w.spark.stop()
    if w.trace:
        w.layers(read_event_log(w.path("eventlog")))
        w.tracer.dump(result[: -len(".json")] + ".trace.json", {"detail": w.detail})
    with open(result, "w") as f:
        json.dump({"attempted": w.attempted, "failed": w.failed, "e2e": w.e2e,
                   "layer": w.layer if w.trace else {}, "detail": w.detail}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
