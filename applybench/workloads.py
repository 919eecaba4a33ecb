"""The benchmark's workloads and the measurements they share.

Every workload runs in one Spark ``local[nproc/2]`` session and reports the
same end-to-end metrics; what a metric means on a workload is set out in
README.md. Layers are driven only through their public functions:
``sources.binlog_file.read_binlog_files``, ``pipeline.replay_batch``,
``streaming.pipeline.run_stream_ordered`` and ``LakeTable``'s reads.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field, replace

from . import hostenv, lander
from .inputs import WorldSpec, chunk_name

# fixed workload parameters; BENCHMARK.json's "why" lines quote them
WORKLOADS = {
    "backfill": {
        "kind": "backfill",
        "world": WorldSpec(n_repos=4, paths_per_repo=96, hot_repos=1,
                           base_live_share=0.0, n_txns=1000,
                           txns_per_chunk=1000, txns_per_file=250,
                           layout="binlog"),
        "warm_calls": 3,  # the cold call and two more
    },
    "stream_tail": {
        "kind": "open",
        "world": WorldSpec(n_repos=20, paths_per_repo=1000, hot_repos=2,
                           base_live_share=0.91, n_txns=0,
                           txns_per_chunk=6, txns_per_file=3000),
        "interval_s": 0.16,
        "warm_chunks": 30,  # chunks pre-landed for each of 2 warm-up calls
        # schedule time spent in the second warm-up call, before measuring
        "lead_s": 5.0,
    },
}
N_BUCKETS = 16
MIN_CALLS = 3  # a closed loop measures at least this many calls
LOOKUP_WARM, LOOKUPS = 5, 100  # p90 of 100 has 10 samples beyond it
SCAN_WARM, LOOKUPS_PER_SCAN = 2, 5  # 20 timed scans among the lookups


def world_for(name: str, seconds: float) -> WorldSpec:
    """The input shape of a run. An open-loop tail holds the two warm-up
    sets plus exactly the chunks its schedule publishes in ``lead_s +
    seconds``."""
    w = WORKLOADS[name]
    spec = w["world"]
    if w["kind"] == "open":
        n = 2 * w["warm_chunks"] + math.ceil(
            (w["lead_s"] + seconds) / w["interval_s"])
        spec = replace(spec, n_txns=n * spec.txns_per_chunk)
    return spec


@dataclass
class Call:
    """One timed call into the engine (one replay or consumer call)."""
    start: float
    end: float
    events: int
    chunks: list
    measured: bool
    traced: bool
    ok: bool = True
    due: list = field(default_factory=list)
    backlog: int = 0
    steady: bool = True  # False: started after the lander had finished
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Run:
    """State of one benchmark run: session, inputs, lake and samples."""

    def __init__(self, name, seconds, spark, tracer, in_dir, manifest,
                 work, seed):
        from binlog_spark import genlog

        self.seconds = seconds
        self.spark, self.tracer = spark, tracer
        self.in_dir, self.man = in_dir, manifest
        self.seed = seed
        self.cfg = WORKLOADS[name]
        self.registry = genlog.table_registry()
        self.columns = genlog.table_spec().col_names
        self.key_cols = list(genlog.KEY_COLS)
        self.calls: list = []
        self.lookups: list = []
        self.scans: list = []
        self.attempted = 0  # operations tried: calls, reads, checks
        self.failed = 0  # operations that raised or mismatched the oracle
        self.errors: list = []
        self.setup: dict = {}
        self.layer: dict = {}
        self.window: dict = {}
        self.lake_path = os.path.join(work, "lake")
        self.ckpt = os.path.join(work, "checkpoint")
        self.landing = os.path.join(work, "landing")
        self.last_chunk = None  # last chunk committed (chunk workloads)
        self.abandoned = 0  # scheduled chunks never attempted

    # -- shared helpers -----------------------------------------------------

    def fail(self, what: str):
        self.failed += 1
        self.errors.append(what)

    def fresh_lake(self):
        """Empty lake, checkpoint and landing directory."""
        from binlog_spark.operators.merge import LakeTable

        for d in (self.lake_path, self.ckpt, self.landing):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.landing)
        self.last_chunk = None
        return LakeTable.create(self.spark, self.lake_path,
                                columns=self.columns,
                                key_cols=self.key_cols, n_buckets=N_BUCKETS)

    def prepare(self):
        """Fresh lake plus, for a preloaded workload, the base snapshot."""
        from binlog_spark import pipeline

        lake = self.fresh_lake()
        base = os.path.join(self.in_dir, "base.parquet")
        if os.path.exists(base):
            pipeline.bootstrap_from_snapshot(
                self.spark, self.spark.read.parquet(base), lake, 0)

    def lineage_changes(self, batch_id: str):
        path = os.path.join(self.lake_path, "_lineage",
                            f"batch-{batch_id}.json")
        try:
            with open(path) as f:
                return json.load(f)["metrics"]["n_changes"]
        except (OSError, KeyError, ValueError):
            return None

    def job_group(self, gid: str):
        if self.tracer is not None:
            self.spark.sparkContext.setJobGroup(gid, gid)

    def job_counts(self, gid: str) -> dict:
        """Spark jobs, stages and tasks a call ran, from statusTracker."""
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:
                    continue
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
        return {"spark_jobs": len(jobs), "spark_stages": stages,
                "spark_tasks": tasks, "tasks_failed": failed}

    def traced_next(self) -> bool:
        """In a traced run, calls alternate traced / untraced so the same
        run gives both sides of the tracing overhead."""
        if self.tracer is None:
            return False
        on = len(self.calls) % 2 == 0
        self.tracer.enabled = on
        self.tracer.batch = f"call{len(self.calls)}" if on else None
        return on

    # -- chunk consumer -----------------------------------------------------

    def consume(self, measured: bool, upto: int, due: dict | None = None,
                backlog: int = 0) -> Call:
        """One ``run_stream_ordered`` call over everything landed (chunks
        up to ``upto``); checks the lineage count of the microbatch it
        committed. A failed call keeps the chunks it attempted."""
        from binlog_spark.streaming import pipeline as sp

        traced = self.traced_next()
        gid = f"call{len(self.calls)}"
        self.job_group(gid)
        self.attempted += 1
        t0 = time.perf_counter()
        ok = True
        try:
            sp.run_stream_ordered(self.spark, self.landing, self.lake_path,
                                  self.registry, self.ckpt,
                                  max_files_per_trigger=1 << 30)
        except Exception as e:  # a failed batch is counted, not fatal
            ok = False
            self.fail(f"{gid}: {type(e).__name__}: {e}")
        t1 = time.perf_counter()
        cursor = os.path.join(self.ckpt, "file_cursor.json")
        last = None
        if os.path.exists(cursor):
            with open(cursor) as f:
                last = int(json.load(f)["last_file"][1:7])
        first = 0 if self.last_chunk is None else self.last_chunk + 1
        if not ok:
            last = upto
        chunks = list(range(first, (last if last is not None else -1) + 1))
        if chunks and ok:
            self.last_chunk = chunks[-1]
        want = sum(self.man["changes_per_chunk"][k] for k in chunks)
        if chunks and ok:
            got = self.lineage_changes(f"ordered-{chunk_name(chunks[0])}")
            if got != want:
                ok = False
                self.fail(f"{gid}: lineage n_changes {got} != {want}")
        call = Call(t0, t1, want, chunks, measured, traced, ok,
                    [due[k] for k in chunks if k in due] if due else [],
                    backlog)
        self.traced_done(call, gid)
        return call

    def traced_done(self, call: Call, gid: str):
        if self.tracer is not None:
            self.tracer.enabled = False
            call.counts = self.job_counts(gid)
            self.tracer.release()
        self.calls.append(call)

    # -- workloads ----------------------------------------------------------

    def run_backfill(self):
        """Closed loop: replay the raw archive into a fresh lake."""
        from binlog_spark import pipeline
        from binlog_spark.sources import binlog_file

        raw = os.path.join(self.in_dir, "binlog")

        def replay(measured: bool):
            lake = self.fresh_lake()
            traced = self.traced_next()
            gid = f"call{len(self.calls)}"
            self.job_group(gid)
            self.attempted += 1
            t0 = time.perf_counter()
            ok = True
            try:
                frames = binlog_file.read_binlog_files(self.spark, raw)
                pipeline.replay_batch(self.spark, frames, lake,
                                      self.registry, batch_id=gid)
            except Exception as e:  # a failed replay is counted
                ok = False
                self.fail(f"{gid}: {type(e).__name__}: {e}")
            t1 = time.perf_counter()
            want = self.man["n_changes"]
            if ok and self.lineage_changes(gid) != want:
                ok = False
                self.fail(f"{gid}: lineage n_changes "
                          f"{self.lineage_changes(gid)} != {want}")
            call = Call(t0, t1, want, [0], measured, traced, ok, [t0])
            self.traced_done(call, gid)
            return call

        self.closed_loop(replay)

    def closed_loop(self, call_fn):
        t_cold = time.perf_counter()
        self.fresh_lake()
        self.setup["prep_s"] = time.perf_counter() - t_cold
        call = call_fn(False)
        self.setup["cold_batch_s"] = call.dur
        for _ in range(self.cfg["warm_calls"] - 1):
            call_fn(False)
        self.setup["warm_s"] = time.perf_counter() - t_cold - self.setup[
            "prep_s"]
        self.open_window()
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n < MIN_CALLS or time.perf_counter() < t_end:
            call = call_fn(True)
            n += 1
            if not call.ok:
                break
        self.close_window()

    def run_open(self):
        """Open loop. Warm-up is a cold call on pre-landed chunks and a
        second call on another pre-landed set, made as the lander starts
        its schedule, so the first measured call meets a steady backlog.
        Every call drains everything landed; all calls after the second
        are measured."""
        interval = self.cfg["interval_s"]
        chunks = self.man["chunks"]
        src = os.path.join(self.in_dir, "chunks")
        per = self.cfg["warm_chunks"]
        n_warm = 2 * per
        t_setup = time.perf_counter()
        self.prepare()
        t_warm = time.perf_counter()
        self.setup["prep_s"] = t_warm - t_setup

        def land(names):
            for name in names:
                shutil.copyfile(os.path.join(src, name),
                                os.path.join(self.landing, name))

        land(chunks[:per])
        call = self.consume(False, upto=per - 1)
        self.setup["cold_batch_s"] = call.dur
        if not call.ok:
            self.setup["warm_s"] = time.perf_counter() - t_warm
            self.close_window()
            return
        land(chunks[per:n_warm])
        pub = lander.Lander(src, self.landing, chunks[n_warm:], interval)
        self.attempted += 1  # the lander's schedule
        t0 = time.perf_counter()
        pub.start(t0)
        due = dict(enumerate(lander.schedule(t0, interval, len(chunks)
                                             - n_warm), start=n_warm))
        idle = 0.0
        try:
            while self.last_chunk < len(chunks) - 1:
                if pub.error is not None:
                    self.fail(f"lander: {pub.error}")
                    break
                landed = n_warm + pub.landed()
                if landed - 1 <= self.last_chunk:
                    w = time.perf_counter()
                    time.sleep(0.005)
                    if self.window:
                        idle += time.perf_counter() - w
                    continue
                measured = len(self.calls) >= 2  # after both warm-ups
                if measured and not self.window:
                    self.setup["warm_s"] = time.perf_counter() - t_warm
                    self.open_window()
                steady = not pub.done()
                call = self.consume(measured, landed - 1, due=due,
                                    backlog=landed - 1 - self.last_chunk)
                call.steady = steady
                if not call.ok:
                    break
        finally:
            pub.stop()
        self.close_window()
        self.window["idle_s"] = idle
        self.window["late"] = lander.lateness(pub.due, pub.published)
        # chunks an aborted tail never attempted miss every latency limit
        self.abandoned = len(chunks) - 1 - max(
            [self.last_chunk] + [c.chunks[-1] for c in self.calls
                                 if c.chunks])

    # -- measurement window --------------------------------------------------

    def open_window(self):
        self.window.update(t0=time.perf_counter(),
                           cpu0=hostenv.tree_cpu(),
                           steal0=hostenv.steal_jiffies(),
                           gc0=hostenv.gc_seconds(self.spark))

    def close_window(self):
        if not self.window:
            self.open_window()
        self.window.update(t1=time.perf_counter(),
                           cpu1=hostenv.tree_cpu(),
                           steal1=hostenv.steal_jiffies(),
                           gc1=hostenv.gc_seconds(self.spark))

    # -- read phase -----------------------------------------------------------

    def oracle(self) -> dict:
        """Expected final rows ``(repo, path) -> (commit, lang, sha)``."""
        import pyarrow.parquet as pq

        rows = pq.read_table(
            os.path.join(self.in_dir, "oracle.parquet")).to_pylist()
        return {(r["repo"], r["path"]):
                (r["commit"], r["lang"], r["content_sha256"]) for r in rows}

    def read_phase(self, expect: dict):
        """Closed-loop single reader: key-equality lookups through the
        bucket-pruned read, with a full-snapshot digest scan after every
        ``LOOKUPS_PER_SCAN`` lookups, so the samples of both kinds span the
        whole phase instead of a burst of it. Untimed warm-up lookups and
        scans come first."""
        from pyspark.sql import functions as F

        from binlog_spark.operators.merge import LakeTable

        lake = LakeTable(self.spark, self.lake_path)
        rng = random.Random(self.seed * 7919 + 1)
        space = sorted(expect) + absent_keys(rng, 16)
        keys = [space[rng.randrange(len(space))]
                for _ in range(LOOKUP_WARM + LOOKUPS)]
        bucket = dict(
            ((r["repo"], r["path"]), r["b"]) for r in self.spark
            .createDataFrame(sorted(set(keys)), "repo string, path string")
            .select("repo", "path", F.pmod(F.xxhash64("repo", "path"),
                                           F.lit(N_BUCKETS)).alias("b"))
            .collect())
        scan_want = (len(expect),
                     sum(int(v[2][:8], 16) for v in expect.values()))
        files_seen, rows_seen = [], []
        by_bucket: dict = {}  # the lake does not change during the phase

        def lookup(i: int, key, timed: bool):
            self.attempted += 1
            # the query is built (bucket files listed) before the clock
            # starts: the lookup times its execution, as of a prepared
            # statement
            b = bucket[key]
            if b not in by_bucket:
                by_bucket[b] = lake.read(buckets=[b]).select(
                    "repo", "path", "commit", "lang",
                    F.sha2("content", 256).alias("sha"))
            q = by_bucket[b].where(
                (F.col("repo") == key[0]) & (F.col("path") == key[1]))
            t0 = time.perf_counter()
            try:
                got = q.collect()
            except Exception as e:  # a failed read is counted
                self.fail(f"lookup {key}: {type(e).__name__}: {e}")
                return
            dt = time.perf_counter() - t0
            want = expect.get(key)
            have = [(r["commit"], r["lang"], r["sha"]) for r in got]
            if have != ([want] if want else []):
                self.fail(f"lookup {key}: got {have} want {want}")
            if timed:
                self.lookups.append(dt)
                if self.tracer is not None and i % 10 == 0:
                    files = q.inputFiles()
                    files_seen.append(len(files))
                    rows_seen.append(parquet_rows(files))

        def scan(timed: bool):
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                r = LakeTable(self.spark, self.lake_path).to_df().agg(
                    F.count("*").alias("n"),
                    F.sum(F.conv(F.substring(F.sha2("content", 256), 1, 8),
                                 16, 10).cast("long")).alias("h")
                ).collect()[0]
            except Exception as e:  # a failed scan is counted
                self.fail(f"scan: {type(e).__name__}: {e}")
                return
            dt = time.perf_counter() - t0
            if (r["n"], r["h"] or 0) != scan_want:
                self.fail(f"scan: got {(r['n'], r['h'])} want {scan_want}")
            if timed:
                self.scans.append(dt)

        for i, key in enumerate(keys[:LOOKUP_WARM]):
            lookup(i, key, False)
        for _ in range(SCAN_WARM):
            scan(False)
        for i, key in enumerate(keys[LOOKUP_WARM:]):
            lookup(i, key, True)
            if (i + 1) % LOOKUPS_PER_SCAN == 0:
                scan(True)
        if self.tracer is not None:
            live = lake.read().inputFiles()
            self.layer.update({
                "merge.read_files": statistics.median(files_seen),
                "merge.rows_scanned_per_lookup": statistics.median(rows_seen),
                "merge.live_files": len(live),
            })

    def check_final(self) -> bool:
        """The lake equals the oracle row for row, content sha included."""
        from pyspark.sql import functions as F

        from binlog_spark.operators.merge import LakeTable

        lake = LakeTable(self.spark, self.lake_path).to_df().select(
            "repo", "path", "commit", "lang",
            F.sha2("content", 256).alias("content_sha256"))
        want = self.spark.read.parquet(
            os.path.join(self.in_dir, "oracle.parquet"))
        self.attempted += 1
        extra = lake.exceptAll(want).count()
        missing = want.exceptAll(lake).count()
        if extra or missing:
            self.fail(f"final lake: {extra} unexpected rows, "
                      f"{missing} missing rows")
            return False
        return True


def absent_keys(rng, n: int) -> list:
    """Keys outside the key space (always absent)."""
    return [(f"org{rng.randrange(7)}/absent-{i}", f"src/none_{i}.py")
            for i in range(n)]


def parquet_rows(files: list) -> int:
    """Rows in parquet files, from their footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f.replace("file://", "")).metadata.num_rows
               for f in files)


def written_files(lake_path: str, version: int) -> tuple:
    """``(rows, bytes)`` of the data files a lake version wrote."""
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(lake_path, "data", f"v{version:06d}",
                                   "*", "*.parquet"))
    return (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files))
