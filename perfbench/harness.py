"""Shared run harness: session, timing, spans and Spark runtime counters.

One `Bench` per process. It owns the Spark session (`local[4]`), a work
directory inside the checkout, the timed window, and — in a traced run
only — the spans the benchmark records around each public call it makes
into the package, plus the job/stage/task counters read back from
Spark's in-process status store after that call. Nothing here runs a
second execution to get a number.
"""

from __future__ import annotations

import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
from collections import defaultdict

CORES = 4
DRIVER_MEM = "2g"
SETTLE_S = 1.0


# Every per-layer metric a traced run prints, with its unit. A layer a
# workload leaves idle reports 0 (the ledger runs no stream; curation
# makes no ledger call).
PER_LAYER = {
    "engine.session_start_s": "s",
    "log_utils.ms_per_call": "ms",
    "client.scalar_ms": "ms",
    "ledger.overlap_input_ms": "ms",
    "ledger.gaps_ms": "ms",
    "ledger.status_count_ms": "ms",
    "ledger.pick_record_ms": "ms",
    "ledger.overlap_pairs_ms": "ms",
    "sources.read_ledger_ms": "ms",
    "sources.ledger_files_end": "count",
    "sources.write_ledger_ms": "ms",
    "sources.cow_update_ms": "ms",
    "sources.cow_bytes_per_row": "B",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_read": "count",
    "spark.jobs_per_write": "count",
    "spark.tasks_per_write": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.intake_s": "s",
    "dedup.signatures_s_per_batch": "s",
    "dedup.incremental_candidates_s_per_batch": "s",
    "dedup.pairs_per_batch": "count",
    "spark.shuffle_mb_per_batch": "MB",
    "spark.shuffle_mb_per_1k_store_rows": "MB",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "sources.store_files_end": "count",
    "text.quality_s": "s",
    "dedup.lsh_candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.verified_frac": "ratio",
    "components.s": "s",
    "components.iterations": "count",
    "similarity.ivf_pairs_s": "s",
    "similarity.pair_recall": "ratio",
    "spark.task_s_per_pass": "s",
    "spark.tasks_per_pass": "count",
    "spark.shuffle_mb_per_pass": "MB",
    "spark.spill_mb_per_pass": "MB",
    "pass.forced_batch_half_s": "s",
    "storage.cached_mb_peak": "MB",
    "storage.blocks_left": "count",
    "jvm.gc_s": "s",
    "traced.ops_per_s": "1/s",
    "traced.p50_ms": "ms",
}
END_TO_END = {"ops_per_s": "1/s", "p50_ms": "ms", "peak_rss_mb": "MB", "setup_s": "s"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, t0: float, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.t0 = t0
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # Python and JVM temp files stay inside the work directory; no JVM
        # (the launcher's included) writes a perf-data file under /tmp.
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        self.spark = None
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # traced-run state
        self.spans: list[tuple[str, float, float, str | None]] = []
        self.counts: dict[str, list[dict]] = defaultdict(list)
        self.rows: dict[str, list[int]] = defaultdict(list)
        self._stack: list[str] = []
        self._group = 0
        self.cached_mb_peak = 0.0
        self.blocks_left: list[int] = []

    # -- session -----------------------------------------------------------
    def start_spark(self):
        from sample_data_pipeline_project_spark.engine import get_spark

        tmp = os.path.join(self.work, "tmp")
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.shuffle.partitions": str(CORES),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t
        sc = self.spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def stop(self):
        """Stop the session, shut the JVM down and wait for it to exit,
        then drop the work directory."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                with contextlib.suppress(Exception):
                    gw.shutdown()
                if proc is not None:
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.work))

    # -- measurements read from outside the program ----------------------------
    def peak_rss_mb(self) -> float:
        hwm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm_kb + py_kb) / 1024.0

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans) / 1000.0

    def storage(self) -> tuple[int, float]:
        """(RDD storage entries registered, their MB in memory + disk)."""
        infos = self._jsc.getRDDStorageInfo()
        mb = sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 2**20
        return len(infos), mb

    def note_storage(self):
        n, mb = self.storage()
        self.cached_mb_peak = max(self.cached_mb_peak, mb)
        return n

    # -- spans (traced run only) -------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, spark_counts: bool = False):
        """Time one call into the package. With `spark_counts`, tag the
        call's jobs with a fresh job group and, after it returns, read
        jobs, tasks, task time, shuffle and spill from the status store."""
        if not self.trace:
            yield
            return
        sc = self.spark.sparkContext
        group = None
        if spark_counts:
            self._group += 1
            group = f"perfbench-{self._group}"
            sc.setJobGroup(group, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append((name, t, end, parent))
            if group is not None:
                self.counts[name].append(self.job_stats(group))
                sc.setJobGroup(f"perfbench-idle-{self._group}", "idle")

    def job_stats(self, group: str) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"jobs": len(jobs), "tasks": 0, "task_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "checkpoints": 0}
        seen = set()
        for jid in jobs:
            with contextlib.suppress(Exception):
                if str(store.job(jid).name()).startswith("localCheckpoint at"):
                    out["checkpoints"] += 1
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:
                    continue  # never submitted: skipped stage of a reused shuffle
                if str(st.status().toString()) != "COMPLETE":
                    continue
                out["tasks"] += int(st.numCompleteTasks())
                out["task_s"] += int(st.executorRunTime()) / 1000.0
                out["shuffle_mb"] += int(st.shuffleWriteBytes()) / 2**20
                out["spill_mb"] += (
                    int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
                ) / 2**20
        return out

    def force(self, name: str, df) -> int:
        """Traced run: execute `df` on its own inside a span (noop sink,
        every column computed) and count its rows with an Observation."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        with self.span(name, spark_counts=True):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
        n = int(obs.get["n"])
        self.rows[name].append(n)
        return n

    def span_ms(self, name: str) -> list[float]:
        return [(e - s) * 1000.0 for n, s, e, _ in self.spans if n == name]

    # -- window and result -----------------------------------------------------------
    def setup_done(self):
        """Close set-up: everything so far (session start, inputs,
        warm-up) is charged to setup_s; spans and counters restart.
        Before the window, collect garbage on both sides and pause
        SETTLE_S so JIT compilations queued by the warm-up finish
        instead of competing with the first timed calls."""
        import gc

        gc.collect()
        self._jvm.java.lang.System.gc()
        time.sleep(SETTLE_S)
        self.setup_s = time.perf_counter() - self.t0
        self.spans.clear()
        self.counts.clear()
        self.rows.clear()
        self.cached_mb_peak = 0.0
        self.blocks_left.clear()

    def common_traced(self):
        self.metric("engine.session_start_s", self.session_start_s, "s")
        self.metric("storage.cached_mb_peak", self.cached_mb_peak, "MB")
        self.metric("storage.blocks_left", max(self.blocks_left, default=0), "count")

    def info(self, **fields):
        """Diagnostics on stderr; stdout's last line is the result."""
        print("perfbench:", json.dumps(fields, default=str), file=sys.stderr, flush=True)

    def metric(self, name: str, value: float, unit: str):
        self.metrics[name] = (float(value), unit)

    def result(self, correct: bool) -> dict:
        """The run's JSON result: the end-to-end metrics, or in a traced
        run the per-layer ones (the traced run's own throughput and
        median under `traced.`, so the gap to an untraced run is the
        tracing overhead)."""
        if self.errors:
            self.info(errors=self.errors)
        m = dict(self.metrics)
        unknown = set(m) - set(PER_LAYER) - set(END_TO_END)
        if unknown:
            raise RuntimeError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
        if self.trace:
            for k in ("ops_per_s", "p50_ms"):
                m[f"traced.{k}"] = m[k]
            wanted = PER_LAYER
        else:
            wanted = END_TO_END
        out = {}
        for name, unit in wanted.items():
            value, got_unit = m.get(name, (0.0, unit))
            if got_unit != unit:
                raise RuntimeError(f"{name}: unit {got_unit}, declared {unit}")
            out[name] = {"value": value, "unit": unit}
        return {
            "correct": bool(correct) and not self.errors,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": out,
        }

    def call(self, fn, *args, **kwargs):
        """One closed-loop client call: counted as attempted, a raised
        error counts as failed (and fails the run's correctness)."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - counted, reported
            self.failed += 1
            if len(self.errors) < 5:
                self.errors.append(f"{type(exc).__name__}: {exc}"[:500])
            return None
