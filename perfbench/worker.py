"""One benchmark process: build a Spark session, run one workload's
operations in a fixed order, and write what it measured to a JSON file.

Started by ``run.py`` with the run directory as its working directory::

    python3 worker.py PLAN_JSON RESULT_JSON SPAWN_EPOCH_S [--setup-only]

``SPAWN_EPOCH_S`` is the wall-clock time at which the parent started this
process, so the reported set-up time covers interpreter start, imports,
JVM launch, package shipping and the first trivial job. ``--setup-only``
stops there: the process measures set-up time and nothing else.

The plan (written by ``run.py``) names the workload, its operations, the
input and output directories and the time budget. Operations run one
after another on one thread; none starts once the budget is spent. Each
runs under its own Spark job groups (``build:<op>`` and ``exec:<op>``);
with tracing on, the stage metrics of those groups are read from Spark's
status store after every operation.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time


class RssSampler:
    """Peak resident memory of this Python driver plus its JVM, sampled
    from /proc on a daemon thread."""

    def __init__(self, pids: list[int], period_s: float = 0.05):
        self.pids = pids
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def proc_tree(root: int) -> dict[int, list[str]]:
    """The ``/proc/<pid>/stat`` fields, from the state on, of ``root`` and
    every process below it."""
    stats = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stats[int(pid)] = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    out = {}
    for pid, fields in stats.items():
        p, hops = pid, 0
        while p != root and p in stats and hops < 64:
            p, hops = int(stats[p][1]), hops + 1
        if p == root:
            out[pid] = fields
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and all its descendants: the JVM, ``pyspark.daemon`` and its
    Python workers. The kernel leaves time stolen by the hypervisor out
    of these counters, so on a shared host they grow about half as much as
    wall time does when the neighbours are busy."""
    ticks = sum(int(v) for f in proc_tree(os.getpid()).values() for v in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans around each call into a layer, plus per-operation stage
    metrics from Spark's status store. Disabled, it sets job groups and
    keeps its spans but reads nothing from the status store.

    Spans are kept in memory as ``[id, parent, name, start_s, end_s]`` in
    epoch seconds; the parent writes them out under the run id.
    ``overhead_s`` is the time spent inside the tracer itself (status-store
    reads and bookkeeping).
    """

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[list] = []
        self.stack: list[int] = []
        self.overhead_s = 0.0
        self.seen_stages: set[int] = set()
        self.cache_bytes_peak = 0

    def open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([sid, parent, name, time.time(), None])
        self.stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid][4] = time.time()
        self.stack.pop()

    def group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def collect(self, groups: list[str], parents: dict[str, int]) -> dict:
        """Jobs and (first-seen) stages of ``groups``; adds job spans under
        each group's span."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        span = self.open("trace")
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {g: _zero_stage_totals() for g in groups}
        for g in groups:
            acc = out[g]
            for jid in sorted(tracker.getJobIdsForGroup(g)):
                job = store.job(jid)
                acc["jobs"] += 1
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    iv = [job.submissionTime().get().getTime() / 1000.0,
                          job.completionTime().get().getTime() / 1000.0]
                    acc["job_intervals"].append(iv)
                    self.spans.append([len(self.spans), parents[g], f"spark.job:{jid}"] + iv)
                info = tracker.getJobInfo(jid)
                for sid in list(info.stageIds) if info else []:
                    if sid in self.seen_stages:
                        continue
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # py4j NoSuchElementException: never submitted
                        continue
                    if str(st.status()) != "COMPLETE":
                        continue
                    self.seen_stages.add(sid)
                    _add_stage(acc, st)
        rdds = jsc.getRDDStorageInfo()
        self.cache_bytes_peak = max(
            self.cache_bytes_peak, sum(r.memSize() + r.diskSize() for r in rdds)
        )
        self.close(span)
        self.overhead_s += time.perf_counter() - t0
        return out


def _zero_stage_totals() -> dict:
    return {"job_intervals": []} | {k: 0 for k in (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
        "input_bytes", "input_records", "scan_task_ms", "output_bytes",
        "output_records", "shuffle_read_bytes", "shuffle_write_bytes",
        "shuffle_fetch_wait_ms", "spill_disk_bytes",
    )}


def _add_stage(acc: dict, st) -> None:
    acc["stages"] += 1
    acc["tasks"] += st.numTasks()
    acc["executor_run_ms"] += st.executorRunTime()
    acc["executor_cpu_ns"] += st.executorCpuTime()
    acc["gc_ms"] += st.jvmGcTime()
    acc["output_bytes"] += st.outputBytes()
    acc["output_records"] += st.outputRecords()
    acc["shuffle_read_bytes"] += st.shuffleReadBytes()
    acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
    acc["shuffle_fetch_wait_ms"] += st.shuffleFetchWaitTime()
    acc["spill_disk_bytes"] += st.diskBytesSpilled()
    if st.inputBytes() > 0 or st.inputRecords() > 0:
        acc["input_bytes"] += st.inputBytes()
        acc["input_records"] += st.inputRecords()
        acc["scan_task_ms"] += st.executorRunTime()


class Workload:
    """Executes the plan's operations; one method per operation kind.

    Each method returns ``(build_fn, exec_fn)``: ``build_fn`` constructs
    (and may eagerly compute), ``exec_fn`` forces the result and returns
    what the output check needs. Both phases are timed; the check is not.
    """

    def __init__(self, spark, dirs: dict):
        self.spark = spark
        self.dirs = dirs
        self.dims = None
        self.raw = None

    def registry(self, op: dict):
        from etl_tj_project_spark import harness, parity

        fn = parity.pin_spark(harness.REGISTRY[op["name"]].spark)
        return (lambda: fn(self.spark, self.dirs["in_dir"]),
                lambda df: df.toArrow())

    def corpus(self, op: dict):
        from etl_tj_project_spark.plans.corpus_pipeline import build_training_corpus
        from etl_tj_project_spark.sources.testdata import load_table

        out_root = os.path.join(self.dirs["out_dir"], "corpus")
        return (lambda: load_table(self.spark, self.dirs["in_dir"], "documents"),
                lambda docs: build_training_corpus(self.spark, docs, out_root))

    def load_dims(self, op: dict):
        from etl_tj_project_spark.plans.daily import Warehouse, load_dims, raw_trx_from_csv

        def run(_):
            wh = Warehouse(self.dirs["out_dir"])
            self.dims = load_dims(self.spark, self.dirs["in_dir"], wh)
            self.raw = raw_trx_from_csv(self.spark, self.dirs["in_dir"])

        return (lambda: None, run)

    def day(self, op: dict):
        from etl_tj_project_spark.plans.daily import Warehouse, run_daily

        def run(_):
            bus_raw, halte_raw = self.raw
            run_daily(
                self.spark, op["ds"], bus_raw=bus_raw, halte_raw=halte_raw,
                routes=self.dims["routes"],
                realisasi_bus=self.dims["realisasi_bus"],
                shelter_corridor=self.dims["shelter_corridor"],
                wh=Warehouse(self.dirs["out_dir"]),
            )

        return (lambda: None, run)

    rerun = day

    def check(self, op: dict, result) -> dict:
        """What the parent compares against its oracle (outside timing)."""
        kind = op["kind"]
        if kind == "registry":
            return _arrow_digest(result)
        if kind == "corpus":
            from etl_tj_project_spark import manifest

            out_root = os.path.join(self.dirs["out_dir"], "corpus")
            read_back = manifest.read_table(self.spark, out_root, "corpus").count()
            return dict(result, n_read_back=read_back)
        if kind in ("day", "rerun"):
            return _partition_digest(self.dirs["out_dir"], op["ds"])
        return {}


def _arrow_digest(table) -> dict:
    import oracle

    return oracle.digest(table.column_names, zip(*(c.to_pylist() for c in table.columns)))


def _partition_digest(wh_root: str, ds: str) -> dict:
    """Digest of one committed day across the three aggregate tables, read
    with pyarrow (no Spark job)."""
    import oracle
    import pyarrow.parquet as pq

    out = {}
    for agg in oracle.TJ_AGGS:
        part = os.path.join(wh_root, "dw", agg, f"tanggal={ds}")
        out[agg] = _arrow_digest(pq.read_table(part)) if os.path.isdir(part) else None
    return out


def family_of(op: dict) -> str | None:
    if op["kind"] == "corpus":
        return "plans.corpus_pipeline"
    if op["kind"] in ("day", "rerun", "load_dims"):
        return "plans.daily"
    for prefix, fam in (("dedup_", "operators.dedup"), ("graph_", "operators.graph"),
                        ("ann_", "operators.similarity")):
        if op["name"].startswith(prefix):
            return fam
    return None


def span_names(op: dict) -> tuple[str, str]:
    """Names of the build and exec spans: the layer each phase calls into."""
    if op["kind"] == "registry":
        return f"{family_of(op) or 'harness'}.build", "spark.exec"
    if op["kind"] == "corpus":
        return "sources.load", "plans.corpus_pipeline"
    return "plans.daily.build", "plans.daily"


def run_op(spark, wl: Workload, tracer: Tracer, op: dict) -> dict:
    """Build and execute one operation under its job groups, then check it."""
    rec = {"name": op["name"], "kind": op["kind"], "family": family_of(op)}
    op_span = tracer.open(f"op:{op['name']}")
    g_build, g_exec = f"build:{op['name']}", f"exec:{op['name']}"
    spans = {g_build: op_span, g_exec: op_span}
    cpu0 = tree_cpu_s()
    start_epoch = time.time()
    t_op = time.perf_counter()
    result = None
    try:
        build, execute = getattr(wl, op["kind"])(op)
        build_span, exec_span = span_names(op)
        spans[g_build] = tracer.open(build_span)
        tracer.group(g_build)
        t = time.perf_counter()
        built = build()
        rec["build_s"] = time.perf_counter() - t
        tracer.close(spans[g_build])
        spans[g_exec] = tracer.open(exec_span)
        tracer.group(g_exec)
        t = time.perf_counter()
        result = execute(built)
        rec["exec_s"] = time.perf_counter() - t
        tracer.close(spans[g_exec])
        rec["ok"] = True
    except Exception as e:  # an operation that raises is a failed operation
        while tracer.stack[-1] != op_span:
            tracer.close(tracer.stack[-1])
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
    rec["latency_s"] = time.perf_counter() - t_op
    rec["cpu_s"] = tree_cpu_s() - cpu0
    rec["epoch"] = [start_epoch, time.time()]
    tracer.close(op_span)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    rec["stages"] = tracer.collect([g_build, g_exec], spans)
    if rec["ok"]:
        check_span = tracer.open("check")
        try:
            rec["output"] = wl.check(op, result)
        except Exception as e:
            rec["ok"] = False
            rec["error"] = f"check: {type(e).__name__}: {str(e)[:300]}"
        tracer.close(check_span)
    return rec


def run_workload(spark, plan: dict) -> dict:
    """One cold pass over the plan's operations, in order."""
    from etl_tj_project_spark import harness_r12

    tracer = Tracer(spark, plan["trace"])
    root = tracer.open("run")
    wl = Workload(spark, plan["dirs"])
    ops = []
    timed = 0.0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with RssSampler([os.getpid(), jvm_pid]) as rss:
        for op in plan["ops"]:
            if timed > plan["seconds"]:
                break  # budget spent: the remaining operations are not attempted
            ops.append(run_op(spark, wl, tracer, op))
            timed += ops[-1]["latency_s"]
    tracer.close(root)
    events = list(harness_r12.ARTIFACT_EVENTS)
    out = {
        "wall_s": timed,
        "cpu_s": sum(o["cpu_s"] for o in ops),
        "ops": ops,
        "not_started": len(plan["ops"]) - len(ops),
        "peak_rss_mb": rss.peak_kb / 1024.0,
        "rdds_cached_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "artifacts": {
            "hit": sum(1 for _, kind in events if kind == "hit"),
            "miss": sum(1 for _, kind in events if kind == "miss"),
        },
        "cache_bytes_peak": tracer.cache_bytes_peak,
        "trace_overhead_s": tracer.overhead_s,
    }
    if plan["trace"]:
        out["spans"] = tracer.spans
    return out


def main() -> int:
    plan_path, result_path, spawn_s = sys.argv[1], sys.argv[2], float(sys.argv[3])
    with open(plan_path) as f:
        plan = json.load(f)
    from etl_tj_project_spark import session

    spark = session.get_spark(
        app_name="perfbench", master=plan["master"], shuffle_partitions=plan["cores"]
    )
    spark.range(1).count()
    result = {"setup_s": time.time() - spawn_s}
    if "--setup-only" not in sys.argv:
        result.update(run_workload(spark, plan))
    with open(result_path, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    rc = main()
    # No spark.stop(): the parent kills this process and everything it
    # started, the JVM and the Python daemon included, once the result is
    # written, which saves the shutdown time of each run.
    sys.stdout.flush()
    os._exit(rc)
