"""Benchmark of cascading_hive_spark: timed passes over one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload hive_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --pin     # regenerate perfbench/digests.json

One run is one process on ``local[<cores>]``. It starts the session,
registers the workload's input tables (``perfbench/data/sf0.1``, a
byte-identical copy of the sf0.1 test set, checked against
``data/SHA256SUMS``), warms up by running every operation once, four at
a time, untimed, then runs timed passes until ``--seconds`` have been
measured (at least one). A pass runs every operation of the workload
once, in an order the seed gives, one after another from one driver
thread; each operation that yields a DataFrame ends in a Spark-side
digest that is compared with the digest pinned in ``digests.json``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times
exactly two passes, a traced one with Spark's event log on and then an
untraced one, and reports the per-layer metrics of the traced pass,
measured from outside the program: the wall time of the calls into each
module, ``statusTracker`` counts per job group, and the event log. Its
spans are printed when the run ends.

Every line but the last is a human-readable report; the last line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. The run exits non-zero without that line when the program
or its inputs are missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import queue
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from concurrent.futures import Future
from concurrent.futures import TimeoutError as FutureTimeout
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

SPEC = os.path.join(HERE, "workloads.json")
DIGESTS = os.path.join(HERE, "digests.json")
OP_TIMEOUT_S = 60.0
CANCEL_GRACE_S = 20.0
WARM_THREADS = 4
WARM_TIMEOUT_S = 90.0
# The run must end within 180 s; no pass starts that would likely end past this age.
PASS_DEADLINE_S = 150.0

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_geomean_s": "s",
}
# The modules tagged on the ops of the workloads in BENCHMARK.json. corpus_scan,
# the only workload with text, corpus and multimodal ops, is not among them.
MODULES = ("relational", "asof", "scd", "graph", "sampling", "dedup")
WRITE_LAYERS = (
    "io.write_table",
    "io.compact_files",
    "io.read_table",
    "catalog.create_table",
    "catalog.partitions",
    "catalog.table_read",
    "catalog.overwrite_partitions",
    "catalog.publish_partition",
)
EVENT_LOG_METRICS = {
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB",
    "spark.output_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "tables.scan_s": "s",
    "tables.scan_mb_per_s": "MB/s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.action_s": "s",
    "queries.action_jobs": "count",
    **{f"operators.{m}.{k}": u for m in MODULES for k, u in (("s", "s"), ("jobs", "count"))},
    **{f"{layer}_s": "s" for layer in WRITE_LAYERS},
    "io.bytes_written_mb": "MB",
    "io.files_written": "count",
    "io.write_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    **EVENT_LOG_METRICS,
    "trace.overhead": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def count_java_processes() -> int:
    n = 0
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                n += fh.read().strip() == "java"
        except OSError:
            continue
    return n


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
                out += kids
                todo += kids
        except OSError:
            continue
    return out


def stop_session(spark) -> None:
    """Stop Spark, then end its JVM and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    children = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    proc.wait(timeout=60)
    deadline = time.time() + 20
    while any(os.path.exists(f"/proc/{c}") for c in children) and time.time() < deadline:
        time.sleep(0.05)


def check_inputs(data_dir: str) -> None:
    """Refuse to run on inputs other than the pinned ones."""
    with open(os.path.join(os.path.dirname(data_dir), "SHA256SUMS")) as fh:
        for line in fh:
            want, name = line.split()
            with open(os.path.join(data_dir, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    raise SystemExit(f"perfbench: input {name} does not match data/SHA256SUMS")


def digest(df) -> list[int]:
    """``[count(*), sum(xxhash64(all columns))]`` over the columns in
    name order; the sum is DECIMAL(38,0) so it cannot overflow."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in sorted(df.columns)]
    row = df.select(
        F.count(F.lit(1)), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return [int(row[0]), int(row[1] or 0)]


@dataclass
class Op:
    name: str
    fn: object  # () -> DataFrame | None
    tag: str  # operators module or io/catalog layer
    registry: bool  # a queries() entry: its call is the build, its digest the action
    expected: list[int] | None = None


@dataclass
class OpRecord:
    op: Op
    start: float
    end: float
    build_end: float
    error: str = ""
    build_jobs: int = 0
    action_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class PassRecord:
    id: str
    traced: bool
    start: float = 0.0
    end: float = 0.0
    ops: list[OpRecord] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class OpThreads:
    """Daemon threads that run submitted calls. A caller can stop
    waiting for a call that hangs, and the process can still exit."""

    def __init__(self, n: int):
        self._calls: queue.Queue = queue.Queue()
        for i in range(n):
            threading.Thread(target=self._loop, name=f"perfbench-op-{i}", daemon=True).start()

    def _loop(self):
        while True:
            fn, fut = self._calls.get()
            if fut.set_running_or_notify_cancel():
                try:
                    fut.set_result(fn())
                except BaseException as exc:  # re-raised by fut.result()
                    fut.set_exception(exc)

    def submit(self, fn) -> Future:
        fut: Future = Future()
        self._calls.put((fn, fut))
        return fut


class Runner:
    """Runs passes of one workload and records what each op did."""

    def __init__(self, spark, workload: str, ops: list[Op]):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.workload = workload
        self.ops = ops
        self.thread = OpThreads(1)
        self.stuck = False

    def order(self, seed: int, pass_id: str) -> list[Op]:
        ops = list(self.ops)
        random.Random(f"{seed}:{pass_id}").shuffle(ops)
        return ops

    def _attempt(self, group: str, op: Op) -> OpRecord:
        """Run one op on the calling thread: the call under job group
        ``<group>.build``, the digest under ``<group>.action``."""
        from pyspark.sql import DataFrame

        rec = OpRecord(op, time.time(), 0.0, 0.0)
        try:
            self.sc.setJobGroup(f"{group}.build", op.name, True)
            out = op.fn()
            rec.build_end = time.time()
            self.sc.setJobGroup(f"{group}.action", op.name, True)
            got = digest(out) if isinstance(out, DataFrame) else None
            if op.expected is not None and got != op.expected:
                rec.error = f"digest mismatch: got {got}, expected {op.expected}"
        except Exception as exc:  # one failing op must not end the pass
            rec.error = f"{type(exc).__name__}: {(str(exc).strip() or '?').splitlines()[0][:300]}"
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        rec.end = time.time()
        rec.build_end = rec.build_end or rec.end
        return rec

    def _count_jobs(self, rec: OpRecord, group: str) -> None:
        """Jobs per phase, and the stages that ran tasks; a stage a later
        job reuses (skipped there) counts once."""
        seen: set[int] = set()
        for phase in ("build", "action"):
            ids = self.tracker.getJobIdsForGroup(f"{group}.{phase}")
            setattr(rec, f"{phase}_jobs", len(ids))
            for jid in ids:
                job = self.tracker.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    st = None if sid in seen else self.tracker.getStageInfo(sid)
                    seen.add(sid)
                    if st and st.numCompletedTasks + st.numFailedTasks > 0:
                        rec.stages += 1
                        rec.tasks += st.numCompletedTasks + st.numFailedTasks
                        rec.failed_tasks += st.numFailedTasks

    def _collect(self, pass_id: str, op: Op, fut: Future, submitted: float, timeout: float,
                 grace: float) -> OpRecord:
        """Wait for an op; on timeout cancel its jobs and give it
        ``grace`` seconds to unwind before the runner is marked stuck."""
        group = f"{self.workload}.{pass_id}.{op.name}"
        try:
            rec = fut.result(timeout)
        except FutureTimeout:
            now = time.time()
            rec = OpRecord(op, submitted, now, now, f"timeout after {now - submitted:.0f} s")
            for phase in ("build", "action"):
                self.sc.cancelJobGroup(f"{group}.{phase}")
            try:
                fut.result(grace)
            except FutureTimeout:
                self.stuck = True
        self._count_jobs(rec, group)
        return rec

    def run_pass(self, pass_id: str, seed: int, traced: bool = False, hooks=None) -> PassRecord:
        """Every op once, one after another, on one driver thread."""
        p = PassRecord(pass_id, traced)
        if hooks:
            hooks.begin_pass(pass_id)
        p.start = time.time()
        for op in self.order(seed, pass_id) if not hooks else self.ops:
            if self.stuck:
                now = time.time()
                p.ops.append(OpRecord(op, now, now, now, "skipped: an earlier op hung"))
                continue
            group = f"{self.workload}.{pass_id}.{op.name}"
            t = time.time()
            fut = self.thread.submit(lambda g=group, o=op: self._attempt(g, o))
            p.ops.append(self._collect(pass_id, op, fut, t, OP_TIMEOUT_S, CANCEL_GRACE_S))
        p.end = time.time()
        if hooks:
            p.extra.update(hooks.end_pass())
        return p

    def warm_up(self, seed: int) -> PassRecord:
        """Untimed warm-up: every op once, ``WARM_THREADS`` at a time.
        Class loading, code generation and JIT compilation happen here,
        in a fraction of the wall time of a sequential cold pass."""
        p = PassRecord("warm", False, time.time())
        pool = OpThreads(WARM_THREADS)
        futs = [
            (op, pool.submit(lambda g=f"{self.workload}.warm.{op.name}", o=op: self._attempt(g, o)))
            for op in self.order(seed, "warm")
        ]
        deadline = p.start + WARM_TIMEOUT_S
        for op, fut in futs:
            p.ops.append(self._collect("warm", op, fut, p.start,
                                       max(0.0, deadline - time.time()), 0.0))
        p.end = time.time()
        return p


# -- metrics -----------------------------------------------------------


def geomean(xs) -> float:
    xs = [max(x, 1e-6) for x in xs]
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end_metrics(passes: list[PassRecord], setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p.wall for p in passes),
        "op_geomean_s": statistics.median(geomean(r.wall for r in p.ops) for p in passes),
    }


def pass_layers(p: PassRecord, group_prefix: str, groups: dict, slots: int) -> dict[str, float]:
    """Per-layer figures of one pass. ``groups`` are the event log's
    per-job-group statistics (empty when the pass ran untraced)."""
    m = {k: 0.0 for k in PER_LAYER if not k.startswith(("session.", "tables.", "trace."))}
    for r in p.ops:
        if r.op.registry:
            m["queries.build_s"] += r.build_end - r.start
            m["queries.action_s"] += r.end - r.build_end
            m["queries.build_jobs"] += r.build_jobs
            m["queries.action_jobs"] += r.action_jobs
            if r.op.tag in MODULES:
                m[f"operators.{r.op.tag}.s"] += r.wall
                m[f"operators.{r.op.tag}.jobs"] += r.build_jobs + r.action_jobs
        else:
            m[f"{r.op.tag}_s"] += r.wall
        m["spark.jobs"] += r.build_jobs + r.action_jobs
        m["spark.stages"] += r.stages
        m["spark.tasks"] += r.tasks
        m["spark.failed_tasks"] += r.failed_tasks
    m.update(p.extra)
    mine = [s for g, s in groups.items() if g.startswith(f"{group_prefix}.{p.id}.")]
    for attr in eventlog.SUMMED:
        m[f"spark.{attr}"] = sum(getattr(s, attr) for s in mine)
    busy = eventlog.union_s([iv for s in mine for iv in s.jobs.values()], p.start, p.end)
    m["spark.job_busy_s"] = busy
    m["spark.driver_gap_s"] = p.wall - busy
    m["spark.slot_util"] = m["spark.task_run_s"] / (slots * busy) if busy > 0 else 0.0
    return m


def traced_metrics(traced: PassRecord, untraced: PassRecord, group_prefix: str, groups: dict,
                   slots: int) -> dict[str, float]:
    """Per-layer figures of a traced run's traced pass, and the tracing
    overhead against the untraced pass that followed it."""
    m = pass_layers(traced, group_prefix, groups, slots)
    m["trace.overhead"] = traced.wall / max(untraced.wall, 1e-6) - 1
    return m


def spans_of(workload: str, passes: list[PassRecord], groups: dict) -> list[eventlog.Span]:
    """pass -> op -> build/action -> Spark job spans of the traced passes."""
    spans = []
    for p in passes:
        pid = f"{workload}.{p.id}"
        spans.append(eventlog.Span(pid, None, p.start, p.end))
        for r in p.ops:
            oid = f"{pid}.{r.op.name}"
            spans.append(eventlog.Span(oid, pid, r.start, r.end))
            spans.append(eventlog.Span(f"{oid}.build", oid, r.start, r.build_end))
            spans.append(eventlog.Span(f"{oid}.action", oid, r.build_end, r.end))
    ids = {s.id for s in spans}
    for g, st in groups.items():
        if g in ids:
            for jid, (a, b) in st.jobs.items():
                spans.append(eventlog.Span(f"job.{jid}", g, a, b))
    return eventlog.with_self_time(spans)


# -- the run -----------------------------------------------------------


def load_spec() -> dict:
    with open(SPEC) as fh:
        return json.load(fh)


def load_digests() -> dict:
    with open(DIGESTS) as fh:
        return json.load(fh)


def build_ops(spark, workload: str, spec: dict, data_dir: str, pinned: dict, flow=None) -> list[Op]:
    from cascading_hive_spark import queries

    ops = []
    if workload == "hive_write":
        for o in spec["ops"]:
            expected = None
            if o["check"] == "digest":
                expected = (pinned["hive_write"]["days"][flow.read_day]
                            if o["name"] == "read_partition" else pinned["hive_write"][o["name"]])
            ops.append(Op(o["name"], getattr(flow, o["name"]), o["layer"], False, expected))
        return ops
    registry = queries.queries()
    for o in spec["ops"]:
        fn = registry[o["name"]]
        ops.append(Op(o["name"], lambda fn=fn: fn(spark, data_dir), o["module"], True,
                      pinned["ops"].get(o["name"])))
    return ops


def import_program():
    """Import the package from this checkout; exit 2 when it is absent."""
    if not os.path.isfile(os.path.join(ROOT, "cascading_hive_spark", "__init__.py")):
        print(f"perfbench: no cascading_hive_spark package under {ROOT}", file=sys.stderr)
        raise SystemExit(2)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )  # the Python workers of mapInPandas ops import the package too
    from cascading_hive_spark import session

    return session


def start_session(session_mod, tmp: str, cores: int, event_log: str | None):
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return session_mod.get_session("perfbench", master=f"local[{cores}]", extra_conf=conf)


class EventLogSwitch:
    """Detaches Spark's event-logging listener so that untraced passes
    of a traced run do not pay for it, and attaches it again."""

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()
        self._listener = self._jsc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on != self.on:
            if on:
                self._jsc.addSparkListener(self._listener)
            else:
                self._jsc.removeSparkListener(self._listener)
            self.on = on


def scan_tables(spark, workload: str, table_names: list[str], data_dir: str) -> dict:
    """Noop full scan of every input table through ``load_table``."""
    from cascading_hive_spark import tables

    sc = spark.sparkContext
    t0 = time.time()
    for t in table_names:
        sc.setJobGroup(f"{workload}.scan.{t}", t, True)
        tables.load_table(spark, data_dir, t).write.format("noop").mode("overwrite").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    scan_s = time.time() - t0
    mb = sum(os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in table_names) / 2**20
    return {"tables.scan_s": scan_s, "tables.scan_mb_per_s": mb / scan_s}


def run(args) -> int:
    spec = load_spec()
    wl = spec["workloads"][args.workload]
    data_dir = os.path.join(HERE, spec["data"])
    session_mod = import_program()
    check_inputs(data_dir)
    pinned = load_digests()
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    load1, other_jvms = os.getloadavg()[0], count_java_processes()

    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    event_dir = os.path.join(tmp, "eventlog") if args.trace else None
    spark = None
    try:
        t0 = time.time()
        spark = start_session(session_mod, tmp, cores, event_dir)
        session_start_s = time.time() - t0
        switch = EventLogSwitch(spark.sparkContext) if args.trace else None
        if switch:
            switch.set(False)
        flow = None
        if args.workload == "hive_write":
            from writeflow import WriteFlow

            flow = WriteFlow(spark, data_dir, os.path.join(tmp, "out"),
                             os.path.join(tmp, "warehouse"),
                             sorted(pinned["hive_write"]["days"]), args.seed)
        else:
            from cascading_hive_spark import tables

            for t in wl["tables"]:
                tables.load_table(spark, data_dir, t)
        runner = Runner(spark, args.workload, build_ops(spark, args.workload, wl, data_dir, pinned, flow))
        passes = [runner.run_pass("warm", args.seed, hooks=flow) if flow else runner.warm_up(args.seed)]
        # start the timed passes from a collected heap, not from
        # wherever the warm-up left the young generation
        spark.sparkContext._jvm.System.gc()
        setup_s = process_age_s()

        timed: list[PassRecord] = []
        if args.trace:
            # The traced pass takes the place of the untraced runs' first
            # timed pass, so its layers split the pass that pass_s times;
            # the untraced pass after it is the reference of trace.overhead.
            for traced in (True, False):
                switch.set(traced)
                timed.append(runner.run_pass(str(len(timed)), args.seed, traced, hooks=flow))
        else:
            m0 = time.time()
            while True:
                p = runner.run_pass(str(len(timed)), args.seed, hooks=flow)
                timed.append(p)
                if (runner.stuck or time.time() - m0 >= args.seconds
                        or process_age_s() + p.wall > PASS_DEADLINE_S):
                    break
        passes += timed
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        extra = {"session.start_s": session_start_s, "session.peak_rss_mb": peak_rss_mb}
        if args.trace:
            extra.update(scan_tables(spark, args.workload, wl["tables"], data_dir))
    finally:
        if spark is not None:
            stop_session(spark)
        groups = eventlog.group_stats(eventlog.read_events(event_dir)) if event_dir else {}
        shutil.rmtree(tmp, ignore_errors=True)

    records = [r for p in passes for r in p.ops]
    failed = [r for r in records if r.error]
    untraced = [p for p in timed if not p.traced]
    lines = [
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} cores={cores} "
        f"load1={load1:.2f} other_jvms={other_jvms}",
        f"passes: warm + {len(untraced)} untraced + {len(timed) - len(untraced)} traced, "
        f"{len(runner.ops)} ops/pass; timings are medians over the passes",
        "pass walls: " + ", ".join(f"{p.id}{'t' if p.traced else ''}={p.wall:.3f}" for p in passes),
    ]
    for r in failed:
        lines.append(f"FAILED {r.op.name} (pass {next(p.id for p in passes if r in p.ops)}): {r.error}")
    if args.trace:
        traced_pass, untraced_pass = timed
        metrics = traced_metrics(traced_pass, untraced_pass, args.workload, groups, cores)
        metrics.update(extra)
        units = PER_LAYER
        lines += [f"span {json.dumps(s.__dict__)}" for s in spans_of(args.workload, [traced_pass], groups)]
    else:
        metrics = end_to_end_metrics(timed, setup_s)
        units = END_TO_END
        stats = pass_layers(timed[len(timed) // 2], args.workload, {}, cores)
        lines.append("statusTracker per pass: " + ", ".join(
            f"{k}={stats[k]:.0f}" for k in ("spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks")))
    lines.append(f"error_rate {len(failed) / len(records):.4f} ({len(failed)} of {len(records)} ops)")
    for op in runner.ops:
        rs = [r for p in timed for r in p.ops if r.op is op]
        lines.append(
            f"op {op.name}: wall {statistics.median(r.wall for r in rs):.3f} s, build "
            f"{statistics.median(r.build_end - r.start for r in rs):.3f} s, "
            f"{statistics.median(r.build_jobs for r in rs):.0f}+"
            f"{statistics.median(r.action_jobs for r in rs):.0f} jobs (median of {len(rs)})"
        )
    lines += [f"{k} {v:.6g} {units[k]}" for k, v in metrics.items()]
    print("\n".join(lines))
    print(json.dumps({
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def pin(args) -> int:
    """Regenerate digests.json. Every oracle-backed op must first match
    its DuckDB oracle through ``parity.check_query``; every digest must
    repeat on a second run; every hive_write read-back must equal the
    digest of its input. Nothing is written if any check fails."""
    spec = load_spec()
    data_dir = os.path.join(HERE, spec["data"])
    session_mod = import_program()
    check_inputs(data_dir)
    from cascading_hive_spark import parity, queries, tables
    from writeflow import WriteFlow, events_by_day

    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    tmp = tempfile.mkdtemp(prefix=".perfbench-tmp-", dir=ROOT)
    os.environ["TMPDIR"] = tmp
    problems, out = [], {"ops": {}, "hive_write": {"days": {}}}
    spark = start_session(session_mod, tmp, cores, None)
    try:
        registry = queries.queries()
        for name, wl in spec["workloads"].items():
            for o in wl["ops"] if name != "hive_write" else ():
                if o["check"] == "oracle":
                    res = parity.check_query(spark, o["name"], data_dir)
                    print(f"parity {o['name']}: {res.ok} {res.detail}", flush=True)
                    if not res.ok:
                        problems.append(f"{o['name']}: parity {res.detail}")
                        continue
                d1, d2 = (digest(registry[o["name"]](spark, data_dir)) for _ in range(2))
                if d1 != d2:
                    problems.append(f"{o['name']}: digest not repeatable {d1} vs {d2}")
                out["ops"][o["name"]] = d1

        ev = events_by_day(tables.load_table(spark, data_dir, "events"))
        days = sorted(str(r[0]) for r in ev.select("day").distinct().collect())
        for day in days:
            out["hive_write"]["days"][day] = digest(ev.filter(ev.day == day))
        sources = {
            "verify_lineitem_orc": tables.load_table(spark, data_dir, "lineitem"),
            "verify_orders_compacted": tables.load_table(spark, data_dir, "orders"),
            "verify_events_table": ev,
        }
        flow = WriteFlow(spark, data_dir, os.path.join(tmp, "out"),
                         os.path.join(tmp, "warehouse"), days, 0)
        flow.begin_pass("pin")
        got = {}
        for o in spec["workloads"]["hive_write"]["ops"]:
            res = getattr(flow, o["name"])()
            if res is not None:
                got[o["name"]] = digest(res)
        for name, src in sources.items():
            want = digest(src)
            if got[name] != want:
                problems.append(f"{name}: read-back {got[name]} != input {want}")
            out["hive_write"][name] = want
        if got["read_partition"] != out["hive_write"]["days"][flow.read_day]:
            problems.append("read_partition: read-back differs from the input day")
        flow.end_pass()
    finally:
        stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    if problems:
        print("refusing to pin:\n  " + "\n  ".join(problems), file=sys.stderr)
        return 1
    with open(DIGESTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(out['ops'])} op digests and the hive_write read-backs to {DIGESTS}")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(load_spec()["workloads"]))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true", help="regenerate digests.json and exit")
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so Spark is stopped and the temp dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.pin:
        return pin(args)
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
