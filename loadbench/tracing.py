"""Per-layer tracing for the benchmark's traced run (``--trace 1``).

Everything here measures from outside the engine: the tracer wraps each
layer's public functions with spans (name, start, end, parent, op id),
gives every span its own Spark job group on the thread that runs it,
and after each op drains jobs and stages from Spark's status store and
per-node SQL metrics from the SQL status store. Spans stay in memory.
Lazy layers (contract, dedup, late data) only build plans inside their
own call, so their work is attributed to their plan nodes within the
executions that run it.

Ops alternate between traced and untraced so the tracing overhead is
measured in the same process (``trace.op_s_p50_overhead_s``).
"""

from __future__ import annotations

import html
import itertools
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError


class NullTracer:
    """The untraced run: spans are no-ops."""

    def span(self, name):
        return nullcontext()

    def begin_op(self):
        pass

    def end_op(self, wall):
        pass

    def before_gc(self):
        pass

    def start(self):
        pass

    def stop(self):
        pass


@dataclass
class Span:
    name: str
    sid: int
    parent: "Span | None"
    op: int
    start: float
    end: float = 0.0
    group: str = ""
    pins: int = 0
    children: list = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


# metric name -> unit, in report order
PER_LAYER = {
    "sources.files.scan.wall_s": "s",
    "sources.files.input_scan_passes": "count",
    "contracts.evaluator.evaluate_contract.wall_s": "s",
    "contracts.evaluator.evaluate_contract.quarantine_job_skipped": "count",
    "operators.dedup.dedup_keyed.shuffle_write_mib": "MiB",
    "operators.dedup.dedup_keyed.spill_mib": "MiB",
    "operators.dedup.dedup_keyed.sort_window_s": "s",
    "operators.late_data.classify_late_data.jobs": "count",
    "operators.late_data.classify_late_data.executor_run_s": "s",
    "package.builder.build.wall_s": "s",
    "package.builder.build.self_s": "s",
    "package.builder.build.jobs": "count",
    "package.builder.build.stages": "count",
    "package.builder.build.executor_run_s": "s",
    "package.builder.build.output_mib": "MiB",
    "package.ledger.commit.wall_s": "s",
    "package.ledger.commit.bytes_written_per_input_byte": "ratio",
    "package.ledger.verify.wall_s": "s",
    "package.ledger.verify.jobs": "count",
    "package.ledger.verify.rows_scanned": "count",
    "package.ledger.checkpoint.wall_s": "s",
    "package.ledger.checkpoint.ledger_lines_read": "count",
    "streaming.pipeline.epoch.driver_gap_s": "s",
    "streaming.pipeline.epoch.jobs_per_epoch": "count",
    "streaming.pipeline.epoch.trigger_overhead_s": "s",
    "streaming.watermark.observed_frontier.wall_s": "s",
    "streaming.watermark.observed_frontier.jobs": "count",
    "plans.checkpoint.pins_created": "count",
    "plans.checkpoint.pins_released": "count",
    "plans.checkpoint.pins_live_after": "count",
    "plans.checkpoint.observed_wait_s": "s",
    "operators.graph.pagerank.wall_s": "s",
    "operators.graph.pagerank.jobs": "count",
    "operators.graph.connected_components.wall_s": "s",
    "operators.graph.connected_components.jobs": "count",
    "operators.graph.connected_components.cc_rounds": "count",
    "operators.preference.bradley_terry_strengths.wall_s": "s",
    "operators.preference.bradley_terry_strengths.jobs": "count",
    "operators.temporal.cohort_retention.wall_s": "s",
    "operators.temporal.cohort_retention.jobs": "count",
    "operators.temporal.cohort_retention.input_scan_passes": "count",
    "run.jobs_per_op": "count",
    "run.stages_per_op": "count",
    "run.cpu_util": "ratio",
    "run.jvm_gc_s_per_op": "s",
    "trace.op_s_p50_overhead_s": "s",
}

# counts that must repeat exactly across ops and across runs of one seed
REPEATABLE = (
    "run.jobs_per_op",
    "sources.files.input_scan_passes",
    "plans.checkpoint.pins_created",
    "operators.graph.connected_components.cc_rounds",
    "package.ledger.commit.bytes_written_per_input_byte",
)

# layer metrics each workload exercises; the others read 0 there
EXERCISED = {
    "bulk_load": ("sources.", "contracts.", "operators.dedup.", "operators.late_data.",
                  "package.", "plans.", "run.", "trace."),
    "cdc_merge": ("sources.files.input_scan_passes", "contracts.", "operators.dedup.",
                  "operators.late_data.", "package.", "streaming.", "plans.", "run.",
                  "trace."),
    "iterative_pass": ("plans.", "operators.graph.", "operators.preference.",
                       "operators.temporal.", "run.", "trace."),
}


# -- SQL plan graphs -----------------------------------------------------------

_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*?)"\];',
                   re.S | re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _metric_value(text: str) -> float:
    """A SQL metric's total as a number: bytes, seconds or a count."""
    num, _, rest = text.strip().partition(" ")
    value = float(num.replace(",", ""))
    unit = rest.split(" ", 1)[0] if rest else ""
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


@dataclass
class PlanNode:
    nid: int
    name: str
    desc: str
    metrics: dict
    children: list = field(default_factory=list)


def parse_plan_graph(dot: str) -> dict[int, PlanNode]:
    """Nodes of a SparkPlanGraph DOT rendering, with their metrics."""
    nodes = {}
    for nid, label, tooltip in _NODE.findall(dot):
        head, _, body = label.partition("<br><br>")
        metrics = {}
        items = [html.unescape(i) for i in body.split("<br>")] if body else []
        while items:
            item = items.pop(0)
            if " total (" in item and items:
                # "name total (min, med, max (stageId: taskId))" then the values
                name, value = item.partition(" total (")[0], items.pop(0)
            else:
                name, _, value = item.partition(": ")
            try:
                metrics[name.strip()] = _metric_value(value)
            except ValueError:
                continue
        desc = tooltip.encode().decode("unicode_escape", errors="replace")
        nodes[int(nid)] = PlanNode(int(nid), re.sub("<.*?>", "", head).strip(), desc, metrics)
    for child, parent in _EDGE.findall(dot):
        if int(parent) in nodes and int(child) in nodes:
            nodes[int(parent)].children.append(nodes[int(child)])
    return nodes


def _below(node: PlanNode, stop: str) -> list[PlanNode]:
    """Nodes under ``node`` down to (and including) the first whose name
    starts with ``stop`` on each path."""
    out, todo = [], list(node.children)
    while todo:
        n = todo.pop()
        out.append(n)
        if not n.name.startswith(stop):
            todo.extend(n.children)
    return out


# -- the tracer ----------------------------------------------------------------

class Tracer:
    """Spans around each layer's public functions plus per-op drains of
    Spark's status stores. Measured ops alternate between traced and
    untraced; warm-up ops run untraced."""

    def __init__(self, spark, workload):
        self.spark, self.workload = spark, workload
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jsc = self.sc._jsc.sc()
        self.status = self.jsc.statusStore()
        self.sql_status = spark._jsparkSession.sharedState().statusStore()
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.cores = len(os.sched_getaffinity(0))
        self.input_roots = [str(p) for p in getattr(workload, "input_roots", [])]
        self.local = threading.local()
        self.lock = threading.Lock()
        self.ids = itertools.count(1)
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.untraced_walls: list[float] = []
        self.traced_walls: list[float] = []
        self.patches: list[tuple[object, str, object]] = []
        self.measuring = False
        self.op_index = 0
        self.root: Span | None = None
        self.op_stack: list[Span] = []
        self.pending: dict | None = None  # the last traced op's record
        self.last_execution = -1
        self._plan_patches()

    # -- wrapping ----------------------------------------------------------

    def _plan_patches(self) -> None:
        from pyspark.sql import Observation

        import cdf_spark.plans.checkpoint as ckpt
        from cdf_spark.contracts import evaluator
        from cdf_spark.operators import dedup, late_data
        from cdf_spark.package.builder import PackageBuilder
        from cdf_spark.package.ledger import CheckpointLedger, ParquetDestination
        from cdf_spark.sources.files import FileResource
        from cdf_spark.streaming import watermark
        from cdf_spark.streaming.pipeline import StreamingLoadPipeline

        t = self
        plan: list[tuple[object, str, object]] = []

        def spanned(name, fn, before=None, after=None):
            def wrapper(*args, **kwargs):
                with t.span(name) as sp:
                    if before is not None:
                        before(sp, args, kwargs)
                    result = fn(*args, **kwargs)
                    if after is not None:
                        after(sp, args, result)
                    return result

            return wrapper

        def everywhere(fn, wrapper):
            """Rebind a module-level function in every engine module that
            imported it by name."""
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith("cdf_spark") and hasattr(mod, fn.__name__):
                    if getattr(mod, fn.__name__) is fn:
                        plan.append((mod, fn.__name__, wrapper))

        def method(cls, attr, name, before=None, after=None):
            plan.append((cls, attr, spanned(name, getattr(cls, attr), before, after)))

        everywhere(evaluator.evaluate_contract,
                   spanned("contracts.evaluator.evaluate_contract", evaluator.evaluate_contract))
        everywhere(dedup.dedup_keyed, spanned("operators.dedup.dedup_keyed", dedup.dedup_keyed))
        classify = late_data.classify_late_data

        def classify_with_tail(*args, **kwargs):
            # the split is lazy; the jobs it causes run right after the
            # call (the late-row count), so they get a tail job group
            # that lasts until the next traced call on this thread
            with t.span("operators.late_data.classify_late_data") as sp:
                result = classify(*args, **kwargs)
            t._start_tail(sp)
            return result

        everywhere(classify, classify_with_tail)
        everywhere(watermark.observed_frontier,
                   spanned("streaming.watermark.observed_frontier", watermark.observed_frontier))

        release = ckpt.release_local_checkpoint

        def counted_release(df):
            released = release(df)
            if released and t.root is not None:
                t.root.attrs["pins_released"] = t.root.attrs.get("pins_released", 0) + 1
            return released

        everywhere(release, counted_release)

        observed_get = Observation.get.fget

        def timed_get(obs):
            t0 = time.perf_counter()
            try:
                return observed_get(obs)
            finally:
                if t.root is not None:
                    t.root.attrs["observed_wait_s"] = (
                        t.root.attrs.get("observed_wait_s", 0.0) + time.perf_counter() - t0
                    )

        plan.append((Observation, "get", property(timed_get)))

        df_cls = type(self.spark.range(1))
        local_checkpoint = df_cls.localCheckpoint

        def counted_checkpoint(df, *args, **kwargs):
            sp = t._current()
            if sp is not None:
                sp.pins += 1
            return local_checkpoint(df, *args, **kwargs)

        plan.append((df_cls, "localCheckpoint", counted_checkpoint))

        method(FileResource, "scan", "sources.files.scan")

        def hint_probe(sp, args, kwargs):
            hint = kwargs.get("quarantine_count_hint")
            sp.attrs["quarantine_job_skipped"] = 0
            if hint is not None:
                def probe():
                    value = hint()
                    sp.attrs["quarantine_job_skipped"] = int(value == 0)
                    return value
                kwargs["quarantine_count_hint"] = probe

        method(PackageBuilder, "build", "package.builder.build", before=hint_probe)

        def files_before(sp, args, kwargs):
            sp.attrs["files_before"] = _files(args[0].table_path)

        def files_after(sp, args, result):
            before = sp.attrs.pop("files_before")
            sp.attrs["bytes_written"] = sum(
                size for key, size in _files(args[0].table_path).items() if key not in before
            )

        method(ParquetDestination, "commit", "package.ledger.commit", files_before, files_after)
        method(ParquetDestination, "verify", "package.ledger.verify")

        def lines_read(sp, args, kwargs):
            path = args[0].checkpoints
            sp.attrs["ledger_lines_read"] = (
                sum(1 for _ in open(path)) if path.exists() else 0
            )

        for attr in ("record_receipt", "advance"):
            method(CheckpointLedger, attr, "package.ledger.checkpoint")
        for attr in ("epoch_committed", "latest"):
            method(CheckpointLedger, attr, "package.ledger.checkpoint", before=lines_read)
        method(StreamingLoadPipeline, "_process_epoch", "streaming.pipeline.epoch")
        method(StreamingLoadPipeline, "run", "streaming.pipeline.drain")
        self.planned = plan

    def _install(self) -> None:
        for owner, attr, wrapper in self.planned:
            self.patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
            setattr(owner, attr, wrapper)

    def _uninstall(self) -> None:
        while self.patches:
            owner, attr, original = self.patches.pop()
            if original is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    def _current(self) -> Span | None:
        """The innermost open span of this thread; on a thread with none
        open (the stream's foreachBatch thread), that of the op's thread."""
        stack = self._stack() or self.op_stack
        return stack[-1] if stack else self.root

    def _start_tail(self, sp: Span) -> None:
        sp.attrs["tail_group"] = sp.group + "-tail"
        self.local.tail = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(sp.attrs["tail_group"], sp.name + " (tail)")

    def _end_tail(self) -> None:
        saved = getattr(self.local, "tail", None)
        if saved is not None:
            self.local.tail = None
            for key, value in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(key, value)

    @contextmanager
    def span(self, name: str):
        if self.root is None:  # untraced op
            yield None
            return
        self._end_tail()
        parent = self._current()
        sp = Span(name, next(self.ids), parent, self.op_index, time.perf_counter())
        sp.group = f"loadbench-{self.op_index}-{sp.sid}"
        with self.lock:
            parent.children.append(sp)
            self.spans.append(sp)
        saved = [self.sc.getLocalProperty(k) for k in _GROUP_PROPS]
        self.sc.setJobGroup(sp.group, name)
        self._stack().append(sp)
        try:
            yield sp
        finally:
            self._stack().pop()
            self.local.tail = None  # a tail opened inside ends with its parent
            for key, value in zip(_GROUP_PROPS, saved):
                self.sc.setLocalProperty(key, value)
            sp.end = time.perf_counter()

    # -- per op ----------------------------------------------------------------

    def start(self) -> None:
        self.measuring = True

    def stop(self) -> None:
        self.measuring = False
        self._uninstall()

    def begin_op(self) -> None:
        self.op_index += 1
        self._sync_listener()
        self.last_execution = self._max_execution()
        self.jobs0 = self._next_job()
        self.gc0 = self._gc_ms()
        self.cpu0 = self._cpu_s()
        self.pins0 = self._persistent_rdds()
        # measured ops alternate, starting traced; warm-up ops run untraced
        if self.measuring and len(self.traced_walls) <= len(self.untraced_walls):
            self._install()
            self.op_stack = self._stack()
            self.root = Span("op", 0, None, self.op_index, time.perf_counter())
            self.root.group = f"loadbench-{self.op_index}-0"
            self.sc.setJobGroup(self.root.group, "op")

    def end_op(self, wall: float) -> None:
        root, self.root = self.root, None
        if root is None:
            if self.measuring:
                self.untraced_walls.append(wall)
            return
        root.end = time.perf_counter()
        for key in _GROUP_PROPS:
            self.sc.setLocalProperty(key, None)
        self._uninstall()
        cpu = self._cpu_s() - self.cpu0
        self._sync_listener()
        record = self._drain(root)
        record["run.cpu_util"] = cpu / (wall * self.cores)
        record["run.jvm_gc_s_per_op"] = (self._gc_ms() - self.gc0) / 1000
        self.traced_walls.append(wall)
        self.ops.append(record)
        self.pending = record

    def before_gc(self) -> None:
        if self.pending is not None:
            self.pending["plans.checkpoint.pins_live_after"] = (
                self._persistent_rdds() - self.pins0
            )
            self.pending = None

    # -- status-store access -------------------------------------------------

    def _sync_listener(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _next_job(self) -> int:
        return int(self.jsc.dagScheduler().numTotalJobs())

    def _max_execution(self) -> int:
        n = int(self.sql_status.executionsCount())
        if n == 0:
            return -1
        last = self.sql_status.executionsList(n - 1, 1)
        return int(last.apply(0).executionId())

    def _persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def _gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(int(b.getCollectionTime()) for b in beans)

    def _cpu_s(self) -> float:
        fields = Path(f"/proc/{self.jvm_pid}/stat").read_text().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        own = os.times()
        return jvm + own.user + own.system

    def _job_stats(self, job_ids) -> dict:
        """Jobs that ran to completion, their completed stages, executor
        run time and output bytes. AQE cancels stage jobs it replans
        away, and how many it submits first depends on timing, so
        cancelled jobs are counted apart."""
        jobs = stages = cancelled = run_s = out_b = 0
        for jid in job_ids:
            job = self.status.job(jid)
            if str(job.status().toString()) != "SUCCEEDED":
                cancelled += 1
                continue
            jobs += 1
            stages += int(job.numCompletedStages())
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self.status.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # a skipped stage has no attempt
                    continue
                if str(st.status().toString()) != "COMPLETE":
                    continue
                run_s += int(st.executorRunTime())
                out_b += int(st.outputBytes())
        return {"jobs": jobs, "stages": stages, "cancelled": cancelled,
                "executor_run_s": run_s / 1000, "output_bytes": out_b}

    def _executions(self) -> list[tuple[int, list[int], dict[int, PlanNode]]]:
        """SQL executions that started during the op: (id, job ids, plan)."""
        n = int(self.sql_status.executionsCount())
        batch = self.sql_status.executionsList(max(0, n - 400), min(n, 400))
        conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        out = []
        for i in range(batch.size()):
            e = batch.apply(i)
            eid = int(e.executionId())
            if eid <= self.last_execution:
                continue
            jobs = [int(j) for j in conv.asJava(e.jobs()).keySet()]
            graph = self.sql_status.planGraph(eid)
            dot = graph.makeDotFile(self.sql_status.executionMetrics(eid))
            out.append((eid, jobs, parse_plan_graph(dot)))
        return out

    # -- attribution -------------------------------------------------------------

    def _drain(self, root: Span) -> dict:
        spans = [s for s in self.spans if s.op == root.op]
        self.spans = [s for s in self.spans if s.op != root.op]
        self.last_root = root
        tracker = self.sc.statusTracker()
        for sp in [root] + spans:
            sp.attrs["job_ids"] = list(tracker.getJobIdsForGroup(sp.group))
        late_jobs = [j for sp in spans if "tail_group" in sp.attrs
                     for j in tracker.getJobIdsForGroup(sp.attrs["tail_group"])]
        jobs_end = self._next_job()
        op_jobs = [j for j in range(self.jobs0, jobs_end)]
        execs = self._executions()
        r = {name: 0.0 for name in PER_LAYER}
        total = self._job_stats(op_jobs)
        r["run.jobs_per_op"] = total["jobs"]
        r["run.stages_per_op"] = total["stages"]
        r["jobs_not_completed"] = total["cancelled"]

        def inclusive_jobs(sp: Span) -> list[int]:
            ids = list(sp.attrs["job_ids"])
            for c in sp.children:
                ids += inclusive_jobs(c)
            return ids

        def named(name):
            return [s for s in spans if s.name == name]

        def wall(name):
            return sum(s.wall for s in named(name))

        r["sources.files.scan.wall_s"] = wall("sources.files.scan")
        r["contracts.evaluator.evaluate_contract.wall_s"] = wall("contracts.evaluator.evaluate_contract")
        r["contracts.evaluator.evaluate_contract.quarantine_job_skipped"] = sum(
            s.attrs.get("quarantine_job_skipped", 0) for s in named("package.builder.build")
        )
        builds = named("package.builder.build")
        if builds:
            ids = [j for s in builds for j in inclusive_jobs(s)]
            st = self._job_stats(ids)
            r["package.builder.build.wall_s"] = sum(s.wall for s in builds)
            r["package.builder.build.self_s"] = sum(s.self_s for s in builds)
            r["package.builder.build.jobs"] = st["jobs"]
            r["package.builder.build.stages"] = st["stages"]
            r["package.builder.build.executor_run_s"] = st["executor_run_s"]
            r["package.builder.build.output_mib"] = st["output_bytes"] / 2**20
        commits = named("package.ledger.commit")
        r["package.ledger.commit.wall_s"] = sum(s.wall for s in commits)
        if commits:
            r["package.ledger.commit.bytes_written_per_input_byte"] = (
                sum(s.attrs["bytes_written"] for s in commits) / self.workload.input_bytes
            )
        verifies = named("package.ledger.verify")
        r["package.ledger.verify.wall_s"] = sum(s.wall for s in verifies)
        verify_jobs = {j for s in verifies for j in inclusive_jobs(s)}
        r["package.ledger.verify.jobs"] = len(verify_jobs)
        checkpoints = named("package.ledger.checkpoint")
        r["package.ledger.checkpoint.wall_s"] = sum(s.wall for s in checkpoints)
        r["package.ledger.checkpoint.ledger_lines_read"] = sum(
            s.attrs.get("ledger_lines_read", 0) for s in checkpoints
        )
        epochs = named("streaming.pipeline.epoch")
        if epochs:
            r["streaming.pipeline.epoch.driver_gap_s"] = statistics.median(
                e.self_s for e in epochs
            )
            r["streaming.pipeline.epoch.jobs_per_epoch"] = statistics.median(
                len(inclusive_jobs(e)) for e in epochs
            )
            r["streaming.pipeline.epoch.trigger_overhead_s"] = wall(
                "streaming.pipeline.drain"
            ) - sum(e.wall for e in epochs)
        frontiers = named("streaming.watermark.observed_frontier")
        r["streaming.watermark.observed_frontier.wall_s"] = sum(s.wall for s in frontiers)
        r["streaming.watermark.observed_frontier.jobs"] = sum(
            len(inclusive_jobs(s)) for s in frontiers
        )
        r["plans.checkpoint.pins_created"] = root.pins + sum(s.pins for s in spans)
        r["plans.checkpoint.pins_released"] = root.attrs.get("pins_released", 0)
        r["plans.checkpoint.observed_wait_s"] = root.attrs.get("observed_wait_s", 0.0)
        for name in ("operators.graph.pagerank", "operators.graph.connected_components",
                     "operators.preference.bradley_terry_strengths",
                     "operators.temporal.cohort_retention"):
            calls = named(name)
            if calls:
                r[f"{name}.wall_s"] = sum(s.wall for s in calls)
                r[f"{name}.jobs"] = sum(len(inclusive_jobs(s)) for s in calls)
        cc = named("operators.graph.connected_components")
        if cc:
            # one pin per round plus the edge and initial-label pins
            r["operators.graph.connected_components.cc_rounds"] = sum(s.pins for s in cc) - 2

        # plan-node attribution over the op's executions
        cohort_jobs = {j for s in named("operators.temporal.cohort_retention")
                       for j in inclusive_jobs(s)}
        epoch_jobs = {j for s in epochs for j in inclusive_jobs(s)}
        for _eid, jobs, nodes in execs:
            scans = [n for n in nodes.values() if n.name.startswith("Scan")
                     and n.metrics.get("number of output rows", 0) > 0]
            # a foreachBatch frame re-reads its files through an RDD scan
            in_epoch = bool(set(jobs) & epoch_jobs)
            over_input = sum(
                1 for n in scans
                if any(p in n.desc for p in self.input_roots)
                or (in_epoch and n.name == "Scan ExistingRDD")
            )
            r["sources.files.input_scan_passes"] += over_input
            if set(jobs) & cohort_jobs:
                r["operators.temporal.cohort_retention.input_scan_passes"] += over_input
            if set(jobs) & verify_jobs:
                r["package.ledger.verify.rows_scanned"] += sum(
                    n.metrics.get("number of output rows", 0) for n in scans
                )
            for n in nodes.values():
                if n.name == "Window" and "_cdf_rn" in n.desc:
                    under = _below(n, "Exchange")
                    r["operators.dedup.dedup_keyed.shuffle_write_mib"] += sum(
                        m.metrics.get("shuffle bytes written", 0) for m in under
                        if m.name.startswith("Exchange")) / 2**20
                    r["operators.dedup.dedup_keyed.spill_mib"] += sum(
                        m.metrics.get("spill size", 0) for m in [n] + under
                        if m.name in ("Sort", "Window")) / 2**20
                    r["operators.dedup.dedup_keyed.sort_window_s"] += sum(
                        m.metrics.get("sort time", 0) for m in under if m.name == "Sort")
        late = self._job_stats(late_jobs)
        r["operators.late_data.classify_late_data.jobs"] = late["jobs"]
        r["operators.late_data.classify_late_data.executor_run_s"] = late["executor_run_s"]
        return r

    # -- report -----------------------------------------------------------------

    def metrics(self, lines: list[str]) -> dict:
        exercised = EXERCISED[self.workload.name]
        out = {}
        for name, unit in PER_LAYER.items():
            if name == "trace.op_s_p50_overhead_s":
                value = statistics.median(self.traced_walls) - statistics.median(
                    self.untraced_walls)
            else:
                value = statistics.median(op[name] for op in self.ops)
            out[name] = (value, unit)
            if not name.startswith(exercised):
                lines.append(f"{name}: not exercised by {self.workload.name}, reads 0")
        lines.append(
            f"traced ops {len(self.traced_walls)}, untraced ops {len(self.untraced_walls)}: "
            f"op_s_p50 {statistics.median(self.traced_walls):.4f} vs "
            f"{statistics.median(self.untraced_walls):.4f} s"
        )
        unsteady = [n for n in REPEATABLE
                    if len({round(op[n], 9) for op in self.ops}) > 1]
        lines.append("counts repeating across traced ops: "
                     + ("all" if not unsteady else "NOT " + ", ".join(unsteady)))
        for n in REPEATABLE:
            lines.append(f"count {n} = {[round(op[n], 9) for op in self.ops]}")
        lines.append(f"jobs submitted but not completed, per traced op: "
                     f"{[op['jobs_not_completed'] for op in self.ops]}")
        lines.append("spans of the last traced op (wall s, self s, own jobs):")
        todo = [(self.last_root, 0)]
        while todo:
            sp, depth = todo.pop()
            lines.append(f"  {'  ' * depth}{sp.name} {sp.wall:.4f} {sp.self_s:.4f} "
                         f"{len(sp.attrs.get('job_ids', []))}")
            todo.extend((c, depth + 1) for c in reversed(sp.children))
        return out


_MISSING = object()
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def _files(directory: Path) -> dict[tuple[str, int], int]:
    """(relative path, inode) -> size for every file under ``directory``."""
    out = {}
    if directory.exists():
        for p in directory.rglob("*"):
            if p.is_file():
                st = p.stat()
                out[(str(p.relative_to(directory)), st.st_ino)] = st.st_size
    return out
