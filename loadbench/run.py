"""Load-path benchmark for cdf_spark: one closed-loop workload per run.

    python3 loadbench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed in a child process (gen.py), starts one Spark session on
local[<cores>] with a fixed driver heap, runs two untimed warm-up ops,
then runs ops back to back for ``--seconds`` (at least two): one client,
the next op starting only after the previous op and its untimed output
check finish. Between ops the per-op state is restored and the Python and
JVM garbage collectors run, untimed.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps each
layer's public functions (tracing.py) and reports the per-layer metrics.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the lines above it are the
human-readable report. All scratch files live under ``.loadbench_work/``
in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

HEAP = "1g"
JVM_OPTIONS = [
    f"-Xms{HEAP}",              # = -Xmx: no heap shrink and regrowth between ops
    "-XX:+AlwaysPreTouch",      # heap pages resident from the start: steady RSS
    "-XX:TieredStopAtLevel=1",  # first-tier JIT only: walls plateau within the warm-up
    "-XX:-UsePerfData",         # no hsperfdata file outside the checkout
]
WARM_OPS = 2         # untimed, counted in setup_s: the cold op plus one
MIN_OPS = 2          # timed ops even when --seconds runs out first
MIN_OPS_TRACED = 3   # traced runs alternate traced and untraced ops


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, q in [0, 1]."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def vm_hwm_mib(pid: int | str) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for process {pid}")


def generate(workload: str, seed: int, out: Path) -> tuple[dict, float]:
    t0 = time.perf_counter()
    subprocess.run(
        [sys.executable, str(HERE / "gen.py"), "--workload", workload, "--seed", str(seed),
         "--out", str(out)],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    props = json.loads((out / "properties.json").read_text())
    return props, time.perf_counter() - t0


def start_session(work: Path, cores: int):
    from cdf_spark.session import get_spark

    spark = get_spark(
        "loadbench",
        master=f"local[{cores}]",
        **{
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": " ".join(JVM_OPTIONS + [f"-Djava.io.tmpdir={work / 'tmp'}"]),
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.sql.shuffle.partitions": str(cores),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """Runs ops of one workload back to back, each followed by its
    untimed check and the untimed between-op clean-up."""

    def __init__(self, spark, workload, tracer):
        self.spark, self.workload, self.tracer = spark, workload, tracer
        self.sc = spark.sparkContext

    def collect_garbage(self) -> None:
        gc.collect()
        self.sc._jvm.java.lang.System.gc()

    def one(self, check: bool = True) -> tuple[float, str | None]:
        self.workload.reset()
        self.tracer.begin_op()
        t0 = time.perf_counter()
        try:
            result, err = self.workload.op(self.tracer), None
        except Exception as exc:  # noqa: BLE001 — a raising op counts as failed
            result, err = None, f"raised {type(exc).__name__}: {exc}".splitlines()[0]
        wall = time.perf_counter() - t0
        self.tracer.end_op(wall)
        if err is None and check:
            self.sc.setJobGroup("loadbench-check", "output check")
            try:
                err = self.workload.check(result)
            finally:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
        del result
        self.tracer.before_gc()
        self.collect_garbage()
        return wall, err


def run(args, work: Path) -> tuple[dict, list[str], int, int, bool]:
    import tracing
    import workloads

    cores = len(os.sched_getaffinity(0))
    props, gen_s = generate(args.workload, args.seed, work / "data")

    t_setup = time.perf_counter()
    spark = start_session(work, cores)
    try:
        session_s = time.perf_counter() - t_setup
        workload = workloads.WORKLOADS[args.workload](spark, work / "data", work)
        tracer = tracing.Tracer(spark, workload) if args.trace else tracing.NullTracer()
        loop = Loop(spark, workload, tracer)
        warm = []
        for _ in range(WARM_OPS):
            wall, err = loop.one(check=False)
            if err is not None:
                raise RuntimeError(f"warm-up op failed: {err}")
            warm.append(wall)
        setup_s = time.perf_counter() - t_setup

        tracer.start()
        walls, epoch_walls, failures = [], [], []
        deadline = time.perf_counter() + args.seconds
        min_ops = MIN_OPS_TRACED if args.trace else MIN_OPS
        while time.perf_counter() < deadline or len(walls) < min_ops:
            wall, err = loop.one()
            walls.append(wall)
            epoch_walls.extend(getattr(workload, "epoch_walls", []))
            if err is not None:
                failures.append(err)
        tracer.stop()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = vm_hwm_mib(jvm_pid) + vm_hwm_mib("self")
    finally:
        stop_session(spark)

    op_p50 = statistics.median(walls)
    lines = [
        f"workload {args.workload}  seed {args.seed}  local[{cores}]  trace {args.trace}",
        f"inputs  {json.dumps(props, sort_keys=True)}",
        f"generate_s {gen_s:.3f} (excluded from setup_s)",
        f"session_start_s {session_s:.3f}  warm-up ops {len(warm)}: "
        + " ".join(f"{w:.3f}" for w in warm),
    ]
    lines.append("op walls " + " ".join(f"{w:.3f}" for w in walls))
    for q in (0.1, 0.25, 0.5, 0.75, 0.9):
        lines.append(f"op_s_p{int(q * 100)} {quantile(walls, q):.4f} s  (n={len(walls)})")
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s_p50": (op_p50, "s"),
        "input_mib_per_s": (workload.input_bytes / 2**20 / op_p50, "MiB/s"),
        "peak_rss_mib": (peak_rss, "MiB"),
    }
    lines.append(f"input bytes per op {workload.input_bytes}")
    if epoch_walls:
        n = len(epoch_walls)
        lines.append(f"epoch_s_p50 {statistics.median(epoch_walls):.4f} s  (n={n})")
        if n >= 100:
            lines.append(f"epoch_s_p90 {quantile(epoch_walls, 0.9):.4f} s  (n={n})")
        else:
            lines.append(f"epoch_s_p90 not reported: {n} epochs leave fewer than 10 beyond p90")
    if args.trace:
        metrics = tracer.metrics(lines)
    for err in failures[:5]:
        lines.append(f"FAILED op: {err}")
    for name, (value, unit) in metrics.items():
        lines.append(f"{name} = {value:.6g} {unit}")
    lines.append(f"output check: {len(walls) - len(failures)}/{len(walls)} ops correct")
    return metrics, lines, len(walls), len(failures), not failures


def main() -> int:
    ap = argparse.ArgumentParser(description="cdf_spark load-path benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["bulk_load", "cdc_merge", "iterative_pass"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the engine is imported from the checkout this file sits in; outside
    # a checkout the import fails and the run exits non-zero
    sys.path.insert(0, str(ROOT))
    import cdf_spark  # noqa: F401

    # SIGTERM unwinds like an exception, so the JVM and scratch files go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".loadbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    try:
        metrics, lines, attempted, failed, correct = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass
    print("\n".join(lines))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
