"""Run harness shared by the workloads: the Spark session, closed-loop
op timing, end-to-end metrics and the per-layer metrics of a traced run.

A workload does its work in *rounds* (a query pass, an ingest of every
increment, a block of lifecycle cycles). Each round starts from the
same state and runs the same seeded ops, so percentiles over whole
rounds do not depend on how many rounds fit in the measured window.
The window runs whole rounds until ``--seconds`` have passed.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import time
import traceback
from dataclasses import dataclass, field

from tracing import Tracer, _union


@dataclass
class Op:
    kind: str  # "read" | "write"
    name: str
    start: float
    end: float = 0.0
    ok: bool = True
    rows: int = 0
    round: int = 0

    @property
    def secs(self) -> float:
        return self.end - self.start


@dataclass
class Round:
    index: int
    traced: bool
    ops: list[Op] = field(default_factory=list)
    storage_amp: float | None = None
    files_written: int = 0  # new files under the watched lakes (traced)
    bytes_written: int = 0

    @property
    def wall(self) -> float:
        return sum(o.secs for o in self.ops)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def tail(values: list[float]) -> tuple[float, int, int]:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), as (value, percentile, samples beyond). Below 20
    samples this is the median."""
    xs = sorted(values)
    n = len(xs)
    p = math.floor(100 * (n - 10) / n)
    if p <= 50:
        return statistics.median(xs), 50, n // 2
    rank = math.ceil(p * n / 100)
    return xs[rank - 1], p, n - rank


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    return sum(dir_listing(path).values())


def dir_listing(path: str) -> dict[str, int]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


class Bench:
    """State of one benchmark run: session, tracer, ops and rounds."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.cpus = cpus()
        self.tracer = Tracer()
        self.rounds: list[Round] = []
        self.phases: dict[str, float] = {}
        self.failures: list[str] = []
        self.spark = None
        self.watched: list[str] = []
        self._seen: dict[str, int] = {}
        self._round: Round | None = None

    # ---- session -----------------------------------------------------
    def start_session(self) -> None:
        from incubator_gobblin_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file in /tmp: the run writes only in its checkout
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'jvm-tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedJobs": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.phases["session.start_s"] = time.perf_counter() - t0

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM process to end, even when the
        stop itself fails (an interrupted py4j call leaves it unusable)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
        finally:
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
            self.spark = None

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.ProcessHandle.current().pid()
        return (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0

    # ---- closed-loop ops -----------------------------------------------
    def op(self, kind: str, name: str):
        """Time one op of the current round; outside a round (a set-up
        warm-up) the op runs untimed and unrecorded."""
        return _OpCtx(self, kind, name) if self.measuring else Untimed()

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def measure(self, run_round, reset_round) -> None:
        """Run whole rounds until the window has passed. A traced run
        runs at least four rounds in the order untraced, traced, traced,
        untraced, so the traced-to-untraced wall ratio of the same work
        gives the tracing overhead without favouring the later, warmer
        rounds."""
        deadline = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < deadline or (self.trace and i < 4):
            reset_round(i)
            traced = self.trace and i % 4 in (1, 2)
            self._round = Round(i, traced)
            if traced:
                self._seen = self._listing()
            self.tracer.enabled = traced
            try:
                run_round(i)
            except Exception:
                # an op that raised was already recorded as failed; the
                # state it left is unknown, so the window ends here
                if not self.failures:
                    self.fail(traceback.format_exc())
                break
            finally:
                self.tracer.enabled = False
                self.tracer.op = None
                self.rounds.append(self._round)
                self._round = None
            i += 1

    @property
    def measuring(self) -> bool:
        """True inside a measured round; set-up and warm-up ops run untimed."""
        return self._round is not None

    def set_storage_amp(self, value: float) -> None:
        if self._round is not None:
            self._round.storage_amp = value

    def watch(self, *paths: str) -> None:
        """Lake roots whose new files a traced round counts."""
        self.watched.extend(paths)

    def _listing(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for p in self.watched:
            out.update(dir_listing(p))
        return out

    def _count_new_files(self) -> None:
        now = self._listing()
        for p, size in now.items():
            if p not in self._seen:
                self._round.files_written += 1
                self._round.bytes_written += size
        self._seen = now

    # ---- results ---------------------------------------------------------
    def ops(self, kind: str | None = None) -> list[Op]:
        return [o for r in self.rounds for o in r.ops if kind is None or o.kind == kind]

    def end_to_end(self) -> tuple[dict[str, tuple[float, str]], dict[str, str]]:
        """Every end-to-end metric as {name: (value, unit)}, plus notes
        on how each tail was taken."""
        plain = [r for r in self.rounds if not r.traced]
        reads = [o.secs for o in self.ops("read")]
        writes = [o for o in self.ops("write")]
        r_tail, r_p, r_beyond = tail(reads)
        w_tail, w_p, w_beyond = tail([o.secs for o in writes])
        w_secs = sum(o.secs for o in writes)
        amps = [r.storage_amp for r in self.rounds if r.storage_amp is not None]
        m = {
            "setup_s": (self.setup_s(), "s"),
            "wall_s": (statistics.median(r.wall for r in plain), "s"),
            "read_p50_s": (statistics.median(reads), "s"),
            "read_tail_s": (r_tail, "s"),
            "write_p50_s": (statistics.median(o.secs for o in writes), "s"),
            "write_tail_s": (w_tail, "s"),
            "rows_per_s": (sum(o.rows for o in writes) / w_secs, "1/s"),
            "storage_amp": (statistics.median(amps), "ratio"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }
        attempted = len(self.ops())
        notes = {
            "read_tail_s": f"p{r_p} of {len(reads)} reads, {r_beyond} beyond",
            "write_tail_s": f"p{w_p} of {len(writes)} writes, {w_beyond} beyond",
            "wall_s": f"median of {len(plain)} rounds",
            "failed_ops_ratio": f"{self.failed_ops()}/{attempted}",
        }
        return m, notes

    def setup_s(self) -> float:
        return sum(self.phases.values())

    def failed_ops(self) -> int:
        return sum(not o.ok for o in self.ops())

    def stage_metrics(self) -> dict[str, float]:
        """Spark stage totals over the ops of traced rounds, read from the
        status store (populated with the UI off)."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        seq = sc._jsc.sc().statusStore().stageList(
            None, False, False, sc._gateway.new_array(jvm.double, 0), None
        )
        windows = [
            (o.start, o.end) for r in self.rounds if r.traced for o in r.ops
        ]
        # op windows are perf_counter times; stage times are epoch ms
        shift = time.time() - time.perf_counter()
        windows = [((s + shift) * 1000, (e + shift) * 1000) for s, e in windows]
        agg = dict(stages=0, tasks=0, run_ms=0, shuffle=0, input=0, spill=0)
        spans = []
        for sd in jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq):
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            t0, t1 = sub.get().getTime(), done.get().getTime()
            if not any(a <= t0 <= b for a, b in windows):
                continue
            agg["stages"] += 1
            agg["tasks"] += sd.numTasks()
            agg["run_ms"] += sd.executorRunTime()
            agg["shuffle"] += sd.shuffleWriteBytes()
            agg["input"] += sd.inputBytes()
            agg["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            spans.append((t0, t1))
        exec_s = _union(spans) / 1000.0
        n = max(1, sum(r.traced for r in self.rounds))
        return {
            "session.exec_s": exec_s / n,
            "session.tasks": agg["tasks"] / n,
            "session.stages": agg["stages"] / n,
            "session.executor_run_s": agg["run_ms"] / 1000.0 / n,
            "session.busy_ratio": (agg["run_ms"] / 1000.0) / (exec_s * self.cpus)
            if exec_s else 0.0,
            "session.shuffle_write_bytes": agg["shuffle"] / n,
            "session.input_bytes": agg["input"] / n,
            "session.spill_bytes": agg["spill"] / n,
        }


class _OpCtx:
    def __init__(self, bench: Bench, kind: str, name: str):
        self.bench = bench
        rnd = bench._round
        self.o = Op(kind, name, 0.0, round=rnd.index)
        self.op_id = f"r{rnd.index}.{len(rnd.ops)}.{name}"

    def __enter__(self) -> Op:
        self.bench.tracer.op = self.op_id
        self.o.start = time.perf_counter()
        return self.o

    def __exit__(self, et, ev, tb):
        self.o.end = time.perf_counter()
        self.bench.tracer.op = None
        self.bench._round.ops.append(self.o)
        if self.bench._round.traced:
            self.bench._count_new_files()
        if et is not None:
            self.o.ok = False
            self.bench.fail(f"{self.op_id}: {''.join(traceback.format_exception(et, ev, tb))}")
        return False


class Untimed:
    """Stands in for an op outside the measured rounds."""

    secs = 0.0
    ok = True
    rows = 0

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False
