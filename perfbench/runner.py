"""Run-level machinery shared by the workloads: Spark set-up and shutdown,
the closed measurement window, output checks and the result line."""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import measure
from spans import Tracer, parse_event_logs


@dataclass
class Window:
    """One closed-loop measurement window: one client, next op after the
    previous one completes."""

    latencies: list[tuple[str, float]] = field(default_factory=list)  # (op kind, seconds)
    wall_s: float = 0.0
    cpu: measure.TreeCpu = field(default_factory=lambda: measure.TreeCpu(0.0, 0.0, 0.0))  # ops only
    foreign_fraction: float = 0.0
    steal_fraction: float = 0.0

    def seconds(self, kinds=None) -> list[float]:
        return [dt for k, dt in self.latencies if kinds is None or k in kinds]

    def latency(self) -> dict[str, float]:
        """Op times: median, tail and ops per second of op time (checks
        between ops do not count)."""
        lat = self.seconds()
        pct, tail = measure.tail_percentile(lat)
        return {"samples": len(lat), "tail_percentile": pct,
                "op_p50_ms": statistics.median(lat) * 1e3, "op_tail_ms": tail * 1e3,
                "ops_per_s": len(lat) / sum(lat)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: str, tmp: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.root = root
        self.tmp = tmp
        self.n_cpus = measure.n_cpus()
        self.event_dir = os.path.join(tmp, "events")
        self.spark = None
        self.tracer = Tracer(False)
        self.attempted = 0
        self.failed = 0
        self.setup_times: tuple[float, float, float] = (0.0, 0.0, 0.0)
        self.info: dict = {}
        self.traced_spans = []
        self._t0 = time.perf_counter()
        self.phases: dict[str, float] = {}

    # ------------------------------------------------------------ Spark

    def start_spark(self, traced: bool = False) -> float:
        """(Re)create the session; returns the seconds `get_spark` took."""
        from aci_export_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # the whole heap (SPARK_GRAFT_DRIVER_MEM) from the start, so the
            # peak resident set does not depend on when the heap grew
            "spark.driver.extraJavaOptions": "-Xms" + os.environ["SPARK_GRAFT_DRIVER_MEM"],
        }
        if traced:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}", master=f"local[{self.n_cpus}]", extra_conf=conf
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(traced, self.spark.sparkContext)
        return dt

    def setup(self, open_tables, first_action):
        """The cold set-up of the one-shot job, timed: JVM launch and
        session, catalog open, first action. Returns the opened tables."""
        g = self.start_spark()
        t1 = time.perf_counter()
        tables = open_tables(self.spark)
        t2 = time.perf_counter()
        first_action(tables)
        self.setup_times = (g, t2 - t1, time.perf_counter() - t2)
        return tables

    def setup_metrics(self) -> dict[str, float]:
        g, c, a = self.setup_times
        return {"setup_s": g + c + a, "session.get_spark_s": g, "catalog.load_s": c,
                "session.first_action_s": a}

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — must not leave it running
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        left = [p for p in measure.tree_pids() if p != os.getpid()]
        while left and time.time() < deadline:
            time.sleep(0.1)
            left = [p for p in measure.tree_pids() if p != os.getpid()]
        for pid in left:
            try:
                os.kill(pid, 9)
            except OSError:
                pass  # already gone

    # ------------------------------------------------------------ measuring

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def window(self, ops, seconds: float | None = None, round_size: int = 1,
               min_rounds: int = 1) -> Window:
        """Run `ops` (an iterator of (kind, fn); fn runs one op and returns
        its check result plus the seconds and the process-tree CPU of the
        op itself, checks left out) until `seconds` have passed and a whole
        number, at least `min_rounds`, of rounds of `round_size` ops is
        done, so every run measures the same op mix."""
        seconds = self.seconds if seconds is None else seconds
        w = Window()
        cpu0, busy0, steal0 = measure.tree_cpu(), measure.system_busy_s(), measure.system_steal_s()
        t0 = time.perf_counter()
        while (len(w.latencies) < min_rounds * round_size or time.perf_counter() - t0 < seconds
               or len(w.latencies) % round_size):
            kind, fn = next(ops)
            ok, dt, cpu = fn()
            self.check(ok, kind)
            w.latencies.append((kind, dt))
            w.cpu = w.cpu.plus(cpu)
        w.wall_s = time.perf_counter() - t0
        # the whole tree's CPU over the window, checks included, is this
        # run's own share of the machine
        own_s = measure.tree_cpu().minus(cpu0).total_s
        w.foreign_fraction = measure.foreign_cpu_fraction(
            measure.system_busy_s() - busy0, own_s, w.wall_s, self.n_cpus)
        w.steal_fraction = measure.foreign_cpu_fraction(
            measure.system_steal_s() - steal0, 0.0, w.wall_s, self.n_cpus)
        return w

    def phase(self, name: str) -> None:
        """Record when a phase of the run ended (seconds since start)."""
        self.phases[name] = round(time.perf_counter() - self._t0, 3)

    def timed(self, fn):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0

    def measured(self, fn):
        """`fn()`, its wall seconds and the process-tree CPU it used."""
        cpu0 = measure.tree_cpu()
        out, dt = self.timed(fn)
        return out, dt, measure.tree_cpu().minus(cpu0)

    def event_log(self):
        """Stop the traced session (flushing its log) and parse the log; the
        spans recorded so far are kept in `traced_spans`."""
        self.traced_spans = self.tracer.spans
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        return parse_event_logs(self.event_dir)

    def record_window(self, w: Window) -> None:
        from pyspark import __version__ as spark_version

        self.info.update({
            "phases": self.phases,
            **w.latency(),
            "foreign_cpu_fraction": round(w.foreign_fraction, 4),
            "steal_fraction": round(w.steal_fraction, 4),
            "contended": w.foreign_fraction >= 0.15,
            "nproc": self.n_cpus,
            "spark_version": spark_version,
            "master": f"local[{self.n_cpus}]",
        })
