"""What every run shares: the run context, sessions, operation accounting,
the per-operation deadline and leak counts."""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import threading
import time
import traceback

from procstats import (
    cpu_ticks, delta, steal_share, tree_cpu_s, write_bytes_by_pid,
)

OP_DEADLINE_S = 60.0  # a hung operation is cancelled and counted failed


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


class Ctx:
    """One run: its seed, where it may write, and what it has measured
    outside the passes."""

    def __init__(self, seed: int, work: str, cache: str, trace: bool) -> None:
        self.t_start = time.monotonic()
        self.seed = seed
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.cache = cache
        self.cores = len(os.sched_getaffinity(0))
        self.event_log = os.path.join(work, "eventlog") if trace else None
        # stopped contexts stay referenced: ship_package keys on id(sc), and
        # a recycled id would skip shipping to a new context
        self.contexts: list = []
        self.layer: dict[str, float] = {}  # per-layer values from set-up

    def log(self, msg: str) -> None:
        print(f"perfbench: +{time.monotonic() - self.t_start:6.1f}s {msg}",
              file=sys.stderr, flush=True)

    def log_pass(self, p: dict) -> None:
        ticks = [sum(t) for t in zip(*p["ticks"].values())] or [0] * 8
        self.log(
            "pass "
            f"{sum(p['wall'].values()):.2f}s "
            f"adj {sum(p['adj'].values()):.2f}s "
            f"cpu {sum(p['cpu'].values()):.1f}s "
            f"steal {steal_share([0] * 8, ticks):.3f} "
            + " ".join(f"{k}={v:.2f}" for k, v in p["wall"].items()))

    def session(self, n_cores: int, event_log: bool = True):
        """A fresh SparkSession from ``get_spark``, writing only under the
        run's work dir; the event log is on in traced runs."""
        from fusets_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.work,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no /tmp/hsperfdata_* file; JVM temp files in the work dir
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true -XX:-UsePerfData "
                f"-Djava.io.tmpdir={self.work} "
                f"-Dderby.system.home={self.work}"
            ),
        }
        if self.event_log and event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log,
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(
            "fusets-perfbench",
            cores=n_cores,
            shuffle_partitions=max(2 * n_cores, 16),  # as bench.py
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.contexts.append(spark.sparkContext)
        return spark

    def hygiene(self, spark) -> dict[str, int]:
        """Counts that grow when a run leaks: temp dirs, catalog tables and
        views, persisted RDDs and active streams."""
        return {
            "tmp_dirs_leaked": sum(
                1 for n in os.listdir(self.tmp) if n.startswith("fusets_")),
            "catalog_tables": len(spark.catalog.listTables()),
            "persisted_rdds": len(spark.sparkContext._jsc.getPersistentRDDs()),
            "active_streams": len(spark.streams.active),
        }


class Watchdog:
    """Cancels every Spark job of the session when an operation outlives its
    deadline (the silent Python-worker hang), so it fails instead of hanging."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._due: float | None = None
        self._sc = None
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def arm(self, sc, seconds: float) -> None:
        with self._lock:
            self._sc, self._due = sc, time.monotonic() + seconds

    def disarm(self) -> None:
        with self._lock:
            self._due = None

    def _run(self) -> None:
        while not self._stop.wait(0.5):
            with self._lock:
                due, sc = self._due, self._sc
                if due is None or time.monotonic() < due:
                    continue
                self._due = None
            print("perfbench: operation deadline hit, cancelling jobs",
                  file=sys.stderr)
            try:
                sc.cancelAllJobs()
            except Exception:  # noqa: BLE001 — the session may be gone
                traceback.print_exc()

    def close(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


class Ops:
    """Times operations, counts attempts and failures, and keeps per-pass
    records. An operation that raises, hits its deadline or fails a check
    counts as failed; nothing is retried."""

    def __init__(self, spark, tracer, watchdog: Watchdog) -> None:
        self.spark = spark
        self.tracer = tracer
        self.watchdog = watchdog
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.broken = False  # an operation of this pass raised
        self._failed_now: set[str] = set()
        self._pass: dict | None = None

    def begin_pass(self) -> None:
        self.broken = False
        self._failed_now = set()
        self._pass = {"wall": {}, "adj": {}, "ticks": {}, "cpu": {}, "io": {},
                      "stats": {}}

    def end_pass(self) -> dict:
        p, self._pass = self._pass, None
        p["ok"] = not self._failed_now
        self.failed += len(self._failed_now)
        self.passes.append(p)
        return p

    def _fail(self, name: str, msg: str) -> None:
        self._failed_now.add(name)
        self.errors.append(f"{name}: {msg}")
        print(f"perfbench: FAILED {name}: {msg}", file=sys.stderr)

    def check(self, name: str, fn, check=None):
        """An untimed operation outside the passes (a reference or oracle
        check): counted, and failed if it raises or its check fails."""
        self.attempted += 1
        try:
            result = fn()
        except Exception as e:  # noqa: BLE001 — counted as failed
            result, ok, msg = None, False, repr(e)
        else:
            ok, msg = check is None or check(result), "check failed"
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {msg}")
            print(f"perfbench: FAILED {name}: {msg}", file=sys.stderr)
        return result

    def op(self, name: str, fn, check=None, io: bool = False):
        """A timed operation of the current pass."""
        if self.broken:
            return None
        self.attempted += 1
        cpu0 = tree_cpu_s()
        ticks0 = cpu_ticks()
        io0 = write_bytes_by_pid() if io else None
        self.watchdog.arm(self.spark.sparkContext, OP_DEADLINE_S)
        t0 = time.monotonic()
        try:
            with self.tracer.span(f"op.{name}"):
                result = fn()
        except Exception as e:  # noqa: BLE001 — counted as failed
            self._fail(name, repr(e))
            self.broken = True
            return None
        finally:
            self.watchdog.disarm()
        p = self._pass
        wall = time.monotonic() - t0
        p["wall"][name] = wall
        # the wall less the CPU time the hypervisor gave other guests
        ticks = cpu_ticks()
        p["adj"][name] = wall * (1.0 - steal_share(ticks0, ticks))
        p["ticks"][name] = [a - b for a, b in zip(ticks, ticks0)]
        p["cpu"][name] = tree_cpu_s() - cpu0
        if io0 is not None:
            p["io"][name] = delta(io0, write_bytes_by_pid())
        if check is not None and not check(result):
            self._fail(name, f"check failed (got {result!r})")
        return result

    def verify(self, name: str, ok: bool, msg: str) -> None:
        """A check between operations; a failure fails operation `name`."""
        if not ok:
            self._fail(name, msg)

    def stat(self, key: str, value: float) -> None:
        self._pass["stats"][key] = value

    @contextlib.contextmanager
    def checking(self, name: str):
        """Untimed checks after operation `name`; an error in them fails
        that operation and ends the pass."""
        with self.tracer.span("bench.check"):
            try:
                yield
            except Exception as e:  # noqa: BLE001 — counted as failed
                self._fail(name, repr(e))
                self.broken = True


def start_workers(spark, n: int) -> None:
    """One pandas task per core that imports the shipped package: the
    session's Python workers start, as a first job of any workload would
    start them."""

    def touch(batches):
        import fusets_spark  # noqa: F401 — shipped by ship_package

        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(touch, "id long").write.format(
        "noop").mode("overwrite").save()


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001 — the JVM would not stop
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
