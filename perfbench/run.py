"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream,registry} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. It builds its inputs from ``--seed``
under ``.bench_work/`` in the checkout, measures, checks the program's
outputs against DuckDB oracles outside the timed region, prints one
detail record (a JSON line with the workload's own metric names,
sample counts, parallelism facts and load average) and then, as the
last line, the result: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1``
repeats the workload with spans recorded around each layer and prints
the per-layer ones instead (spans are written to ``.bench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream", "registry")


def pin_environment() -> None:
    """Parallelism, driver heap and the package path, fixed by the
    launcher so every run sees the same settings: all CPUs, a 2 GiB heap
    (a quarter of the host's memory when that is less; the session's own
    16g default exceeds small hosts, and the inputs need far less), and
    the checkout on the Python workers' path."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{min(2, max(1, total_kib // (4 << 20)))}g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # scratch space (Spark's block files, Python temp files) stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(ROOT, ".bench_work", "spark-local")
    os.environ["TMPDIR"] = os.path.join(ROOT, ".bench_work", "tmp")
    sys.path.insert(0, ROOT)


class MemorySampler(threading.Thread):
    """Peak memory of this process and all its descendants
    (driver, JVM, Python workers), sampled from /proc. Each process
    counts its proportional set size: pages shared between processes
    (a forked helper still sharing the JVM's heap) count once. Once a
    second: reading the proportional set size of a multi-GiB JVM takes
    tens of milliseconds, which sampling more often takes from the run."""

    def __init__(self, interval: float = 1.0):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # exited while listing
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                total += self._pss(pid)
            except (OSError, ValueError):
                continue  # exited since the listing
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self.sample())
            self._halt.wait(self.interval)

    def stop(self) -> int:
        self._halt.set()
        self.join(timeout=10)
        self.peak = max(self.peak, self.sample())
        return self.peak


class Context:
    """What a workload gets: session, work dir, seed, run length, tracer,
    and the phase markers that delimit set-up and the timed region."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, memory, t0: float):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer, self.memory, self.t0 = tracer, memory, t0
        self.setup_s = None
        self.timed_s = None
        self._t_setup_end = None
        self.memory_peak = None
        self.phases: dict[str, float] = {}
        self._t_phase = t0

    def phase(self, name: str) -> None:
        """Close the set-up phase that ends now (for the detail record)."""
        now = time.perf_counter()
        self.phases[name] = now - self._t_phase
        self._t_phase = now

    def generate(self, out_dir: str, sf: float):
        import datagen

        return datagen.generate(out_dir, self.seed, sf)

    def setup_done(self) -> None:
        self._t_setup_end = time.perf_counter()
        self.setup_s = self._t_setup_end - self.t0

    def timed_done(self) -> None:
        self.timed_s = time.perf_counter() - self._t_setup_end
        self.memory_peak = self.memory.stop()

    def oracle(self, data_dir: str) -> "Oracle":
        return Oracle(data_dir)


class Oracle:
    """DuckDB over the run's parquet tables, for the correctness gate."""

    def __init__(self, data_dir: str):
        import duckdb

        from dtle_spark.tableio import TABLES

        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def matches(self, sdf, sql: str) -> bool:
        """The Spark frame equals the DuckDB query: same column names,
        same multiset of rows (floats compared by ``repr``, the rest by
        ``str``, as the registry's parity tests do)."""
        cur = self.con.cursor()  # one per call: callers may run in threads
        try:
            res = cur.execute(sql)
            e_cols = [d[0] for d in res.description]
            expected = res.fetchall()
        finally:
            cur.close()
        a_cols = sdf.columns
        actual = [tuple(r) for r in sdf.collect()]
        return sorted(a_cols) == sorted(e_cols) and _normalize(actual, a_cols) == _normalize(
            expected, e_cols)

    def close(self) -> None:
        self.con.close()


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(v):
        return repr(v) if isinstance(v, float) else str(v)

    return sorted(tuple(key(r[i]) for i in order) for r in rows)


def _parallelism(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpu_count": os.cpu_count(),
        "cpus_pinned": int(os.environ["SPARK_GRAFT_CPUS"]),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # still alive after a minute
            proc.kill()
            proc.wait()


def _cpu_times() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_pct(start: list[int], end: list[int]) -> float:
    """Share of the host's CPU time taken by other guests since ``start``."""
    delta = [b - a for a, b in zip(start, end)]
    return 100.0 * delta[7] / max(1, sum(delta))


def catalogue() -> tuple[list[str], dict[str, str]]:
    """End-to-end metric names and per-layer name -> unit, from
    ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["end_to_end"]], {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    load_start = os.getloadavg()
    cpu_start = _cpu_times()
    pin_environment()
    end_to_end, per_layer = catalogue()
    from dtle_spark.session import get_spark  # fails outside a checkout

    if args.workload == "stream":
        import stream as workload
    else:
        import registry as workload
    from spans import Tracer

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"], work):
        os.makedirs(d, exist_ok=True)
    memory = MemorySampler()
    memory.start()
    spark = get_spark(
        "perfbench",
        extra_conf={
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            # a fixed-size heap: growing it on demand made GC, batch
            # times and peak RSS vary from run to run
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark) if args.trace else None
        ctx = Context(spark, work, args.seed, args.seconds, tracer, memory, t0)
        ctx.phase("session")
        try:
            out = workload.run(ctx)
        finally:
            if tracer is not None:
                tracer.restore()
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "setup_s": ctx.setup_s, "setup_phases": ctx.phases,
            "timed_s": ctx.timed_s,
            **out["detail"], "parallelism": _parallelism(spark),
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "cpu_steal_pct": _steal_pct(cpu_start, _cpu_times()),
        }
        e2e = {
            "setup_s": (ctx.setup_s, "s"),
            **out["e2e"],
            "rss_peak_mb": (ctx.memory_peak / (1 << 20), "MiB"),
        }
        if args.trace:
            layer = out["layer"]
            layer["tracing.overhead_pct"] = (100.0 * tracer.bookkeeping_s / ctx.timed_s, "%")
            reached = [n for n in per_layer if n.startswith(workload.LAYERS)]
            missing = set(reached) - set(layer)
            unknown = set(layer) - set(per_layer)
            if missing or unknown:
                raise RuntimeError(f"per-layer metrics missing {sorted(missing)}, "
                                   f"unknown {sorted(unknown)}")
            # the result lists every per-layer name; one the workload does
            # not reach reads 0 there and is named in the detail record
            detail["layers_not_reached"] = [n for n in per_layer if n not in layer]
            shown = {n: layer.get(n, (0, u)) for n, u in per_layer.items()}
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            missing = set(end_to_end) - set(e2e)
            if missing:
                raise RuntimeError(f"metrics not measured: {sorted(missing)}")
            shown = e2e
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    detail["e2e"] = {k: v[0] for k, v in e2e.items()}
    detail["fail_ratio"] = out["failed"] / out["attempted"]
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
