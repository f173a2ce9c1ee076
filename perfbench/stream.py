"""The ``stream`` workload: ``ReplicationJob`` catching up a backlog, then
replicating an open-loop trickle.

Inputs: the ``cdc_demo`` orders + lineitem change stream over seeded
tables, in log order (gno, seq), plus one ``ALTER TABLE db1.orders ADD
COLUMN`` at a seeded point of the backlog. gno is ``o_orderkey``, so the
applied GTID set has one interval per run of changed keys, the shape of a
table-filtered busy source, and the per-batch GTID fold grows with it.

Phase 1, catch-up (closed loop): ``BACKLOG_FILES`` files are in the
source directory when the job starts; the job drains them at its
defaults (``maxFilesPerTrigger`` 10, 1 s trigger). Phase 2, trickle (open
loop): one generator thread moves ``TRICKLE_FILES`` pre-written small
files into the source directory by atomic rename, one every
``TRICKLE_INTERVAL_S``, on a schedule fixed when the catch-up ends. A
file's delay runs from its due time to the end of the ``apply_batch``
that committed it; files map to batches through the checkpoint's
source log and batch end times come from the query's own progress
records, so the untraced run adds no Spark action. The amount of work
is fixed; ``--seconds`` does not change it.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import stats

SF = 0.004
BACKLOG_FILES = 10  # one micro-batch at maxFilesPerTrigger=10
BACKLOG_SHARE = 0.6  # of the stream's rows; the rest trickles
# The trickle: the idle job's next trigger takes the first file alone;
# the rest arrive while that batch runs (7-11 s on a 4-CPU host) and go
# in the next one, so every run splits them 1 + 5 (README.md).
TRICKLE_FILES = 6
TRICKLE_INTERVAL_S = 0.6
# The 1 s trigger fires on whole seconds of the clock: the first file
# lands this long before one, so it never waits part of a second more
# or less from run to run
TRIGGER_LEAD_S = 0.15
DRAIN_TIMEOUT_S = 120.0
DDL_COLUMN = "o_note"
LAYERS = ("ss.", "pipeline.", "sources.", "sinks.", "catalog.", "metrics.", "spark.",
          "storage.", "gen.", "backlog.", "batch.", "tracing.")  # per-layer metrics it measures

ORDERS_KEY = ["o_orderkey"]
LINEITEM_KEY = ["l_orderkey", "l_lineuid"]


def _progress_batches(query) -> list[dict]:
    """Data-carrying micro-batches from the query's progress records."""
    out = []
    for p in query.recentProgress:
        d = p["durationMs"]
        if "addBatch" not in d:
            continue  # idle trigger: no data
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        out.append({
            "batch": int(p["batchId"]),
            "rows": int(p["numInputRows"]),
            "start": start,
            # addBatch returns before the commit-log write that ends the trigger
            "end": start + (d["triggerExecution"] - d.get("commitOffsets", 0)) / 1000.0,
            "durationMs": dict(d),
        })
    return out


def _stage_stream(spark, data_dir: str, rk, work: str, seed: int, n_trickle: int):
    """Write the wire stream as backlog and trickle files; returns the
    file plan, the stream's (sid, gno) pairs, the DDL's gno and the rows."""
    from dtle_spark.plans import cdc_demo
    from dtle_spark.streaming.wire import to_wire

    wire = to_wire(cdc_demo.orders_changes(spark, data_dir)).unionByName(
        to_wire(cdc_demo.lineitem_changes(spark, data_dir, rekeyed=rk))
    )
    all_dir = os.path.join(work, "wire_all")
    wire.write.parquet(all_dir)
    tbl = pq.read_table(all_dir).sort_by([("gno", "ascending"), ("seq", "ascending")])
    # Spark writes timestamps as INT96; write them back as UTC micros,
    # the parquet type Spark reads as TimestampType
    ts = tbl.schema.get_field_index("ts")
    tbl = tbl.set_column(ts, tbl.schema.field(ts).with_type(pa.timestamp("us", tz="UTC")),
                         tbl.column(ts).cast(pa.timestamp("us", tz="UTC")))

    # one seeded mid-backlog DDL: gno K, seq K*10+5 sits after every
    # orders change of key <= K and before every later one (orders seqs
    # are key*10 + 1..4), so the barrier splits the backlog cleanly
    n = tbl.num_rows
    n_backlog = int(n * BACKLOG_SHARE)
    rng = np.random.default_rng(seed)
    gnos = tbl.column("gno").to_numpy()
    k = int(gnos[int(rng.integers(n_backlog // 4, 3 * n_backlog // 4))])
    pos = int(np.searchsorted(gnos, k, side="right"))
    tbl = pa.concat_tables([tbl.slice(0, pos), _ddl_row(tbl.schema, k), tbl.slice(pos)])
    n += 1
    n_backlog += 1

    src = os.path.join(work, "src")
    pending = os.path.join(work, "pending")
    os.makedirs(src)
    os.makedirs(pending)
    cuts = [int(c) for c in np.linspace(0, n_backlog, BACKLOG_FILES + 1)]
    cuts += [int(c) for c in np.linspace(n_backlog, n, n_trickle + 1)][1:]
    # increasing mtimes: the file source takes the oldest files first
    mtime0 = time.time() - 3600
    files = []
    for i in range(len(cuts) - 1):
        name = f"{i:05d}.parquet"
        backlog = i < BACKLOG_FILES
        path = os.path.join(src if backlog else pending, name)
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (mtime0 + i, mtime0 + i))
        files.append({"name": name, "rows": cuts[i + 1] - cuts[i], "backlog": backlog})
    # the warm-up batch: the first file's rows, then a DDL of its own
    first = tbl.slice(0, cuts[1])
    last_gno = first.column("gno")[-1].as_py()
    os.makedirs(os.path.join(work, "warmup", "src"))
    pq.write_table(pa.concat_tables([first, _ddl_row(tbl.schema, last_gno)]),
                   os.path.join(work, "warmup", "src", "00000.parquet"))
    shutil.rmtree(all_dir)
    pairs = set(zip(tbl.column("sid").to_pylist(), tbl.column("gno").to_pylist()))
    return files, pairs, k, tbl


def _ddl_row(schema: pa.Schema, gno: int) -> pa.Table:
    """``ALTER TABLE db1.orders ADD COLUMN`` as one wire row at (gno, gno*10+5)."""
    from dtle_spark.plans import cdc_demo

    return pa.Table.from_pydict({
        "sid": [cdc_demo.SID_A], "gno": [gno], "seq": [gno * 10 + 5], "lc": [0],
        "op": ["ddl"], "ts": [None], "schema_name": ["db1"], "table_name": ["orders"],
        "before": [None], "after": [None],
        "query": [f"ALTER TABLE db1.orders ADD COLUMN {DDL_COLUMN} varchar(32)"],
    }, schema=schema)


def _catalog_and_job(spark, data_dir, rk):
    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.model import JobConfig, TableConfig
    from dtle_spark.plans import cdc_demo

    o_type = cdc_demo.orders_changes(spark, data_dir).schema["after"].dataType
    l_type = cdc_demo.lineitem_changes(spark, data_dir, rekeyed=rk).schema["after"].dataType
    cat = SchemaCatalog()
    cat.register("db1", "orders", o_type, ORDERS_KEY)
    cat.register("db1", "lineitem", l_type, LINEITEM_KEY)
    job = JobConfig("bench", [
        TableConfig("db1", "orders", unique_key=ORDERS_KEY),
        TableConfig("db1", "lineitem", unique_key=LINEITEM_KEY),
    ])
    return cat, job


def _seeded_target(spark, data_dir: str, rk, root: str):
    from dtle_spark.plans import cdc_demo
    from dtle_spark.sinks.table_sink import BucketedTableTarget

    target = BucketedTableTarget(root)
    target.seed(cdc_demo.orders_base(spark, data_dir), "db1", "orders", ORDERS_KEY)
    target.seed(cdc_demo.lineitem_base(spark, data_dir, rekeyed=rk), "db1", "lineitem", LINEITEM_KEY)
    return target


def _warm_up(spark, data_dir: str, rk, work: str) -> None:
    """One throwaway micro-batch on its own, empty target and checkpoint:
    the first file's rows then a DDL, so the merge, bucket writes, DDL
    overwrite and catalog save all pay JIT, codegen and first-use costs
    before anything is timed."""
    from dtle_spark.streaming.pipeline import ReplicationJob

    wdir = os.path.join(work, "warmup")
    cat, job = _catalog_and_job(spark, data_dir, rk)
    rj = ReplicationJob(
        spark, job, os.path.join(wdir, "src"), os.path.join(wdir, "tgt"),
        os.path.join(wdir, "ckpt"), cat,
    ).start()
    try:
        rj.process_available()
    finally:
        rj.pause()
    shutil.rmtree(wdir)


def _wait_rows(rj, rows: int, deadline: float) -> list[dict]:
    """Poll the query's progress until ``rows`` input rows are applied."""
    while True:
        q = rj.query
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        batches = _progress_batches(q)
        if sum(b["rows"] for b in batches) >= rows:
            return batches
        if time.time() > deadline:
            raise TimeoutError(f"stream did not apply {rows} rows in time")
        time.sleep(0.1)


class Generator(threading.Thread):
    """Releases files on a fixed schedule regardless of how the job keeps
    up (open loop); records due and actual release times."""

    def __init__(self, pending: str, src: str, names: list[str], t0: float, interval: float):
        super().__init__(daemon=True)
        self.pending, self.src, self.names = pending, src, names
        self.due = {n: t0 + i * interval for i, n in enumerate(names)}
        self.released: dict[str, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for n in self.names:
                wait = self.due[n] - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.rename(os.path.join(self.pending, n), os.path.join(self.src, n))
                self.released[n] = time.time()
        except BaseException as e:  # surfaced by the caller after join
            self.error = e


def _install_trace(tracer) -> None:
    """Wrap each layer's public entry points for the traced run."""
    from dtle_spark.catalog import SchemaCatalog
    from dtle_spark.sinks.manifest import TableManifest
    from dtle_spark.sinks.table_sink import BucketedTableTarget
    from dtle_spark.sources.gtid import GtidSet
    from dtle_spark.streaming import pipeline
    from dtle_spark.streaming.metrics import TaskMetrics

    tracer.patch(pipeline, "apply_batch", tracer.wrap(
        pipeline.apply_batch, "pipeline.apply_batch", sample_storage=True))
    tracer.patch(pipeline, "apply_ddl_to_target", tracer.wrap(
        pipeline.apply_ddl_to_target, "pipeline.apply_ddl_to_target"))
    tracer.patch(SchemaCatalog, "apply", tracer.wrap(SchemaCatalog.apply, "catalog.apply"))
    tracer.patch(SchemaCatalog, "save", tracer.wrap(SchemaCatalog.save, "catalog.save"))
    tracer.patch(TableManifest, "save", tracer.wrap(TableManifest.save, "sinks.manifest_save"))
    tracer.patch(TaskMetrics, "observe_batch", tracer.wrap(
        TaskMetrics.observe_batch, "metrics.observe_batch"))

    orig_stage_merge = BucketedTableTarget.stage_merge

    def stage_merge(self, *args, **kwargs):
        sp = tracer.begin("sinks.stage_merge", table=args[3] if len(args) > 3 else None)
        try:
            touched, commit_fn = orig_stage_merge(self, *args, **kwargs)
        finally:
            tracer.end(sp)
        sp["buckets_touched"] = len(touched)
        return touched, tracer.wrap(commit_fn, "sinks.commit")

    tracer.patch(BucketedTableTarget, "stage_merge", stage_merge)

    # the fold spans GtidSet.load .. GtidSet.save inside apply_batch
    # (load, distinct (sid, gno) collect, one add per tx, save)
    orig_load = GtidSet.load
    orig_save = GtidSet.save
    fold = threading.local()

    def load(path):
        cur = tracer.current()
        if cur is not None and cur["name"] == "pipeline.apply_batch":
            fold.span = tracer.begin("sources.gtid_fold")
        return orig_load(path)

    def save(self, path):
        try:
            return orig_save(self, path)
        finally:
            sp = getattr(fold, "span", None)
            if sp is not None:
                fold.span = None
                tracer.end(sp, intervals=self.interval_count())

    tracer.patch(GtidSet, "load", load)
    tracer.patch(GtidSet, "save", save)


def _net_keys(tbl: pa.Table, names_rows: list[tuple[str, int, int]], file_batch) -> dict:
    """(batch, table) -> distinct keys the batch changed, from the wire
    images (JSON); the denominator of write amplification."""
    ops = tbl.column("op").to_pylist()
    tables = tbl.column("table_name").to_pylist()
    before = tbl.column("before").to_pylist()
    after = tbl.column("after").to_pylist()
    keys: dict[tuple[int, str], set] = {}
    for name, lo, hi in names_rows:
        b = file_batch[name]
        for i in range(lo, hi):
            if ops[i] == "ddl":
                continue
            t = tables[i]
            kc = ORDERS_KEY if t == "orders" else LINEITEM_KEY
            for img in (before[i], after[i]):
                if img is not None:
                    row = json.loads(img)
                    keys.setdefault((b, t), set()).add(tuple(row[c] for c in kc))
    return {k: len(v) for k, v in keys.items()}


def run(ctx) -> dict:
    """Set up, measure, check; returns the workload's outcome."""
    from dtle_spark.plans import cdc_demo
    from dtle_spark.streaming.pipeline import ReplicationJob

    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    data_dir = os.path.join(work, "data")
    ctx.generate(data_dir, SF)
    ctx.phase("generate")
    src, pending = os.path.join(work, "src"), os.path.join(work, "pending")
    # one pin of the re-keyed lineitem (a full sort) serves every step
    rk = cdc_demo.rekeyed_lineitem_pinned(spark, data_dir)
    files, pairs, ddl_gno, tbl = _stage_stream(spark, data_dir, rk, work, seed, TRICKLE_FILES)
    ctx.phase("stage_stream")
    _warm_up(spark, data_dir, rk, work)
    ctx.phase("warm_up")
    target = _seeded_target(spark, data_dir, rk, os.path.join(work, "tgt"))
    cat, job = _catalog_and_job(spark, data_dir, rk)
    ctx.phase("seed_target")
    ckpt = os.path.join(work, "ckpt")
    if ctx.tracer is not None:
        _install_trace(ctx.tracer)

    backlog = [f for f in files if f["backlog"]]
    trickle = [f for f in files if not f["backlog"]]
    backlog_rows = sum(f["rows"] for f in backlog)
    total_rows = sum(f["rows"] for f in files)

    ctx.setup_done()
    t_start = time.time()
    rj = ReplicationJob(spark, job, src, os.path.join(work, "tgt"), ckpt, cat, target=target).start()
    gen = None
    try:
        _wait_rows(rj, backlog_rows, t_start + DRAIN_TIMEOUT_S)
        # the job went idle when the catch-up ended; start one whole
        # second later, just ahead of a trigger
        t0 = math.floor(time.time()) + 2 - TRIGGER_LEAD_S
        gen = Generator(pending, src, [f["name"] for f in trickle], t0, TRICKLE_INTERVAL_S)
        gen.start()
        gen.join(timeout=DRAIN_TIMEOUT_S)
        if gen.error is not None:
            raise gen.error
        batches = _wait_rows(rj, total_rows, time.time() + DRAIN_TIMEOUT_S)
    finally:
        rj.pause()
    ctx.timed_done()

    # -- metrics (outside the timed region) --------------------------------
    file_batch = stats.read_source_log(os.path.join(ckpt, "sources", "0"))
    batch_end = {b["batch"]: b["end"] for b in batches}
    catchup_end = max(batch_end[file_batch[f["name"]]] for f in backlog)
    delays = stats.file_delays(gen.due, file_batch, batch_end)
    committed = {n: batch_end[file_batch[n]] for n in gen.released}
    batch_s = [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches]
    tail_q, tail_v = stats.tail(list(delays.values()))
    detail = {
        "sf": SF,
        "wire_rows": total_rows,
        "backlog_files": len(backlog),
        "backlog_rows": backlog_rows,
        "trickle_files": len(trickle),
        "trickle_interval_s": TRICKLE_INTERVAL_S,
        "batches": len(batches),
        "ddl_gno": ddl_gno,
        "apply_rows_per_s": backlog_rows / (catchup_end - t_start),
        "catchup_s": catchup_end - t_start,
        "batch_p50_s": float(np.median(batch_s)),
        "batch_s": batch_s,
        "delay_mean_s": sum(delays.values()) / len(delays),
        "delays_s": sorted(delays.values()),
        "batch_n": len(batch_s),
        "delay_p50_s": float(np.median(list(delays.values()))),
        "delay_tail_s": tail_v,
        "delay_tail_percentile": tail_q,
        "delay_n": len(delays),
    }
    e2e = {
        "throughput_per_s": (detail["apply_rows_per_s"], "1/s"),
        "latency_p50_s": (detail["delay_p50_s"], "s"),
    }

    # -- correctness gate ---------------------------------------------------
    checks = _check(ctx, target, data_dir, ckpt, pairs)
    attempted = len(batches) + len(checks)
    failed = sum(1 for ok in checks.values() if not ok)
    detail["checks"] = checks

    layer = {}
    if ctx.tracer is not None:
        layer = _layer_metrics(ctx.tracer, batches, gen, file_batch, committed, trickle, tbl, files)
    return {
        "e2e": e2e, "detail": detail, "layer": layer,
        "attempted": attempted, "failed": failed,
    }


def _check(ctx, target, data_dir: str, ckpt: str, pairs: set) -> dict[str, bool]:
    """End state vs the DuckDB oracles; persisted GTID set vs the stream."""
    from dtle_spark.plans import cdc_demo

    spark = ctx.spark
    out = {}
    orders_sql = (
        f"SELECT *, CAST(NULL AS VARCHAR) AS {DDL_COLUMN} FROM ({cdc_demo.ORDERS_CDC_ORACLE})"
    )
    oracle = ctx.oracle(data_dir)
    try:
        out["orders"] = oracle.matches(target.read(spark, "db1", "orders"), orders_sql)
        out["lineitem"] = oracle.matches(
            target.read(spark, "db1", "lineitem"), cdc_demo.LINEITEM_CDC_ORACLE)
    finally:
        oracle.close()
    with open(os.path.join(ckpt, "gtid_position.json")) as f:
        persisted = json.load(f)
    expected: dict[str, list[list[int]]] = {}
    for sid in sorted({s for s, _ in pairs}):
        runs: list[list[int]] = []
        for g in sorted(g for s, g in pairs if s == sid):
            if runs and g == runs[-1][1] + 1:
                runs[-1][1] = g
            else:
                runs.append([g, g])
        expected[sid] = runs
    out["gtid_set"] = persisted == expected
    return out


def _layer_metrics(tracer, batches, gen, file_batch, committed, trickle, tbl, files) -> dict:
    tracer.resolve()

    def med(xs):
        return float(np.median(xs))

    def dur(s):
        return s["end"] - s["start"]

    selfs = stats.self_times(tracer.spans)
    ab = tracer.named("pipeline.apply_batch")
    sm = tracer.named("sinks.stage_merge")
    ddl = tracer.named("pipeline.apply_ddl_to_target")
    folds = tracer.named("sources.gtid_fold")
    children: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)

    def jobs_under(sp, names):
        return sum(c.get("jobs", 0) for c in children.get(sp["id"], []) if c["name"] in names)

    control = [a["jobs"] - jobs_under(a, {"sinks.stage_merge", "pipeline.apply_ddl_to_target"})
               for a in ab]
    # rows written by stage_merge's bucket rewrite / net keys the batch changed
    rows_per_file, lo = [], 0
    for f in files:
        rows_per_file.append((f["name"], lo, lo + f["rows"]))
        lo += f["rows"]
    net = _net_keys(tbl, rows_per_file, file_batch)
    written = sum(s.get("output_records", 0) for s in sm)
    ss = [b["durationMs"] for b in batches]

    def ss_med(k):
        return med([d.get(k, 0) for d in ss])

    return {
        "ss.trigger_ms": (ss_med("triggerExecution"), "ms"),
        "ss.addBatch_ms": (ss_med("addBatch"), "ms"),
        "ss.latestOffset_ms": (ss_med("latestOffset"), "ms"),
        "ss.walCommit_ms": (ss_med("walCommit"), "ms"),
        "ss.commitOffsets_ms": (ss_med("commitOffsets"), "ms"),
        "pipeline.apply_batch_s": (med([dur(a) for a in ab]), "s"),
        "pipeline.apply_batch.self_s": (med([selfs[a["id"]] for a in ab]), "s"),
        "pipeline.jobs_per_batch": (med([a["jobs"] for a in ab]), "count"),
        "pipeline.stages_per_batch": (med([a["stages"] for a in ab]), "count"),
        "pipeline.control_jobs_per_batch": (med(control), "count"),
        "pipeline.apply_ddl_to_target_s": (sum(dur(s) for s in ddl), "s"),
        "sources.gtid_fold_s": (sum(dur(s) for s in folds), "s"),
        "sources.gtid_fold_first_s": (dur(folds[0]) if folds else 0.0, "s"),
        "sources.gtid_fold_last_s": (dur(folds[-1]) if folds else 0.0, "s"),
        "sources.gtid_intervals": (folds[-1].get("intervals", 0) if folds else 0, "count"),
        "sinks.stage_merge_s": (sum(dur(s) for s in sm), "s"),
        "sinks.stage_merge.jobs": (med([jobs_under(a, {"sinks.stage_merge"}) for a in ab]), "count"),
        "sinks.buckets_touched": (med([s["buckets_touched"] for s in sm]), "count"),
        "sinks.write_amplification": (written / max(1, sum(net.values())), "ratio"),
        "sinks.commit_s": (sum(dur(s) for s in tracer.named("sinks.commit")), "s"),
        "sinks.manifest_save_s": (sum(dur(s) for s in tracer.named("sinks.manifest_save")), "s"),
        "catalog.apply_s": (sum(dur(s) for s in tracer.named("catalog.apply")), "s"),
        "catalog.save_s": (sum(dur(s) for s in tracer.named("catalog.save")), "s"),
        "metrics.observe_batch_s": (sum(dur(s) for s in tracer.named("metrics.observe_batch")), "s"),
        "gen.late_max_s": (stats.lateness(gen.due, gen.released), "s"),
        "backlog.max_files": (stats.backlog_max(gen.released, committed), "count"),
        "batch.files_p50": (med(stats.files_per_batch(file_batch, [f["name"] for f in trickle])), "count"),
        **tracer.spark_metrics(ab),
    }
