"""The engine's repository benchmark: one workload per run.

    python3 perfbench/run.py --workload analyst_queries --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run builds its inputs from
``--seed``, starts a ``local[4]`` session, runs the workload's ops once
as a fresh batch process would, in a closed loop with one client
thread, checks every op's output, and prints a table of metrics
followed, as the last line, by one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones.
Everything the run writes goes under ``.bench_build/perfbench/`` in the
checkout and is removed at exit. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import spans  # noqa: E402

CPUS = 4

# One query per engine area: action-bound relational, streaming and
# model queries, and build-bound LLM-data queries.
ANALYST_QUERIES = [
    "flagship_weekly_demand",
    "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue", "tpch_q18_large_volume_customer",
    "a3_three_sum_agg", "w3_running_sum_frame", "asof_join_backward",
    "events_funnel_conversion", "session_window_late_twin",
    "m_ses_weekly_forecast",
    "llm_dup_clusters", "llm_minhash_lsh_capped",
]
# Seconds one pass over the queries, or one ingest window, takes in a
# fresh process; a run measures max(1, round(seconds / PASS_SECONDS)).
PASS_SECONDS = {"analyst_queries": 40.0, "warehouse_ingest": 30.0}

# warehouse_ingest: payloads and CDC batch sizes per window.
N_SQUARE, N_SHOPIFY, N_QB = 500, 150, 150
N_MERGE, N_DELETE, N_UPDATE, N_LOOKUP = 20, 10, 10, 10
TX_TABLES = ["square_trans", "square_trans_details", "shopify_trans",
             "shopify_trans_details", "qb_trans", "qb_trans_details"]
MERGE_CASH = 12345.0
UPDATE_MARKET = "cdc"


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    seconds: float = 0.0
    error: str | None = None


@dataclass
class Run:
    args: argparse.Namespace
    work: Path
    tracer: spans.Tracer = field(default_factory=lambda: spans.Tracer(enabled=False))
    ops: list[Op] = field(default_factory=list)
    failures: list[tuple[str, str]] = field(default_factory=list)
    setup_end: float = 0.0
    wall: float = 0.0
    extra: dict[str, float] = field(default_factory=dict)
    gen_s: float = 0.0
    _op_id: int = 0

    def op(self, name: str, kind: str, fn) -> Op:
        """Time one op: ``fn(span)`` where ``span(name, layer)`` records a
        child span in the traced run. An exception fails the op."""
        self._op_id += 1
        rec = Op(name, kind)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, "bench", op=self._op_id):
                fn(self.tracer.span)
        except Exception as e:  # an engine error fails this op only
            rec.error = f"{type(e).__name__}: {e}"[:300]
            traceback.print_exc(file=sys.stderr)
        rec.seconds = time.perf_counter() - t0
        return rec

    def fail(self, name: str, why: str) -> None:
        """Record a failed output check or error against op ``name``."""
        self.failures.append((name, why[:400]))

    def timed_phases(self, prepare, body) -> dict[str, object]:
        """Set up with ``prepare()``, then time ``body(state)``, which
        returns its ops: the measured phase, in the state a fresh batch
        process meets it. A traced run then repeats it on fresh states,
        traced and then untraced; ``trace_overhead_ratio`` is the
        traced wall over that untraced repeat. Returns the states."""
        states = {"main": prepare()}
        self.setup_end = time.time()
        t0 = time.perf_counter()
        self.ops = body(states["main"])
        self.wall = time.perf_counter() - t0
        if self.args.trace:
            walls = {}
            for phase in ("traced", "untraced"):
                state = states[phase] = prepare()
                self.tracer.enable(phase == "traced")
                t0 = time.perf_counter()
                ops = body(state)
                walls[phase] = time.perf_counter() - t0
                self.tracer.enable(False)
                for op in ops:
                    if op.error:
                        self.fail(op.name, f"{phase} op raised {op.error}")
            self.extra["trace_overhead_ratio"] = walls["traced"] / walls["untraced"]
        return states


# ------------------------------------------------------------ resources

class RssSampler:
    """Peak summed RSS of this process and all its descendants."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_rss_kb(root: int) -> int:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{d}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
            rss[int(d)] = pages * page_kb
        total, todo = 0, [root]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            todo.extend(children.get(p, []))
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# -------------------------------------------------------------- session

def start_session(run: Run):
    """``get_spark`` at ``local[4]``, with every path Spark, Derby and
    the JVM write to moved under the run's work dir. The extra settings
    travel as spark-submit arguments because ``get_spark`` builds its
    own ``SparkSession.builder``."""
    w = run.work
    conf = {
        "spark.sql.warehouse.dir": str(w / "spark-warehouse"),
        "spark.local.dir": str(w / "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={w} -Djava.io.tmpdir={w / 'tmp'} -XX:-UsePerfData",
    }
    if run.args.trace:
        (w / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (w / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    with run.tracer.span("get_spark", "session"):
        from zolo_spark.session import get_spark

        spark = get_spark("perfbench", cpus=CPUS)
    if run.args.trace:
        run.tracer.attach(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------- registry workloads

def registry_workload(run: Run, spark, names: list[str]) -> None:
    """Each op is ``REGISTRY[name].fn`` (the build phase) followed by a
    collect to pandas (the action phase). The main phase's frames are
    checked against the oracles afterwards. The order is fixed, as in a
    nightly batch: in a cold process the first ops pay the JIT warm-up,
    and a shuffled order would move that cost between ops per seed."""
    from zolo_spark.parity_queries import REGISTRY

    tables = str(run.work / "tables")
    passes = max(1, round(run.args.seconds / PASS_SECONDS[run.args.workload]))
    results: dict[str, object] = {}

    def one(name: str) -> Op:
        def body(span):
            with span(name, "parity_queries"):
                df = REGISTRY[name].fn(spark, tables)
            with span("toPandas", "spark_action"):
                results.setdefault(name, df.toPandas())
        return run.op(name, "read", body)

    run.timed_phases(lambda: None, lambda _: [
        one(n) for _ in range(passes) for n in names])
    check_registry(run, names, results, tables)


class _Frame:
    """Hands ``tests.oracle_util.compare`` an already-collected frame."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf

    def df(self):
        return self.pdf


def check_registry(run: Run, names: list[str], results: dict,
                   tables: str) -> None:
    import duckdb

    from tests.oracle_util import compare
    from zolo_spark.parity_queries import REGISTRY

    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    for name in names:
        got = results.get(name)
        if got is None:
            continue  # the op raised; it is already counted as failed
        oracle = REGISTRY[name].oracle
        if oracle is None:
            if len(got) == 0:
                run.fail(name, "no oracle and no rows")
            continue
        problems = compare(_Frame(got), _Frame(con.sql(oracle).df()), name)
        if problems:
            run.fail(name, "; ".join(problems[:3]))
    con.close()


# ---------------------------------------------------- warehouse_ingest

@dataclass
class Ingest:
    """One warehouse and what the generator put into it."""
    wh: object
    store: object
    expected: dict[str, int] = field(default_factory=lambda: dict.fromkeys(TX_TABLES, 0))
    merged: list[str] = field(default_factory=list)
    deleted: list[str] = field(default_factory=list)
    updated: list[str] = field(default_factory=list)
    live: list[str] = field(default_factory=list)
    lookups: list[tuple[str, list]] = field(default_factory=list)
    counts: dict[str, int] = field(default_factory=dict)
    files_read: int = 0
    files_total: int = 0


def open_warehouse(spark, root: Path) -> Ingest:
    from zolo_spark.state import WatermarkStore
    from zolo_spark.warehouse import Warehouse

    wh = Warehouse(spark, str(root / "wh"),
                   bloom_cols={"square_trans": ["payment_id"]})
    return Ingest(wh, WatermarkStore(str(root / "config.yml")))


def empty_warehouse(spark, root: Path) -> Path:
    """A warehouse holding only the reference tables; each workload
    warehouse starts as a copy of it. The ETL commits create the
    transaction tables."""
    from zolo_spark.pipelines import ref_tables

    wh = open_warehouse(spark, root).wh
    root.mkdir()
    items_csv, profiles_csv = datagen.ref_csvs()
    (root / "items.csv").write_text(items_csv)
    (root / "coffee_profiles.csv").write_text(profiles_csv)
    ref_tables.load_ref_tables(spark, wh, str(root / "items.csv"),
                               str(root / "coffee_profiles.csv"))
    return root


def ingest_window(run: Run, spark, ing: Ingest, payloads: dict,
                  rng: random.Random) -> list[Op]:
    """ETL the window's payloads, apply a CDC correction, look keys up."""
    from pyspark.sql import functions as F

    from tests import fixtures
    from zolo_spark.pipelines import quickbooks_etl, shopify_etl, square_etl

    wh, store = ing.wh, ing.store
    sq, sh, qb = payloads["square"], payloads["shopify"], payloads["qb"]
    keys = [p["payment_id"] for p in sq]
    picked = rng.sample(keys, N_MERGE + N_DELETE + N_UPDATE)
    merge_k = picked[:N_MERGE]
    delete_k = picked[N_MERGE:N_MERGE + N_DELETE]
    update_k = picked[N_MERGE + N_DELETE:]
    in_list = lambda ks: ", ".join(f"'{k}'" for k in ks)  # noqa: E731

    def etl_square(span):
        square_etl.run(spark, wh, store, lambda s, e: fixtures.square_fetcher(
            sq, page_size=100), transactional=True)

    def etl_shopify(span):
        shopify_etl.run(spark, wh, store, lambda s, e: fixtures.count_page_fetchers(
            sh, shopify_etl.PAGE_SIZE), transactional=True)

    def etl_qb(span):
        quickbooks_etl.run(spark, wh, store, lambda s, e: fixtures.start_position_fetchers(
            qb, quickbooks_etl.PAGE_SIZE), transactional=True)

    def merge(span):
        updates = (wh.read_committed_tx("square_trans")
                   .filter(F.col("payment_id").isin(merge_k))
                   .withColumn("tendered_cash", F.lit(MERGE_CASH)))
        wh.merge_tx("square_trans", updates, ["payment_id"], mode="mor")

    def delete(span):
        wh.delete_tx("square_trans", f"payment_id IN ({in_list(delete_k)})",
                     keys=["payment_id"], mode="mor")

    def update(span):
        wh.update_tx("square_trans", {"market": f"'{UPDATE_MARKET}'"},
                     f"payment_id IN ({in_list(update_k)})", mode="cow")

    ops = [run.op("square_etl.run", "write", etl_square),
           run.op("shopify_etl.run", "write", etl_shopify),
           run.op("quickbooks_etl.run", "write", etl_qb),
           run.op("merge_tx", "write", merge),
           run.op("delete_tx", "write", delete),
           run.op("update_tx", "write", update)]
    ing.expected["square_trans"] += len(sq) - N_DELETE
    ing.expected["square_trans_details"] += sum(len(p["itemizations"]) for p in sq)
    ing.expected["shopify_trans"] += len(sh)
    ing.expected["shopify_trans_details"] += sum(len(o["line_items"]) for o in sh)
    ing.expected["qb_trans"] += len(qb)
    ing.expected["qb_trans_details"] += sum(
        1 for i in qb for ln in i["Line"] if ln["Id"] is not None)
    ing.merged += merge_k
    ing.deleted += delete_k
    ing.updated += update_k
    gone = set(delete_k)
    ing.live += [k for k in keys if k not in gone]

    for key in rng.sample(ing.live, N_LOOKUP):
        def lookup(span, key=key):
            df = wh.point_lookup("square_trans", {"payment_id": key})
            with span("collect", "spark_action"):
                rows = df.collect()
            ing.lookups.append((key, rows))
            read, total = wh.last_point_lookup
            ing.files_read += read
            ing.files_total += total
        ops.append(run.op("point_lookup", "read", lookup))
    return ops


def weekly_demand_df(wh):
    from zolo_spark.ops import relational

    return relational.weekly_demand(
        *[wh.read_committed_tx(t) for t in TX_TABLES],
        wh.read("items"), wh.read("coffee_profiles"), since="2017-10-01")


def final_reads(run: Run, ing: Ingest) -> list[Op]:
    ops = []
    counts: dict[str, int] = {}
    for t in TX_TABLES:
        def scan(span, t=t):
            df = ing.wh.read_committed_tx(t)
            with span("count", "spark_action"):
                counts[t] = df.count()
        ops.append(run.op(f"read_committed_tx:{t}", "read", scan))

    def demand(span):
        df = weekly_demand_df(ing.wh)
        with span("noop_write", "spark_action"):
            df.write.format("noop").mode("overwrite").save()
    ops.append(run.op("weekly_demand", "read", demand))
    ing.counts = counts
    return ops


def warehouse_workload(run: Run, spark) -> None:
    windows = max(1, round(run.args.seconds / PASS_SECONDS["warehouse_ingest"]))
    t0 = time.perf_counter()
    payloads = [datagen.warehouse_window(run.args.seed, w, N_SQUARE, N_SHOPIFY, N_QB)
                for w in range(windows)]
    run.gen_s += time.perf_counter() - t0
    empty = empty_warehouse(spark, run.work / "empty")
    roots = iter(range(1_000))

    def prepare() -> Ingest:
        root = run.work / f"wh{next(roots)}"
        shutil.copytree(empty, root)
        return open_warehouse(spark, root)

    def body(ing: Ingest) -> list[Op]:
        rng = random.Random(run.args.seed)
        ops = [op for p in payloads for op in ingest_window(run, spark, ing, p, rng)]
        return ops + final_reads(run, ing)

    ing = run.timed_phases(prepare, body)["main"]
    details = [ing.wh.describe_detail(t) for t in TX_TABLES]
    run.extra["warehouse.live_dvs"] = sum(d["num_live_dvs"] for d in details)
    run.extra["warehouse.num_files"] = sum(d["num_files"] for d in details)
    run.extra["warehouse.lookup_files_read_ratio"] = ing.files_read / ing.files_total
    check_warehouse(run, ing)


def check_warehouse(run: Run, ing: Ingest) -> None:
    from pyspark.sql import functions as F

    wh = ing.wh
    for t in TX_TABLES:
        got = ing.counts.get(t)
        if got != ing.expected[t]:
            run.fail(f"read_committed_tx:{t}",
                     f"{got} committed rows, generator made {ing.expected[t]}")
    sq = wh.read_committed_tx("square_trans")
    rows = {r["payment_id"]: r for r in sq.filter(F.col("payment_id").isin(
        ing.merged + ing.deleted + ing.updated)).collect()}
    for k in ing.deleted:
        if k in rows:
            run.fail("delete_tx", f"deleted key {k} still present")
    for k in ing.merged:
        if k not in rows or rows[k]["tendered_cash"] != MERGE_CASH:
            run.fail("merge_tx", f"key {k} lacks the merged tendered_cash")
    for k in ing.updated:
        if k not in rows or rows[k]["market"] != UPDATE_MARKET:
            run.fail("update_tx", f"key {k} lacks the updated market")
    want: dict[str, list] = {}
    for r in sq.filter(F.col("payment_id").isin([k for k, _ in ing.lookups])).collect():
        want.setdefault(r["payment_id"], []).append(tuple(r))
    for key, got in ing.lookups:
        if sorted(map(tuple, got)) != sorted(want.get(key, [])):
            run.fail("point_lookup", f"key {key}: {len(got)} rows, "
                     f"filter gives {len(want.get(key, []))}")
    n = weekly_demand_df(wh).count()
    if n == 0:
        run.fail("weekly_demand", "no rows")
    leftover = wh.vacuum_uncommitted_tx(TX_TABLES)
    if leftover != 0:
        run.fail("vacuum_uncommitted_tx", f"removed {leftover} staged batches")

    # storage: bytes under the warehouse root over the live rows written once
    fresh = run.work / "fresh"
    for t in TX_TABLES:
        wh.read_committed_tx(t).coalesce(1).write.parquet(str(fresh / t))
    for t in ("items", "coffee_profiles"):
        wh.read(t).coalesce(1).write.parquet(str(fresh / t))
    data = lambda p: sum(f.stat().st_size for f in p.rglob("*.parquet"))  # noqa: E731
    run.extra["warehouse.storage_bytes_per_user_byte"] = dir_bytes(Path(wh.root)) / data(fresh)


# ----------------------------------------------------------------- main

END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
WAREHOUSE_LAYER = {"warehouse.write_p50_s": "s", "warehouse.read_p50_s": "s",
                   "warehouse.storage_bytes_per_user_byte": "ratio",
                   "warehouse.lookup_files_read_ratio": "ratio",
                   "warehouse.live_dvs": "count", "warehouse.num_files": "count"}


def layer_unit(name: str) -> str:
    metric = name.rsplit(".", 1)[-1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric == "bytes_written":
        return "bytes"
    return "count"


def per_layer_metrics(run: Run) -> dict[str, tuple[float, str]]:
    events = spans.read_event_log(str(run.work / "eventlog"))
    layer = spans.reduce(run.tracer.spans, events)
    out = {k: (v, layer_unit(k)) for k, v in layer.items()}
    extra = dict(run.extra)
    out["op_p50_s"] = (statistics.median(o.seconds for o in run.ops), "s")
    if run.args.workload == "warehouse_ingest":
        for kind in ("read", "write"):
            extra[f"warehouse.{kind}_p50_s"] = statistics.median(
                o.seconds for o in run.ops if o.kind == kind)
    for k, unit in WAREHOUSE_LAYER.items():
        out[k] = (float(extra.get(k, 0.0)), unit)
    out["trace_overhead_ratio"] = (extra["trace_overhead_ratio"], "ratio")
    residuals = spans.op_residuals(run.tracer.spans)
    worst = max((abs(r) for r in residuals.values()), default=0.0)
    if worst > 1e-6:
        run.fail("trace", f"op self times miss the op wall by {worst:.3g} s")
    return out


def process_start() -> float:
    """Wall-clock time this process started, from ``/proc``."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def end_to_end_metrics(run: Run, peak_kb: int) -> dict[str, tuple[float, str]]:
    setup = run.setup_end - process_start() - run.gen_s
    m = {"setup_s": setup, "wall_s": run.wall, "peak_rss_mb": peak_kb / 1024}
    return {k: (v, END_TO_END[k]) for k, v in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="zolo_spark repository benchmark")
    ap.add_argument("--workload", required=True,
                    choices=sorted(PASS_SECONDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "zolo_spark" / "__init__.py").is_file():
        print(f"perfbench: no zolo_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".bench_build" / "perfbench" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.chdir(work)

    run = Run(args, work)
    try:
        if args.workload != "warehouse_ingest":
            t0 = time.perf_counter()
            datagen.write_tables(str(work / "tables"), args.seed)
            run.gen_s = time.perf_counter() - t0
        if args.trace:
            run.tracer = spans.Tracer()
            spans.instrument(run.tracer)
        with RssSampler() as rss:
            spark = start_session(run)
            if args.trace:
                run.tracer.enable(False)
            try:
                if args.workload == "warehouse_ingest":
                    warehouse_workload(run, spark)
                else:
                    registry_workload(run, spark, ANALYST_QUERIES)
            finally:
                stop_session(spark)
        for op in run.ops:
            if op.error:
                run.fail(op.name, f"raised {op.error}")
        metrics = (per_layer_metrics(run) if args.trace
                   else end_to_end_metrics(run, rss.peak_kb))
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = {name for name, _ in run.failures}
    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if o.name in failed_ops)
    if run.failures and failed == 0:  # a check that names no timed op
        failed = 1
    for name, (value, unit) in metrics.items():
        print(f"{name:45s} {value:16.6f} {unit}")
    print(f"{'failed_op_ratio':45s} {failed / attempted:16.6f} ratio "
          f"({failed} of {attempted} ops)")
    for name, why in run.failures:
        print(f"FAILED {name}: {why}")
    print(json.dumps({
        "correct": not run.failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
