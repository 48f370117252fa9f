#!/usr/bin/env python3
"""End-to-end benchmark of the product pipeline's batch job.

One run, in a fresh process: generate the inputs from the seed, start
the Spark session, run one refresh op (full or incremental, by
workload) and check the tables it wrote against the DuckDB replay of the
reference dataflow. ``--trace 1`` makes the op with a span around each
layer's output and adds ingest, the served dashboard (one closed-loop
client for ``--seconds``) and a few operator headline queries. The last
stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
perfbench/README.md says why the workloads and metrics are these.

    python3 perfbench/run.py --workload full_refresh --seed 42 --seconds 5 --trace 0
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ProcessPoolExecutor, ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = ROOT / ".perfbench_work"

# Posture, pinned so that neither the host's free RAM nor the caller's
# environment moves the numbers: 4 local cores, a 2 GiB driver heap, the
# engine's batch defaults (AQE on, shuffle partitions = cores, no table
# or plan cache).
CPUS = 4
DRIVER_MEM = "2g"
POSTURE_ENV = ("SPARK_GRAFT_AQE", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
               "SPARK_GRAFT_CACHE_TABLES", "SPARK_GRAFT_PLAN_CACHE",
               "SPARK_GRAFT_TEXT_ARROW")
SETUP_REPEATS = 3
CLIENTS = 1
FRESH_SHARE = 0.1  # share of price rows newer than the incremental cut


@dataclass(frozen=True)
class Shape:
    n_locations: int
    n_products: int
    n_prices: int
    payload_locations: int
    payload_products: int


# The bench tier of FIXTURES.md (300 locations, 10,000 products, 600,000
# price rows) with locations and price rows cut to a tenth, so that the
# runs of a full comparison fit in an hour (perfbench/README.md, "Time
# budget"). Price rows per possible (product, location) key stay at the
# bench tier's 1 in 5, so a similar share of them is superseded by a
# later row of their key; the posture stamp gives the share measured on
# each run's input. Payloads are a tenth of 1,000 locations and 100,000
# products.
SHAPE = Shape(n_locations=30, n_products=10_000, n_prices=60_000,
              payload_locations=100, payload_products=10_000)

# workload -> refresh kind of its op (perfbench/README.md says why)
WORKLOADS = {"full_refresh": "full", "incremental_refresh": "incremental"}


@dataclass
class Inputs:
    raw_dir: Path
    since: str
    stage_dir: Path


def generate_raw(raw_dir: Path, shape: Shape, seed: int) -> tuple[float, float]:
    """Write the raw tables; return the wall and CPU seconds it took."""
    from product_data_pipelining_spark.sources import synthetic

    t, c = time.perf_counter(), own_cpu_s()
    synthetic.write_raw_tables(str(raw_dir), seed, shape.n_locations,
                               shape.n_products, shape.n_prices)
    return time.perf_counter() - t, own_cpu_s() - c


def make_inputs(root: Path, shape: Shape, seed: int) -> tuple[Inputs, list[float], list[float]]:
    """Generate the raw tables ``SETUP_REPEATS`` times, side by side in
    forked worker processes (the same seed gives the same bytes), and
    keep the last copy; return the inputs and the wall and CPU seconds
    of each generation."""
    dirs = [root / f"raw{k}" for k in range(SETUP_REPEATS)]
    # fork, not spawn: spawn leaves a resource-tracker process running
    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(SETUP_REPEATS, mp_context=ctx) as pool:
        times = list(pool.map(generate_raw, dirs, [shape] * len(dirs), [seed] * len(dirs)))
    for d in dirs[:-1]:
        shutil.rmtree(d)
    from product_data_pipelining_spark.sources import synthetic

    # price row i is fetched at BASE_TS + i seconds
    cut = synthetic.BASE_TS + timedelta(seconds=int(shape.n_prices * (1 - FRESH_SHARE)))
    inputs = Inputs(dirs[-1], cut.isoformat(timespec="seconds"), root / "stage")
    return inputs, [w for w, _ in times], [c for _, c in times]


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*")
               if f.is_file() and not f.name.startswith((".", "_")))


def parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    files = [path] if path.is_file() else sorted(path.glob("*.parquet"))
    return sum(pq.read_metadata(f).num_rows for f in files)


def superseded_share(raw_dir: Path) -> float:
    """Share of raw price rows that a later row of their key replaces."""
    import pyarrow.parquet as pq
    from product_data_pipelining_spark.models import runner

    keys = list(runner._LOAD_SPEC["raw_product_prices"][0])
    t = pq.read_table(raw_dir / "raw_product_prices.parquet", columns=keys)
    return 1 - t.group_by(keys).aggregate([]).num_rows / t.num_rows


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the JVM it started.

    Unlike wall time, this leaves out time the host gave to other
    tenants of the machine (CPU steal)."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        utime, stime = f.read().rsplit(")", 1)[1].split()[11:13]
    return (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK") + own_cpu_s()


def own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus the JVM it started."""
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    log(f"peak rss: jvm {jvm_kb / 1024:.0f} MB, python {py_kb / 1024:.0f} MB")
    return (jvm_kb + py_kb) / 1024


def start_spark(work: Path):
    from product_data_pipelining_spark.session import get_spark

    return get_spark(app_name="perfbench", cpus=CPUS, extra_conf={
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def feed_rows(inputs: Inputs, fresh_only: bool) -> int:
    """Raw feed rows, or only those newer than the incremental cut."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from product_data_pipelining_spark.models import runner

    n = 0
    for name in runner.RAW_TABLES:
        ts = pq.read_table(inputs.raw_dir / f"{name}.parquet", columns=["fetched_at"])[0]
        if fresh_only:
            cut = pa.scalar(datetime.fromisoformat(inputs.since), type=ts.type)
            n += pc.sum(pc.greater(ts, cut)).as_py() or 0
        else:
            n += len(ts)
    return n


class Run:
    """One benchmark run; collects metrics, counts and check failures."""

    def __init__(self, args, work: Path):
        self.args = args
        self.kind = WORKLOADS[args.workload]
        self.work = work
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.stamp: dict = {}
        self.conf: dict = {}
        self.payloads: dict[str, str] = {}

    def execute(self) -> dict:
        # set-up, in CPU seconds: the median of three input generations,
        # then this process and its JVM through session start (with the
        # snapshot seeding on incremental_refresh). The inputs come first,
        # while this process has no threads to fork. The op is then the
        # first Spark work in a fresh JVM, as for a scheduled batch job:
        # it pays class loading, JIT and code generation.
        inputs, gen_s, gen_cpu = make_inputs(self.work / "input", SHAPE, self.args.seed)
        self.inputs = inputs

        import refresh
        from spans import Tracer

        out_dir = self.work / "out"
        if self.kind == refresh.INCREMENTAL:
            refresh.seed_snapshots(inputs, out_dir)
        t0 = time.perf_counter()
        spark = start_spark(self.work)
        session_s = time.perf_counter() - t0
        try:
            tr = Tracer(spark, bool(self.args.trace))
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            # the op's posture (the traced run's headline queries change it)
            self.conf = {k: spark.conf.get(f"spark.sql.{c}") for k, c in (
                ("aqe", "adaptive.enabled"), ("shuffle_partitions", "shuffle.partitions"))}
            setup_cpu = statistics.median(gen_cpu) + cpu_s(jvm_pid)
            self.e2e["setup_s"] = (setup_cpu, "s")
            self.layer["session.start_s"] = (session_s, "s")
            self.layer["synthetic.generate_s"] = (statistics.median(gen_s), "s")
            snap_rows = sum(parquet_rows(p) for p in out_dir.glob("snap_*"))

            self.attempted += 1
            t, cpu = time.perf_counter(), cpu_s(jvm_pid)
            try:
                if self.args.trace:
                    m = refresh.refresh_op_traced(spark, tr, self.kind, inputs, out_dir)
                else:
                    m = refresh.refresh_op(spark, self.kind, inputs, out_dir)
            except Exception:
                traceback.print_exc()
                self.failed += 1
                self.problems.append("refresh op raised")
                return self.result(spark, tr)
            wall = time.perf_counter() - t
            self.e2e["refresh_cpu_s"] = (cpu_s(jvm_pid) - cpu, "s")
            # memory of the batch job itself, before the checks load theirs
            self.layer["jvm.peak_rss_mb"] = (rss_mb(jvm_pid), "MB")
            log(f"setup {session_s:.1f}s wall, {setup_cpu:.1f} cpu-s; refresh {wall:.1f}s wall, "
                f"{self.e2e['refresh_cpu_s'][0]:.1f} cpu-s")
            self.e2e["stored_bytes_ratio"] = (
                tree_bytes(out_dir) / tree_bytes(inputs.raw_dir), "ratio")

            if self.args.trace:
                self.trace_layers(spark, tr, m, out_dir, snap_rows)
            else:
                # output checks, untimed (the traced run makes them
                # beside its untimed input generation)
                t = time.perf_counter()
                self.problems += refresh.check_models(
                    spark, m, inputs.raw_dir, refresh.TABLE_CHECKS)
                log(f"checks {time.perf_counter() - t:.1f}s")
            return self.result(spark, tr)
        finally:
            stop_spark(spark)

    def trace_layers(self, spark, tr, m, out_dir: Path, snap_rows: int) -> None:
        """Per-layer metrics of the traced run: the refresh spans, payload
        ingest, the dashboard served over HTTP to one closed-loop client
        for ``--seconds`` and the same work called directly, then the
        operator headline queries (headline.py)."""
        from product_data_pipelining_spark.models import runner, serving, serving_http
        from product_data_pipelining_spark.sources import ingest, synthetic

        import headline
        import refresh
        import serve

        inputs = self.inputs
        self.payloads = synthetic.write_payload_fixtures(
            str(self.work / "payloads"), self.args.seed,
            SHAPE.payload_locations, SHAPE.payload_products)
        flat_dir = self.work / "flat"
        with tr.span("ingest.flatten", "ingest"):
            refresh.flatten(spark, self.payloads, flat_dir)
        with serving_http.DashboardServer(m) as server:
            samples = serve.run_clients(server.port, CLIENTS, self.args.seconds)
        self.attempted += samples.attempted
        self.failed += samples.failed
        self.problems += samples.errors[:5]
        for name, df in runner.dashboard_queries(m).items():
            with tr.span(f"dashboard.{name}", "serve"):
                refresh.noop(df)
        # what the handlers do, without HTTP: chart frame + collect + JSON
        # body, and the page render
        direct_ms = []
        for name in serve.CHARTS:
            t = time.perf_counter()
            with tr.span(f"serving.chart.{name}", "serve"):
                serving_http._frame_json(serving_http.CHART_QUERIES[name](m))
            direct_ms.append((time.perf_counter() - t) * 1000)
        with tr.span("serving.page", "serve"):
            serving.dashboard_html(m)

        def count_payloads() -> dict[str, int]:
            return {
                "locations": ingest.read_location_payloads(
                    spark, self.payloads["locations_payload"]).count(),
                "products": ingest.read_product_payloads(
                    spark, self.payloads["products_payload"]).count(),
            }

        # untimed and outside any span: the checks and the payload row
        # counts run beside the generation of the headline queries' input
        sf_dir = self.work / "sf"
        t = time.perf_counter()
        with ThreadPoolExecutor(3) as pool:
            checks = [pool.submit(refresh.check_models, spark, m, inputs.raw_dir,
                                  refresh.TABLE_CHECKS + refresh.DASHBOARD_CHECKS),
                      pool.submit(serve.check_bodies, m, samples.bodies)]
            counted = pool.submit(count_payloads)
            headline.generate(spark, sf_dir, self.args.seed)
            for c in checks:
                self.problems += c.result()
            payload_rows = counted.result()
        log(f"checks + headline input {time.perf_counter() - t:.1f}s")
        self.problems += headline.run(spark, tr, sf_dir)
        tr.resolve(spark)

        kind, L = self.kind, self.layer

        def one(name):
            (s,) = [s for s in tr.spans if s.name == name]
            return s

        L["trace.refresh_s"] = (one("refresh").seconds, "s")
        L["trace.refresh_cpu_s"] = (self.e2e["refresh_cpu_s"][0], "s")
        flat = one("ingest.flatten")
        L["ingest.flatten_s"] = (flat.self_seconds, "s")
        L["ingest.jobs"] = (flat.jobs, "count")
        L["ingest.rows_in"] = (sum(payload_rows.values()), "count")
        L["ingest.keep_ratio"] = (
            parquet_rows(flat_dir / "prices") / payload_rows["products"], "ratio")
        up = tr.select(kind, "upsert.")
        L["upsert.time_s"] = (sum(s.self_seconds for s in up), "s")
        L["upsert.stages"] = (sum(s.stages for s in up), "count")
        if kind == refresh.FULL:
            written = [inputs.stage_dir / n for n in runner.RAW_TABLES]
            rows_in = feed_rows(inputs, fresh_only=False)
        else:
            written = [out_dir / f"snap_{n}" for n in runner.RAW_TABLES]
            rows_in = snap_rows + feed_rows(inputs, fresh_only=True)
        L["upsert.keep_ratio"] = (sum(parquet_rows(p) for p in written) / rows_in, "ratio")
        L["upsert.bytes_written"] = (sum(tree_bytes(p) for p in written), "bytes")
        for name in refresh.STAGING:
            L[f"staging.{name}_s"] = (one(f"staging.{name}").self_seconds, "s")
        for name in refresh.MARTS:
            L[f"marts.{name}_s"] = (one(f"marts.{name}").self_seconds, "s")
        L["marts.stages"] = (sum(s.stages for s in tr.select(kind, "marts.")), "count")
        L["marts.bytes_written"] = (
            sum(tree_bytes(out_dir / n) for n in refresh.MARTS), "bytes")
        dash = tr.select("serve", "dashboard.")
        for s in dash:
            L[f"{s.name}_s"] = (s.self_seconds, "s")
        L["dashboard.jobs"] = (sum(s.jobs for s in dash), "count")
        page = one("serving.page")
        L["serving.page_s"] = (page.seconds, "s")
        L["serving.page_jobs"] = (page.jobs, "count")
        L["http.chart_p50_ms"] = (statistics.median(samples.chart_ms), "ms")
        L["http.page_p50_ms"] = (statistics.median(samples.page_ms), "ms")
        L["http.overhead_ms"] = (
            statistics.median(samples.chart_ms) - statistics.median(direct_ms), "ms")
        L["http.chart_samples"] = (len(samples.chart_ms), "count")
        L.update(headline.metrics(tr))

    def result(self, spark, tr) -> dict:
        self.e2e["ok_ratio"] = (
            (self.attempted - self.failed) / max(self.attempted, 1), "ratio")
        self.stamp = self.posture(spark)
        if tr.enabled:
            self.write_trace(tr)
        for p in self.problems:
            print(f"# check failed: {p}", file=sys.stderr)
        metrics = self.layer if self.args.trace else self.e2e
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def posture(self, spark) -> dict:
        """What a reader needs to reproduce the numbers."""
        sys.path.insert(0, str(ROOT / "scripts"))
        from _provenance import provenance

        from product_data_pipelining_spark.models import runner

        raw = self.inputs.raw_dir
        stamp = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "nproc": os.cpu_count(), "cpus": CPUS, "driver_memory": DRIVER_MEM,
            **self.conf, "table_cache": False, "plan_cache": False, "clients": CLIENTS,
            "shape": vars(SHAPE), "fresh_share": FRESH_SHARE, "since": self.inputs.since,
            "input_rows": {n: parquet_rows(raw / f"{n}.parquet") for n in runner.RAW_TABLES},
            "input_bytes": tree_bytes(raw),
            "price_rows_superseded": superseded_share(raw),
        }
        if self.args.trace:
            import headline

            stamp["payload_bytes"] = sum(os.path.getsize(p) for p in self.payloads.values())
            stamp["headline"] = {"sf": headline.SF, "queries": headline.QUERIES,
                                 "repeats": headline.REPEATS, "aqe": False,
                                 "table_cache": True, "plan_cache": True}
        return {**stamp, **provenance()}

    def write_trace(self, tr) -> None:
        out = WORK_ROOT / "traces"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json"
        path.write_text(json.dumps({"posture": self.stamp, "spans": tr.records()}, indent=1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "product_data_pipelining_spark").is_dir():
        print(f"no engine package beside {Path(__file__).parent}", file=sys.stderr)
        return 2

    work = WORK_ROOT / f"{args.workload}-seed{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    for var in POSTURE_ENV:
        os.environ.pop(var, None)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ.update({
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LAUNCHER_OPTS": jvm_opts,  # spark-submit's command-builder JVM
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
    })
    sys.path.insert(0, str(ROOT))
    run = Run(args, work)
    try:
        result = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("# posture " + json.dumps(run.stamp))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
