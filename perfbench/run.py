"""End-to-end benchmark of erpl_web_spark's web-API path.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {odata_mix,headline} \
        --seed N --seconds S --trace {0,1} [--scale 0.1]

One run sets up ``SETUP_REPS`` times (first: loopback service child
process, JVM and Spark session on ``local[<cpus>]``, data-source
registration, one warm-up operation; later: a new SparkContext in the
running JVM, registration, warm-up), verifies the workload's results once
against DuckDB, then runs a closed loop with one client: whole decks of
operations until ``--seconds`` is reached to the nearest half deck. The
seed draws the query parameters and the order of operations; the data
(``perfbench/datagen.py``, generated on the first run under
``perfbench/.data``) is fixed. See ``perfbench/README.md`` for
the workloads, the metrics and which layer metric should move which
end-to-end metric.

The last line of stdout is one JSON object::

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics
for ``--trace 1``. A traced run alternates untraced and traced decks
(``trace.overhead_frac`` compares the two) and writes its spans to
``perfbench/.out/`` when it ends.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import urllib.request  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 2
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "wall_s": "s", "rows_per_s": "rows/s"}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="erpl_web_spark web-API benchmark")
    ap.add_argument("--workload", required=True, choices=["odata_mix", "headline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=0.1, help="data scale factor (0.1 = sf0.1)")
    ap.add_argument("--plant-mismatch", action="store_true",
                    help="corrupt the first expected result (self-test of the checks)")
    return ap.parse_args(argv)


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its live descendants."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                rss[int(name)] = int(fh.read().split()[1]) * page
        except (OSError, IndexError):
            continue
        parent[int(name)] = int(stat[stat.rfind(")") + 2:].split()[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class RssSampler(threading.Thread):
    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.stopped = threading.Event()

    def run(self) -> None:
        while not self.stopped.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self.stopped.wait(self.interval)

    def stop(self) -> int:
        self.stopped.set()
        self.join(timeout=5)
        return self.peak


# ---------------------------------------------------------------------------
# Loopback service (child process)
# ---------------------------------------------------------------------------


class ServiceProc:
    def __init__(self, data_dir: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "service.py"), data_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.url = ""

    def wait_ready(self) -> None:
        """Block until the child listens (it loads while Spark starts)."""
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.stop()
            raise RuntimeError(f"service failed to start: {line!r}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.url + path, timeout=30) as r:
            return json.loads(r.read())

    def stats(self) -> dict:
        return self._get("/_stats")

    def spans(self) -> list:
        return self._get("/_spans")

    def stop(self) -> None:
        if self.proc.stdin:
            self.proc.stdin.close()
        try:
            self.proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


# ---------------------------------------------------------------------------
# Spark
# ---------------------------------------------------------------------------


def start_spark():
    from erpl_web_spark.odata import datasource as odata_ds
    from erpl_web_spark.session import get_spark
    from erpl_web_spark.sources import rest

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    odata_ds.ensure_registered(spark)
    rest.ensure_registered(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Context:
    """What workloads need: the session, the service and the oracle."""

    def __init__(self, args, data_dir: str, oracle):
        self.seed = args.seed
        self.data_dir = data_dir
        self.oracle = oracle
        self.plant = args.plant_mismatch
        self.headline_rows: dict[str, int] = {}
        self.orders_rows = oracle.rows("SELECT COUNT(*) FROM orders")[0][0]
        self.spark = self.service = None
        self.service_url = self.odata_url = ""

    def attach(self, spark, service: ServiceProc) -> None:
        self.spark, self.service = spark, service
        self.service_url = service.url
        self.odata_url = service.url + "/odata"

    def expect(self, value):
        """An expected result; with --plant-mismatch the first is made wrong."""
        if self.plant:
            self.plant = False
            return ("planted-mismatch", value)
        return value


# ---------------------------------------------------------------------------
# The closed loop
# ---------------------------------------------------------------------------

def run_op(ctx, op, index: int, scraper) -> dict:
    sc = ctx.spark.sparkContext
    group = f"op-{index}"
    sc.setJobGroup(group, f"{op.kind} {op.label}")
    before = ctx.service.stats()
    w0 = time.time()
    t0 = time.perf_counter()
    result, error = None, None
    t1 = t0
    try:
        df = op.build()
        t1 = time.perf_counter()
        result = op.action(df)
    except Exception as exc:  # a failed operation is counted, the loop goes on
        error = f"{type(exc).__name__}: {exc}"
    t2 = time.perf_counter()
    after = ctx.service.stats()
    delta = {k: v - before[k] for k, v in after.items() if k != "collect"}
    ok = False
    if error is None:
        try:
            ok = bool(op.check(result, delta))
        except Exception as exc:
            error = f"check {type(exc).__name__}: {exc}"
    if not ok:
        print(f"FAILED {op.kind} {op.label}: {error or 'result mismatch'}", file=sys.stderr)
    rec = {"kind": op.kind, "label": op.label, "build_s": t1 - t0, "action_s": t2 - t1,
           "total_s": t2 - t0, "wall": (w0, w0 + (t2 - t0)), "ok": ok, "rows": op.rows,
           "delta": delta, "traced": scraper is not None}
    if op.kind == "query":
        rec["persists"] = result if isinstance(result, int) else 0
    if scraper is not None:
        rec["jobs"] = scraper.collect(group)
    return rec


def measure(ctx, workload, rng: random.Random, seconds: float, scraper) -> tuple[list[dict], int]:
    """The closed loop: whole decks until ``seconds`` is reached to the
    nearest half deck; with a scraper, every other deck is traced (so a
    traced run runs at least two)."""
    records: list[dict] = []
    decks = 0
    least = 2 if scraper else 1
    start = time.monotonic()
    while decks < least or (time.monotonic() - start) * (1 + 0.5 / decks) < seconds:
        traced = scraper if decks % 2 == 1 else None
        for op in workload.deck(rng):
            records.append(run_op(ctx, op, len(records), traced))
        decks += 1
    return records, decks


def basket_key(rec: dict) -> str:
    return rec["label"] if rec["kind"] == "query" else rec["kind"]


def by_basket(records: list[dict]) -> dict[str, list[dict]]:
    """Records grouped by operation kind (by query for ``headline``)."""
    out: dict[str, list[dict]] = {}
    for r in records:
        out.setdefault(basket_key(r), []).append(r)
    return out


def e2e_metrics(records: list[dict], decks: int, setups: list[float], peak_rss: int) -> dict:
    """``wall_s`` is one deck's time from each operation kind's median
    latency (for ``headline``: the sum of the per-query medians); the loop
    runs whole decks, so the composition is the same for every seed.
    ``rows_per_s`` is the full scan's throughput (rows over the scan
    median) where the deck has scans, else rows per deck over ``wall_s``."""
    baskets = by_basket(records)
    wall = sum(len(rs) / decks * statistics.median(r["total_s"] for r in rs)
               for rs in baskets.values())
    if "scan" in baskets:
        scans = baskets["scan"]
        rows_per_s = scans[0]["rows"] / statistics.median(r["total_s"] for r in scans)
    else:
        rows_per_s = sum(r["rows"] for r in records) / decks / wall
    return {
        "setup_s": statistics.median(setups),
        "peak_rss_mb": peak_rss / 2**20,
        "wall_s": wall,
        "rows_per_s": rows_per_s,
    }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(records: list[dict], service_spans: list, decode_rows_per_s: float) -> tuple[dict, list]:
    """Per-layer metrics of a traced run, and the spans behind them."""
    from sparkstats import intersect, union_length
    from workloads import HEADLINE

    n = len(records)
    traced = [r for r in records if r["traced"]]
    tot = lambda key: sum(r["delta"][key] for r in records)  # noqa: E731
    writes = [r for r in records if r["kind"] == "write"]
    m = {
        "ops.count": n,
        "p50_s": statistics.median(r["total_s"] for r in records),
        "p90_s": statistics.quantiles([r["total_s"] for r in records], n=10)[-1] if n > 1
        else records[0]["total_s"],
        "http.requests_per_op": tot("requests") / n,
        "http.connections_per_op": tot("connections") / n,
        "http.bytes_per_row": tot("bytes_out") / max(tot("rows_out"), 1),
        "http.server_busy_frac": tot("busy_s") / sum(r["total_s"] for r in records),
        "odata.metadata_gets_per_op": tot("metadata_gets") / n,
        "odata.count_probes_per_op": tot("count_probes") / n,
        "rest.posts_per_op": sum(r["delta"]["posts"] for r in writes) / max(len(writes), 1),
        "rest.rows_per_post": tot("post_rows") / max(tot("posts"), 1),
        "datasource.load_s": statistics.median(r["build_s"] for r in records),
        "driver.plan_s": statistics.median(r["action_s"] - r["jobs"].job_s for r in traced),
        "spark.jobs_per_op": _mean(r["jobs"].jobs for r in traced),
        "spark.job_s": _mean(r["jobs"].job_s for r in traced),
        "spark.task_s": _mean(r["jobs"].task_s for r in traced),
        "spark.gc_frac": sum(r["jobs"].gc_s for r in traced)
        / max(sum(r["jobs"].task_s for r in traced), 1e-9),
        "spark.shuffle_bytes": _mean(r["jobs"].shuffle_bytes for r in traced),
        "spark.spill_bytes": _mean(r["jobs"].spill_bytes for r in traced),
        "spark.scan_tasks": _mean(r["jobs"].scan_tasks for r in traced),
        "decode.rows_per_s": decode_rows_per_s,
        "operators.tracked_persists": max((r.get("persists", 0) for r in records), default=0),
    }
    for kind in ("read", "agg", "write", "scan"):
        m[f"spark.jobs_per_{kind}"] = _mean(r["jobs"].jobs for r in traced if r["kind"] == kind)
    medians = {}
    for q in HEADLINE:
        times = [r["total_s"] for r in records if r["label"] == q]
        medians[q] = statistics.median(times) if times else 0.0
        m[f"headline.{q}.jobs"] = _mean(r["jobs"].jobs for r in traced if r["label"] == q)
    basket = sum(medians.values())
    for q in HEADLINE:
        m[f"headline.{q}.wall_frac"] = medians[q] / basket if basket else 0.0

    # Overhead: traced vs untraced operations of the same basket key.
    pairs = []
    for rs in by_basket(records).values():
        on = [r["total_s"] for r in rs if r["traced"]]
        off = [r["total_s"] for r in rs if not r["traced"]]
        if on and off:
            pairs.append((len(on) + len(off), statistics.median(on), statistics.median(off)))
    m["trace.overhead_frac"] = (
        sum(w * a for w, a, _ in pairs) / sum(w * b for w, _, b in pairs) - 1 if pairs else 0.0
    )

    # Self time per layer over the traced operations (see README.md).
    spans, self_t = [], {"load": 0.0, "driver": 0.0, "spark": 0.0, "service": 0.0}
    for i, r in enumerate(traced):
        w0, w1 = r["wall"]
        split = w0 + r["build_s"]
        jobs = r["jobs"].job_intervals
        svc = [(a, b) for a, b, _ in service_spans if b > w0 and a < w1]
        busy = jobs + svc
        self_t["service"] += union_length(svc, w0, w1)
        self_t["spark"] += union_length(jobs, w0, w1) - union_length(intersect(jobs, svc), w0, w1)
        self_t["load"] += (split - w0) - union_length(busy, w0, split)
        self_t["driver"] += (w1 - split) - union_length(busy, split, w1)
        spans.append({"op": i, "name": r["kind"], "label": r["label"], "start": w0, "end": w1})
        spans.append({"op": i, "name": "build", "parent": r["kind"], "start": w0, "end": split})
        spans.append({"op": i, "name": "action", "parent": r["kind"], "start": split, "end": w1})
        for a, b in jobs:
            spans.append({"op": i, "name": "spark_job", "parent": "action", "start": a, "end": b})
        for a, b in svc:
            spans.append({"op": i, "name": "service", "parent": "spark_job", "start": a, "end": b})
    traced_total = sum(r["total_s"] for r in traced) or 1.0
    for layer, t in self_t.items():
        m[f"trace.self_frac.{layer}"] = t / traced_total
    return m, spans


def decode_probe(ctx, seconds: float = 0.5) -> tuple[float, dict]:
    """Time ``decode_rows`` on recorded Orders pages (rows per second)."""
    from erpl_web_spark.odata.json_decode import decode_rows

    schema = ctx.spark.read.format("odata").option("url", f"{ctx.odata_url}/Orders").load().schema
    docs = []
    for skip in range(0, 10_000, 1000):
        url = f"{ctx.odata_url}/Orders?$orderby=o_orderkey&$skip={skip}&$top=1000"
        with urllib.request.urlopen(url, timeout=30) as r:
            docs.append(json.loads(r.read()))
    rates, w0 = [], time.time()
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(rates) < 3:
        t0 = time.perf_counter()
        rows = sum(len(decode_rows(doc, schema)) for doc in docs)
        rates.append(rows / (time.perf_counter() - t0))
    return statistics.median(rates), {"name": "decode_probe", "start": w0, "end": time.time()}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    try:
        import erpl_web_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import erpl_web_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import datagen
    from oracle import DuckOracle
    from sparkstats import JobScraper
    from workloads import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python data-source workers import the package; keep every temp file
    # inside the checkout; UTC so collected timestamps match DuckDB's.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # The package ships an 8g driver heap. Below that cap the JVM grows its
    # heap as GC pressure dictates, and that pressure follows the machine's
    # speed: at 8g the peak RSS of one workload varied by up to 38% between
    # runs, more than any bound allows. The package's own override caps
    # the heap at 2 GiB (the JVM still sizes it below that), so peak RSS
    # cannot show heap growth beyond 2 GiB.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf \"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-XX:-UsePerfData\" --conf spark.ui.showConsoleProgress=false pyspark-shell")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TZ"] = "UTC"
    time.tzset()

    t_gen = time.monotonic()
    data_dir = datagen.ensure(args.scale)
    gen_s = time.monotonic() - t_gen
    oracle = DuckOracle(data_dir, datagen.TABLES)
    ctx = Context(args, data_dir, oracle)
    workload = WORKLOADS[args.workload](ctx)
    sampler = RssSampler()
    sampler.start()

    setups: list[float] = []
    spark = service = None
    try:
        for rep in range(SETUP_REPS):
            t0 = time.monotonic()
            if rep:
                # later set-ups start a new SparkContext (fresh Python
                # workers, registrations and caches) in the running JVM
                # and keep the service
                spark.stop()
                spark = start_spark()
            else:
                service = ServiceProc(data_dir)
                spark = start_spark()
                service.wait_ready()
            ctx.attach(spark, service)
            t1 = time.monotonic()
            workload.warm_up()
            # the first set-up counts from process start, minus data generation
            setups.append(time.monotonic() - (t0 if rep else T_START + gen_s))
            print(f"setup {rep}: session+service {t1 - t0:.2f}s warm-up "
                  f"{time.monotonic() - t1:.2f}s", file=sys.stderr)

        t_v = time.monotonic()
        checks = workload.verify()
        print(f"verify {time.monotonic() - t_v:.2f}s at {time.monotonic() - T_START:.1f}s",
              file=sys.stderr)
        scraper = JobScraper(spark) if args.trace else None
        records, decks = measure(ctx, workload, random.Random(args.seed), args.seconds, scraper)
        if args.trace:
            rate, probe_span = decode_probe(ctx)
            service_spans = service.spans()
    finally:
        if spark is not None:
            stop_spark(spark)
        if service is not None:
            service.stop()
        peak = sampler.stop()
        oracle.close()

    failed = sum(not r["ok"] for r in records) + sum(not ok for ok in checks)
    attempted = len(records) + len(checks)
    if args.trace:
        metrics, spans = layer_metrics(records, service_spans, rate)
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"spans": spans + [probe_span], "service_spans": service_spans}, fh)
        units = layer_units()
    else:
        metrics = e2e_metrics(records, decks, setups, peak)
        units = E2E_UNITS
    summarize(records, setups, args)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def layer_units() -> dict:
    from workloads import HEADLINE

    units = {
        "ops.count": "count", "p50_s": "s", "p90_s": "s", "http.requests_per_op": "count",
        "http.connections_per_op": "count", "http.bytes_per_row": "B",
        "http.server_busy_frac": "frac", "odata.metadata_gets_per_op": "count",
        "odata.count_probes_per_op": "count", "rest.posts_per_op": "count",
        "rest.rows_per_post": "count", "datasource.load_s": "s", "driver.plan_s": "s",
        "spark.jobs_per_op": "count", "spark.job_s": "s", "spark.task_s": "s",
        "spark.gc_frac": "frac", "spark.shuffle_bytes": "B", "spark.spill_bytes": "B",
        "spark.scan_tasks": "count", "decode.rows_per_s": "rows/s",
        "operators.tracked_persists": "count", "trace.overhead_frac": "frac",
    }
    for kind in ("read", "agg", "write", "scan"):
        units[f"spark.jobs_per_{kind}"] = "count"
    for q in HEADLINE:
        units[f"headline.{q}.jobs"] = "count"
        units[f"headline.{q}.wall_frac"] = "frac"
    for layer in ("load", "driver", "spark", "service"):
        units[f"trace.self_frac.{layer}"] = "frac"
    return units


def summarize(records: list[dict], setups: list[float], args) -> None:
    """Human-readable lines before the JSON: medians with sample counts."""
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"setups={[round(s, 3) for s in setups]} loadavg1={os.getloadavg()[0]:.2f}")
    for key, rs in sorted(by_basket(records).items()):
        times = [r["total_s"] for r in rs]
        print(f"#   {key:<28} n={len(times):<4} p50={statistics.median(times):.4f}s "
              f"max={max(times):.4f}s")


if __name__ == "__main__":
    sys.exit(main())
