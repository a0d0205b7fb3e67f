"""The repository's benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--artifact PATH]

Workloads (one closed-loop client, ``local[<cores>]``):

  rtt_backfill      landing CSVs -> lake -> provider/ccg/region/IMD
                    statistics -> ratios -> CSV, as one batch
  catalog_headline  headline catalog queries in a fixed order

Set-up is timed as ``setup_s``: process start, the session and its
first job, and the inputs generated from the seed (made several times,
median taken).  Then whole runs repeat until ``--seconds`` have
passed; every operation's output is checked.  A run is longer than
``--seconds``, so each process measures one run, cold, the way a
scheduled batch job runs it: a fresh JVM pays its code generation and
JIT warm-up on every run.

``--trace 1`` adds an untraced run and then a traced one, and prints
the per-layer metrics instead of the end-to-end ones.  Human-readable
lines come first; the last line of stdout is the JSON result.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("rtt_backfill", "catalog_headline")
SETUP_REPEATS = 3
# Probes of defects known at the time the benchmark was written: they
# are reported and counted in failed_frac, but do not make the run
# incorrect.  A fix turns them to PASS.
#   imd_integer_key      dashboard_stats cannot label an integer geo key
#                        'ENGLAND' (CAST_INVALID_INPUT under ANSI);
#   rate_rounding_order  rates computed as 100 * x / n, not R's
#                        x / n * 100, round the other way at midpoints.
KNOWN_DEFECTS = {"imd_integer_key", "rate_rounding_order"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--artifact", help="also write the result with the host fingerprint, checks and (traced) spans to this JSON file"
    )
    return p.parse_args(argv)


def quantile(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def top_percentile(n: int) -> int | None:
    """Highest percentile with at least ten samples beyond it."""
    return int(100 * (1 - 10 / n)) if n >= 20 else None


class Result:
    """Operation latencies and check outcomes of the measured runs."""

    def __init__(self):
        self.run_s: list[float] = []
        self.op_s: list[float] = []
        self.op_names: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, list[int]] = {}  # name -> [passed, failed]
        self.messages: dict[str, str] = {}

    def op(self, name: str, seconds: float, problems: list[str]) -> None:
        self.attempted += 1
        self.op_s.append(seconds)
        self.op_names.append(name)
        tally = self.checks.setdefault(name, [0, 0])
        tally[bool(problems)] += 1
        if problems:
            self.failed += 1
            self.messages.setdefault(name, problems[0])


def _raised(e: Exception) -> list[str]:
    tb = traceback.format_exception_only(type(e), e)
    return ["raised " + tb[-1].strip().splitlines()[0][:300]]


# -- workloads -------------------------------------------------------------


def make_workload(name: str, spark, tracer, work: str, seed: int):
    if name == "catalog_headline":
        from perfbench.catalog_workload import CatalogHeadline, HEADLINE_QUERIES

        return CatalogHeadline(spark, tracer, work, seed, HEADLINE_QUERIES)
    from perfbench.rtt_workloads import Backfill

    return Backfill(spark, tracer, work, seed)


def timed_run(name: str, wl, res: Result) -> float:
    """One run; records each operation and its output check in ``res``."""
    if name == "catalog_headline":
        t0 = time.perf_counter()
        done = []
        for q in wl.queries:
            tq = time.perf_counter()
            try:
                secs, rows, columns = wl.run_query(q)
            except Exception as e:  # a failing query is counted, the run goes on
                done.append((q, time.perf_counter() - tq, _raised(e), None))
                continue
            done.append((q, secs, None, (rows, columns)))
        run_s = time.perf_counter() - t0
        for q, secs, err, out in done:
            res.op(f"query.{q}", secs, err if err else wl.check(q, *out))
        return run_s
    t0 = time.perf_counter()
    try:
        ops = wl.run_once()
    except Exception as e:  # the whole batch failed: every output is missing
        run_s = time.perf_counter() - t0
        for o in ("ingest",) + wl.OUTPUTS:
            res.op(f"backfill.{o}", run_s, _raised(e))
        return run_s
    run_s = time.perf_counter() - t0
    for o, secs in ops:
        res.op(f"backfill.{o}", secs, wl.check(o))
    return run_s


# -- per-layer metrics -----------------------------------------------------

RTT_EXEC = ("exec_s", "stages", "shuffle_write_bytes", "executor_cpu_ms", "executor_run_ms", "spill_bytes")
RTT_FUNCS = ("provider_stats_exact", "dashboard_stats.ccg", "dashboard_stats.region", "dashboard_stats.imd")
CATALOG_MODULES = ("catalog", "catalog_relational", "catalog_text", "catalog_vector", "catalog_events", "catalog_tpch")


def layer_metrics(tr, runs: int, queries: list[str], query_s: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics, per traced run (0 where a layer did not run)."""

    def t(name: str, attr: str) -> float:
        return tr.total(name, attr) / runs

    m: dict[str, float] = {}
    for f in RTT_FUNCS:
        for c in RTT_EXEC:
            m[f"rtt.{f}.{c}"] = t(f"rtt.{f}.exec", "dur" if c == "exec_s" else c)
    for f in ("prepare_fact",) + RTT_FUNCS[1:]:
        m[f"rtt.{f}.plan_s"] = t(f"rtt.{f}", "dur") + t(f"rtt.{f}.plan", "dur")
    band_rows = t("histogram.wide_to_band_long.exec", "rows_out")
    m["histogram.wide_to_band_long.exec_s"] = t("histogram.wide_to_band_long.exec", "dur")
    m["histogram.wide_to_band_long.rows_out"] = band_rows
    fact_rows = t("rtt.prepare_fact.exec", "rows_out")
    m["histogram.wide_to_band_long.cells_per_fact_row"] = band_rows / fact_rows if fact_rows else 0.0
    m["ingest.build_fact_lake.s"] = t("ingest.build_fact_lake", "self_s")
    m["ingest.build_fact_lake.lake_bytes"] = t("ingest.build_fact_lake", "lake_bytes")
    m["ingest.build_fact_lake.files"] = t("ingest.build_fact_lake", "files")
    m["readers.read_csv_checked.s"] = t("readers.read_csv_checked", "self_s")
    m["lookups.imd_deciles.s"] = t("lookups.imd_deciles", "self_s")
    m["reporting.ratio_started_vs_completed.s"] = t("reporting.ratio_started_vs_completed", "self_s")
    m["edges.write_csv.s"] = t("edges.write_csv", "self_s")
    m["edges.write_csv.bytes"] = t("edges.write_csv", "bytes")
    for mod in CATALOG_MODULES:
        call, exec_, col = f"{mod}.call", f"{mod}.exec", f"{mod}.collect"
        m[f"{mod}.s"] = t(call, "self_s")
        m[f"{mod}.plan_s"] = t(call, "dur") + t(f"{mod}.plan", "dur")
        m[f"{mod}.transfer_s"] = t(col, "transfer_s")
        for c in ("stages", "executor_cpu_ms", "shuffle_write_bytes"):
            m[f"{mod}.{c}"] = t(call, c) + t(exec_, c)
    for q in queries:
        m[f"query.{q}.s"] = query_s.get(q, 0.0)
    return m


# -- main ------------------------------------------------------------------


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from elective_waiting_times_pipeline_spark import get_spark
        from perfbench import host
        from perfbench.catalog_workload import HEADLINE_QUERIES
        from perfbench.trace import Tracer
    except ImportError as e:
        print(f"perfbench: the engine's sources are not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Keep every file the run writes inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(host.cpus()))
    log = host.DriverLog(os.path.join(work, "driver.log"))
    spark = None
    try:
        t = time.perf_counter()
        with log.capture():
            spark = get_spark(app_name="perfbench")
        get_spark_s = time.perf_counter() - t
        # The first job of a JVM loads the scheduler and executor
        # classes; it belongs to starting the session.
        spark.range(1).count()
        session_s = time.perf_counter() - PROCESS_START
        fp = host.fingerprint(spark, ROOT, args.seed)
        print(f"fingerprint {json.dumps(fp, sort_keys=True)}")

        tracer = Tracer(spark, enabled=False)
        prepare_s = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl = make_workload(args.workload, spark, tracer, os.path.join(work, f"setup{i}"), args.seed)
            prepare_s.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(prepare_s)
        print(
            f"setup: session {session_s:.3f} s (get_spark {get_spark_s:.3f} s), inputs median "
            f"{statistics.median(prepare_s):.3f} s of {SETUP_REPEATS} ({', '.join(f'{x:.3f}' for x in prepare_s)})"
        )

        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        res = Result()
        tracer.enabled = bool(args.trace)
        cpu0, steal0, t0 = host.cpu_s() + host.cpu_s(jvm_pid), host.steal_s(), time.perf_counter()
        deadline = time.perf_counter() + args.seconds
        while True:
            res.run_s.append(timed_run(args.workload, wl, res))
            tracer.run_id += 1
            if time.perf_counter() >= deadline:
                break
        cpu1, steal1, t1 = host.cpu_s() + host.cpu_s(jvm_pid), host.steal_s(), time.perf_counter()
        tracer.enabled = False
        # Steal that rises with run_s says the host, not the code, slowed.
        print(f"runs: wall {t1 - t0:.3f} s, driver cpu {cpu1 - cpu0:.3f} s, cpu stolen from this machine {steal1 - steal0:.3f} s")
        run_checks = wl.named_checks()

        per_layer = None
        if args.trace:
            query_s = {}
            for n, s in zip(res.op_names, res.op_s):
                query_s.setdefault(n.removeprefix("query."), []).append(s)
            query_s = {q: statistics.median(v) for q, v in query_s.items()}
            runs = len(res.run_s)
            per_layer = layer_metrics(tracer, runs, HEADLINE_QUERIES, query_s if args.workload == "catalog_headline" else {})
            per_layer["session.get_spark.s"] = get_spark_s
            # The tracing overhead is trace.run_s minus the untraced
            # run_s median.  trace.profile_s bounds it from above: the
            # profile's first execution also compiles the plan, which an
            # untraced run pays in its own action.
            per_layer["trace.run_s"] = statistics.median(res.run_s)
            per_layer["trace.profile_s"] = tracer.profile_s / runs
            print(
                f"traced runs: {runs}, {len(tracer.spans)} spans, trace.run_s {statistics.median(res.run_s):.3f} s "
                f"(tracing overhead = trace.run_s - untraced run_s median), of which profiling and counter reads "
                f"{tracer.profile_s / runs:.3f} s"
            )

        peak_rss_mb = host.vm_hwm_mb() + host.vm_hwm_mb(jvm_pid)
        storage_mb = storage_mem_mb(spark)
        accumulator_errors = log.count("Failed to update accumulator")
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share the parent
            os.rmdir(os.path.dirname(work))

    ops = res.op_s
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "run_s": (statistics.median(res.run_s), "s", len(res.run_s)),
        "op_p50_s": (statistics.median(ops), "s", len(ops)),
        "op_p90_s": (quantile(ops, 0.9), "s", len(ops)),
    }
    for k, (v, unit, n) in e2e.items():
        print(f"{'traced ' if args.trace else ''}metric {k} = {v:.6g} {unit} (n={n})")
    # Peak RSS follows the JVM's heap-sizing decisions more than the
    # code: its run-to-run spread reached 0.26 of the median on a 4-core
    # host, above the largest bound a gated metric may have.  It is
    # printed on every run and gated nowhere; traced runs report it per
    # layer.
    print(f"peak_rss_mb = {peak_rss_mb:.6g} MB (driver JVM + Python, VmHWM)")
    print("operations (s): " + ", ".join(f"{n} {x:.3f}" for n, x in zip(res.op_names, ops)))
    top = top_percentile(len(ops))
    print(
        f"operations: {len(ops)}; highest percentile with 10 samples beyond it: "
        + (f"p{top} = {quantile(ops, top / 100):.6g} s" if top else "none (fewer than 20 samples)")
    )
    print(f"spark.storage_mem_mb = {storage_mb:.3f}; spark.accumulator_update_errors = {accumulator_errors}")
    for check, (ok, bad) in sorted(res.checks.items()):
        msg = f": {res.messages[check]}" if bad else ""
        print(f"check {check}: {'FAIL' if bad else 'PASS'} ({ok} passed, {bad} failed){msg}")
    for check, problems in run_checks.items():
        status = "PASS" if not problems else ("FAIL (known defect)" if check in KNOWN_DEFECTS else "FAIL")
        print(f"check {check}: {status}" + (f": {problems[0]}" if problems else ""))
    bad_runs = sum(bool(p) for p in run_checks.values())
    n = res.attempted + len(run_checks)
    print(
        f"failed_frac = {res.failed + bad_runs}/{n} = {(res.failed + bad_runs) / n:.4f} "
        f"(base: {res.attempted} operations + {len(run_checks)} run-level checks)"
    )
    correct = res.failed == 0 and not any(p for c, p in run_checks.items() if c not in KNOWN_DEFECTS)
    if args.trace:
        per_layer["spark.storage_mem_mb"] = storage_mb
        per_layer["spark.peak_rss_mb"] = peak_rss_mb
        per_layer["spark.accumulator_update_errors"] = float(accumulator_errors)
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit, n) in e2e.items()}
    out = {"correct": correct, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
    if args.artifact:
        with open(args.artifact, "w") as f:
            spans = {"spans": tracer.records()} if args.trace else {}
            json.dump({"fingerprint": fp, "workload": args.workload, "checks": res.checks, **out, **spans}, f, indent=1)
    print(json.dumps(out))
    return 0


def stop_jvm(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = gateway.proc  # the JVM, launched by pyspark and exec'd by spark-submit
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def storage_mem_mb(spark) -> float:
    """Block-manager storage memory in use (cached and checkpointed blocks)."""
    it = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().values().iterator()
    used = 0
    while it.hasNext():
        v = it.next()
        used += v._1() - v._2()
    return used / 2**20


def layer_unit(name: str) -> str:
    c = name.rsplit(".", 1)[-1]
    if c == "s" or c.endswith("_s"):
        return "s"
    if c.endswith("bytes"):
        return "bytes"
    if c.endswith("_ms"):
        return "ms"
    if c.endswith("_mb"):
        return "MB"
    return "ratio" if c == "cells_per_fact_row" else "count"


if __name__ == "__main__":
    sys.exit(main())
