#!/usr/bin/env python3
"""Benchmark of the finmlkit_spark engine through its public entry points.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload paper_pipeline --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 25

One driver process on ``local[<cpus of this host>]`` generates the
workload's inputs from ``--seed``, runs one untimed verification
iteration (collecting every output), then runs timed iterations until
``--seconds`` are used up. Outputs of the verification iteration are
compared with the DuckDB oracle of every query. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The line before
it is a fuller report (host, sample counts, tails, oracle result).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # first statement of the process: setup_s starts here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

# C1 only (see fit_host); no hsperfdata file in /tmp, which is outside the checkout
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
E2E_UNITS = {"setup_s": "s", "cpu_s": "s"}
TIMING_METHOD = (
    "per iteration: wall time (perf_counter) and CPU time of the driver "
    "process tree (/proc) over build + noop-sink execution of every query; "
    "memo_clear + release_all before every iteration; one untimed "
    "verification and one untimed warm iteration; value = median over "
    "timed iterations"
)


# --- host ----------------------------------------------------------------


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live descendant
    (the driver JVM, the Python worker daemon and its workers), children
    they have reaped included. Time the hypervisor steals from this
    guest is not charged to any process, so this moves much less than
    wall time when neighbours load the host."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we were listing
            continue
        stats[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
            todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def fit_host(work: Path) -> dict:
    """Size the session to this host and keep every file Spark and the
    Python workers write inside ``work``. Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = _meminfo_kb("MemTotal") / (1 << 20)
    driver_gb = max(1, min(24, int(mem_gb * 0.4)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # Every run is a fresh JVM with a few seconds of work per iteration:
    # under the default tiered compiler the timed iterations are still in
    # C2 warm-up and a run's median depends on how far warm-up got. With
    # C1 alone iteration times level off within a few iterations.
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""), JVM_OPTIONS, f"-Djava.io.tmpdir={tmp}") if p
    )
    # Python workers import finmlkit_spark from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(0, str(ROOT))
    return {"nproc": cpus, "mem_total_gb": round(mem_gb, 1), "loadavg_before": _loadavg()}


def session_record(spark) -> dict:
    conf = spark.conf
    jvm = spark._jvm
    return {
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "advisory_size": conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
        "driver_memory": conf.get("spark.driver.memory"),
        "spark_version": spark.version,
        "java_version": str(jvm.java.lang.System.getProperty("java.version")),
        "timing_method": TIMING_METHOD,
        "jvm_options": JVM_OPTIONS,
    }


# --- tracing -------------------------------------------------------------


class Tracer:
    """Spans around every call the benchmark makes into the engine, plus
    Spark's own per-operator metrics and job counts for each call span.

    Spans are ``{name, start, end, parent, iteration}`` and stay in memory
    until :meth:`dump`. With ``enabled=False`` every method is a no-op.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counters: list[dict] = []  # one per call span: {iteration, span, metrics}
        self._stack: list[int] = []
        self.reader = None
        self._t0 = time.perf_counter()

    def attach(self, spark) -> None:
        if self.enabled:
            import sparkstats

            self.reader = sparkstats.StatusReader(spark)

    @contextmanager
    def span(self, name: str, iteration: int, call: bool = False):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"name": name, "start": time.perf_counter() - self._t0, "end": None,
               "parent": self._stack[-1] if self._stack else None, "iteration": iteration}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.reader.sc if (call and self.reader) else None
        if sc is not None:
            self.reader.mark()
            sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                metrics = self.reader.since()
                metrics.update(self.reader.jobs(f"perfbench-{sid}"))
                metrics.update(self.reader.cached())
                self.counters.append({"iteration": iteration, "span": sid, "name": name, "metrics": metrics})

    def self_times(self) -> list[float]:
        """Per span: duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def dump(self, path: Path) -> None:
        if not self.enabled:
            return
        selfs = self.self_times()
        spans = [dict(s, self_s=t) for s, t in zip(self.spans, selfs)]
        path.write_text(json.dumps({"spans": spans, "counters": self.counters}))


# --- one iteration ---------------------------------------------------------


class Failures:
    def __init__(self):
        self.attempted = 0
        self.errors: list[str] = []

    def call(self, label: str, fn):
        self.attempted += 1
        try:
            return fn(), True
        except Exception as e:  # a failing call is counted, reported and skipped
            self.errors.append(f"{label}: {type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}")
            return None, False


def run_iteration(spark, wl, sf_dir: str, it: int, tracer: Tracer, fails: Failures, collect: bool = False):
    """Run every query of the workload once. Returns (wall seconds, CPU
    seconds of the process tree, per-query {build_s, exec_s}, collected
    outputs)."""
    from finmlkit_spark import cache, suite
    from finmlkit_spark.sources import tables

    tables.memo_clear()
    cache.release_all()
    per_query: dict[str, dict] = {}
    outputs = {}
    cpu0 = tree_cpu_s(os.getpid())
    t_iter = time.perf_counter()
    with tracer.span(f"iteration:{it}", it):
        for q in wl.queries:
            t0 = time.perf_counter()
            with tracer.span(f"build:{q}", it, call=True):
                df, ok = fails.call(f"build {q}", lambda: suite.QUERIES[q](spark, sf_dir))
            t1 = time.perf_counter()
            if ok:
                with tracer.span(f"exec:{q}", it, call=True):
                    if collect:
                        out, ok = fails.call(f"collect {q}", df.toPandas)
                        if ok:
                            outputs[q] = out
                    else:
                        _, ok = fails.call(f"exec {q}", lambda: df.write.format("noop").mode("overwrite").save())
            t2 = time.perf_counter()
            per_query[q] = {"build_s": t1 - t0, "exec_s": t2 - t1, "ok": ok}
    wall = time.perf_counter() - t_iter
    return wall, tree_cpu_s(os.getpid()) - cpu0, per_query, outputs


# --- oracle ----------------------------------------------------------------


def _load_check_module():
    """tools/check.py's comparator, imported in strict driver-parity mode."""
    import importlib.util

    os.environ["FMK_STRICT"] = "1"
    spec = importlib.util.spec_from_file_location("fmk_check", ROOT / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_outputs(wl, sf_dir: str, inputs_key: str) -> dict:
    """DuckDB oracle results, computed once per input content and cached
    under ``perfbench/.cache`` (outside every timed region)."""
    import duckdb
    import pandas as pd
    from finmlkit_spark import suite

    cache_dir = HERE / ".cache" / "oracle" / wl.name / inputs_key
    cache_dir.mkdir(parents=True, exist_ok=True)
    con = None
    out = {}
    for q in (*wl.queries, *wl.probe_queries):
        path = cache_dir / f"{q}.pkl"
        if path.is_file():
            out[q] = pd.read_pickle(path)
            continue
        if con is None:
            con = duckdb.connect()
            for f in sorted(Path(sf_dir).glob("*.parquet")):
                con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")
        out[q] = con.execute(suite.ORACLES[q]).fetchdf()
        out[q].to_pickle(path)
    if con is not None:
        con.close()
    return out


# --- metrics -----------------------------------------------------------------


def tail(values: list[float]) -> dict:
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    k = n - 11  # index with exactly 10 samples above it
    return {"value": xs[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


LAYER_KEYS = (
    "suite.build_s", "suite.build_jobs", "suite.build_share",
    "sources.scan_s", "sources.scan_rows", "sources.scan_bytes", "sources.files_read",
    "aggregate.build_s", "aggregate.sort_fallback_tasks", "aggregate.spill_bytes",
    "exchange.shuffle_bytes", "exchange.shuffle_records", "exchange.single_partition",
    "sort.s", "sort.spill_bytes",
    "python.rows", "python.bytes_sent", "python.bytes_returned",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
    "cache.pinned_bytes", "cache.rdds",
    "bars_io.bytes_written", "bars_io.files_written",
)


def layer_unit(name: str) -> str:
    if name.endswith("rows_per_s"):
        return "rows/s"
    if name.endswith("_share"):
        return "ratio"
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B"
    return "count"


def per_layer_names() -> list[str]:
    names = ["session.start_s", *LAYER_KEYS, "trace.overhead_s"]
    for w in WORKLOADS.values():
        prefix = "stage" if w.name == "paper_pipeline" else "q"
        for q in w.queries:
            if prefix == "stage":
                names += [f"stage.{q}.s", f"stage.{q}.build_s", f"stage.{q}.rows_per_s"]
            else:
                names += [f"q.{q}.s", f"q.{q}.build_s", f"q.{q}.build_jobs"]
    return names


def layer_metrics(wl, tracer: Tracer, traced_iters: list[int], iter_queries: dict, input_rows: int) -> dict:
    """Median over traced iterations of each per-layer counter."""
    import sparkstats

    per_iter: dict[int, dict[str, float]] = {it: {} for it in traced_iters}
    for c in tracer.counters:
        if c["iteration"] not in per_iter:
            continue
        acc = per_iter[c["iteration"]]
        m = c["metrics"]
        kind, q = c["name"].split(":", 1)
        for key in sparkstats.METRICS:
            acc[key] = acc.get(key, 0.0) + m.get(key, 0.0)
        if kind == "build":
            acc["suite.build_jobs"] = acc.get("suite.build_jobs", 0.0) + m["jobs"]
            acc[f"build_jobs:{q}"] = m["jobs"]
        acc["exec.jobs"] = acc.get("exec.jobs", 0.0) + m["jobs"]
        acc["exec.stages"] = acc.get("exec.stages", 0.0) + m["stages"]
        acc["exec.tasks"] = acc.get("exec.tasks", 0.0) + m["tasks"]
        acc["cache.pinned_bytes"] = max(acc.get("cache.pinned_bytes", 0.0), m["cache.pinned_bytes"])
        acc["cache.rdds"] = max(acc.get("cache.rdds", 0.0), m["cache.rdds"])
    for it in traced_iters:
        acc = per_iter[it]
        qs = iter_queries[it]
        build = sum(v["build_s"] for v in qs.values())
        exe = sum(v["exec_s"] for v in qs.values())
        acc["suite.build_s"] = build
        acc["exec.s"] = exe
        acc["suite.build_share"] = build / (build + exe) if build + exe > 0 else 0.0
        for q, v in qs.items():
            total = v["build_s"] + v["exec_s"]
            if wl.name == "paper_pipeline":
                acc[f"stage.{q}.s"] = total
                acc[f"stage.{q}.build_s"] = v["build_s"]
                acc[f"stage.{q}.rows_per_s"] = input_rows / total if total > 0 else 0.0
            else:
                acc[f"q.{q}.s"] = total
                acc[f"q.{q}.build_s"] = v["build_s"]
                acc[f"q.{q}.build_jobs"] = acc.get(f"build_jobs:{q}", 0.0)
    out = {}
    for name in per_layer_names():
        vals = [per_iter[it].get(name, 0.0) for it in traced_iters]
        out[name] = statistics.median(vals) if vals else 0.0
    return out


# --- one run -------------------------------------------------------------------


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be closed; the JVM is still waited for below
            pass
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run_one(args) -> int:
    if not (ROOT / "finmlkit_spark" / "__init__.py").is_file():
        print(f"perfbench: no finmlkit_spark package next to {HERE.name}/; run from a checkout", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    size = wl.sizes[args.scale]
    work = HERE / ".work" / f"{wl.name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    host = fit_host(work)
    tracer = Tracer(enabled=bool(args.trace))
    fails = Failures()
    spark = None
    try:
        import gen

        sf_dir = str(work / "input")
        paths = wl.make_inputs(sf_dir, args.seed, **size)
        hashes = {Path(p).name: gen.file_sha256(p) for p in paths}

        t0 = time.perf_counter()
        with tracer.span("get_spark", -1):
            from finmlkit_spark.session import get_spark

            spark = get_spark("perfbench")
        session_start_s = time.perf_counter() - t0
        tracer.attach(spark)
        rec = session_record(spark)

        # verification iteration: warms the JVM and collects every output
        verify_s, _, _, outputs = run_iteration(spark, wl, sf_dir, 0, tracer, fails, collect=True)
        verify_failed = len(fails.errors)
        # one more untimed iteration, as timed ones run it: the first
        # noop-sink iteration after the verification pass is still slower
        run_iteration(spark, wl, sf_dir, 0, Tracer(enabled=False), fails)
        setup_s = time.perf_counter() - T_START

        iter_s: list[float] = []
        iter_queries: dict[int, dict] = {}
        traced_iters: list[int] = []
        untraced_s: list[float] = []
        iter_cpu_s: list[float] = []
        t_meas = time.perf_counter()
        ticks0 = _cpu_ticks()
        it = 0
        while True:
            it += 1
            # trace run: untraced, traced, traced, untraced, ... so that both
            # kinds sit at the same average point of the warm-up trend
            on = tracer.enabled and it % 4 in (2, 3)
            tracer_now = tracer if on else Tracer(enabled=False)
            wall, cpu, qs, _ = run_iteration(spark, wl, sf_dir, it, tracer_now, fails)
            iter_queries[it] = qs
            if tracer.enabled and not on:
                untraced_s.append(wall)
            else:
                iter_s.append(wall)
                iter_cpu_s.append(cpu)
                if on:
                    traced_iters.append(it)
            elapsed = time.perf_counter() - t_meas
            next_est = statistics.median(iter_s + untraced_s)
            if elapsed + next_est > args.seconds and (not tracer.enabled or traced_iters):
                break
        measured_s = time.perf_counter() - t_meas
        ticks1 = _cpu_ticks()
        hz = os.sysconf("SC_CLK_TCK")
        host["busy_cpus_measured"] = (ticks1[0] - ticks0[0]) / hz / measured_s
        host["steal_cpus_measured"] = (ticks1[1] - ticks0[1]) / hz / measured_s

        rss_kb = _vm_hwm_kb("self") + _vm_hwm_kb(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        host["loadavg_after"] = _loadavg()

        # correctness: every verified output against its DuckDB oracle
        t_check = time.perf_counter()
        check = _load_check_module()
        inputs_key = hashlib.sha256("".join(sorted(hashes.values())).encode()).hexdigest()[:16]
        oracle = oracle_outputs(wl, sf_dir, inputs_key)
        mismatches = {}
        for q in wl.queries:
            if q not in outputs:
                mismatches[q] = ["no output (call failed)"]
                continue
            errs = check.compare(q, outputs[q], oracle[q])
            if errs:
                mismatches[q] = errs
        problems = wl.check_inputs(oracle, size)
        check_s = time.perf_counter() - t_check

        counted = [i for i in iter_queries if i in traced_iters or not tracer.enabled]
        timed_calls = [v["build_s"] + v["exec_s"] for i in counted for v in iter_queries[i].values()]
        e2e_s = statistics.median(iter_s)
        report = {
            "workload": wl.name,
            "seed": args.seed,
            "scale": args.scale,
            "trace": args.trace,
            "inputs_sha256": hashes,
            "input_rows": wl.input_rows(size),
            "host": host,
            "session": rec,
            "session_start_s": session_start_s,
            "verify_iteration_s": verify_s,
            "iterations": len(iter_s),
            "per_query_s": {
                q: {k: statistics.median(iter_queries[i][q][k] for i in counted) for k in ("build_s", "exec_s")}
                for q in wl.queries
            },
            "iteration_s": iter_s,
            "iteration_cpu_s": iter_cpu_s,
            "e2e_s": e2e_s,
            "measured_s": measured_s,
            "calls": len(timed_calls),
            "call_p50_s": statistics.median(timed_calls),
            "call_tail_s": tail(timed_calls),
            "peak_rss_mb": rss_kb / 1024.0,
            "rows_per_s": wl.input_rows(size) / e2e_s,
            "ops_failed_frac": len(fails.errors) / max(1, fails.attempted),
            "oracle_mismatches": len(mismatches),
            "mismatches": mismatches,
            "input_problems": problems,
            "errors": fails.errors[:20],
            "verify_failed": verify_failed,
            "oracle_check_s": check_s,
        }
        if args.trace:
            metrics = layer_metrics(wl, tracer, traced_iters, iter_queries, wl.input_rows(size))
            metrics["session.start_s"] = session_start_s
            metrics["trace.overhead_s"] = e2e_s - statistics.median(untraced_s)
            report["untraced_iteration_s"] = untraced_s
            out_metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in metrics.items()}
            (HERE / ".out").mkdir(exist_ok=True)
            tracer.dump(HERE / ".out" / f"trace-{wl.name}-seed{args.seed}.json")
        else:
            values = {"setup_s": setup_s, "cpu_s": statistics.median(iter_cpu_s)}
            out_metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        correct = not mismatches and not problems
        print(json.dumps({"report": report}))
        for p in problems:
            print(f"perfbench: degenerate input: {p}", file=sys.stderr)
        for q, errs in mismatches.items():
            print(f"perfbench: oracle mismatch in {q}: {'; '.join(errs)}", file=sys.stderr)
        for e in fails.errors[:20]:
            print(f"perfbench: call failed: {e}", file=sys.stderr)
        print(json.dumps({"correct": correct, "attempted": fails.attempted, "failed": len(fails.errors), "metrics": out_metrics}))
        sys.stdout.flush()
        return 0 if correct and not fails.errors else 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process;
    prints one table of every metric with its unit and sample count."""
    rc = 0
    rows = []
    for name in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace), "--scale", args.scale]
            p = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            if p.returncode != 0 or len(lines) < 2:
                rc = 1
                print(f"{name} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                if len(lines) < 2:
                    continue
            report = json.loads(lines[-2])["report"]
            result = json.loads(lines[-1])
            n = report["iterations"]
            for k, m in result["metrics"].items():
                rows.append((name, trace, k, m["value"], m["unit"], n))
            if not trace:
                t = report["call_tail_s"]
                rows += [
                    (name, 0, "rows_per_s", report["rows_per_s"], "rows/s", n),
                    (name, 0, "e2e_s", report["e2e_s"], "s", n),
                    (name, 0, "call_p50_s", report["call_p50_s"], "s", report["calls"]),
                    (name, 0, f"call_tail_s(p{t['percentile']})", t["value"], "s", t["n"]),
                    (name, 0, "peak_rss_mb", report["peak_rss_mb"], "MB", 1),
                    (name, 0, "ops_failed_frac", report["ops_failed_frac"], "ratio", result["attempted"]),
                    (name, 0, "oracle_mismatches", report["oracle_mismatches"], "count", len(WORKLOADS[name].queries)),
                ]
    for name, trace, k, v, unit, n in rows:
        val = "n/a" if v is None else f"{v:.6g}"
        print(f"{name:18s} trace={trace} {k:45s} {val:>14s} {unit:7s} n={n}")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
