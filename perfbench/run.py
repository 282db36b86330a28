#!/usr/bin/env python3
"""Full-result benchmark of the spark-graft engine.

Runs one named workload (see ``workloads.py``) as a closed loop in this
single client process on ``local[4]``: the next query is submitted only
after the previous query's full result has been written to Spark's
``noop`` sink. Each pass runs on a fresh ``spark.newSession()`` and the
catalog cache is cleared after every query, so the engine's in-session
memos cannot turn a later pass into cache hits.

One invocation:

1. generates the input tables from ``--seed`` (``datagen.py``);
2. builds and warms the engine session (``setup_s``);
3. checks every workload query once against the DuckDB oracle, then
   runs one untimed pass; both warm the JVM and codegen;
4. runs ``max(1, round(seconds / nominal pass time))`` timed passes, so
   that they take about ``--seconds`` seconds;
5. prints the metrics, then one JSON line with the result.

With ``--trace 0`` the JSON carries the end-to-end metrics: the mean
CPU time of a timed pass (``pass_cpu_s``) and ``setup_s``; the median
pass wall time is printed beside them. With
``--trace 1`` the Spark event log is on, untraced and traced passes
alternate, and the JSON carries the per-layer metrics of the traced
passes; the span file is written under ``.perfbench/spans/``. ``perfbench/README.md``
lists the workloads and every metric.

Usage:
    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 20 --trace 0
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import EXPECTED_SHAPE, NOMINAL_PASS_S, WORKLOADS, query_order  # noqa: E402

SF = 0.01
CPUS = 4
ENGINE_FILES = ("p6__mapreduce_spark/queries.py", "p6__mapreduce_spark/session.py", "tools/oracle_check.py")
LAYER_KEYS = (
    "queries.construct_s queries.construct_self_s queries.action_s pin.calls pin.s "
    "driver.collects driver.collect_s"
).split()


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="spark-graft full-result benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def set_launch_env(work: Path, trace: bool) -> None:
    """Environment for the JVM and the Python workers it forks. Must run
    before the first pyspark import launches the JVM."""
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "local"), ("SPARK_GRAFT_WAREHOUSE", "warehouse")):
        (work / sub).mkdir()
        os.environ[var] = str(work / sub)
    tempfile.tempdir = None  # re-read TMPDIR
    # -Xms: the heap starts at its working size instead of growing over
    # the first passes, which made their times drift from run to run.
    submit = [f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms3g'"]
    if trace:
        (work / "eventlog").mkdir()
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{work / 'eventlog'}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, summed
    over this machine's CPUs (0 where the kernel does not report it)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def tree_cpu_s(pid: int) -> float:
    """User plus system CPU time of a process and all its descendants,
    those that have exited included, in seconds."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    children: dict[int, list[int]] = {}
    for p, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(p)
    ticks, todo = 0, [pid]
    while todo:
        p = todo.pop()
        if p in stats:
            ticks += sum(int(x) for x in stats[p][11:15])  # utime stime cutime cstime
            todo += children.get(p, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' kernel high-water marks (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def stop_engine(spark=None) -> None:
    """Stop the session (or a context whose session was never returned),
    then the gateway JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    # On an interrupted run the JVM side may already be gone; the gateway
    # process is still waited for below.
    with contextlib.suppress(Exception):
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, spark, data: str, order: list[str], tracer=None, listener=None) -> None:
        from p6__mapreduce_spark.queries import QUERIES

        self.spark = spark
        self.data = data
        self.order = order
        self.queries = QUERIES
        self.tracer = tracer
        self.listener = listener
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.query_s: dict[str, list[float]] = {q: [] for q in order}
        self.pass_cpu_s: list[float] = []  # untraced passes only

    def check(self) -> list[str]:
        """One oracle comparison per query, on a fresh session."""
        from p6__mapreduce_spark.queries import get_oracle_sql
        from tools.oracle_check import compare, duck_con

        con = duck_con(self.data)
        oracles = get_oracle_sql(self.data)
        session = self.spark.newSession()
        lines = []
        for q in self.order:
            self.attempted += 1
            try:
                line = compare(q, self.queries[q](session, self.data), con, oracles.get(q))
            except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
                line = f"{q}: ERROR {type(exc).__name__}: {exc}"
            finally:
                session.catalog.clearCache()
            if ": OK " not in line:
                self.failed += 1
            lines.append(line)
        con.close()
        return lines

    def run_pass(self, traced: bool) -> float:
        """One closed-loop pass over the workload; returns its wall time."""
        tr = self.tracer if traced else None
        session = self.spark.newSession()
        if tr is not None:
            session.streams.addListener(self.listener)
            pass_span = tr.open("pass", "pass")
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        for q in self.order:
            self.attempted += 1
            tq = time.perf_counter()
            try:
                if tr is None:
                    self.queries[q](session, self.data).write.format("noop").mode("overwrite").save()
                else:
                    self._traced_query(tr, session, q)
            except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
                self.failed += 1
                self.errors.append(f"{q}: {type(exc).__name__}: {exc}")
            finally:
                session.catalog.clearCache()
            self.query_s[q].append(time.perf_counter() - tq)
        elapsed = time.perf_counter() - t0
        if tr is None:
            self.pass_cpu_s.append(tree_cpu_s(os.getpid()) - cpu0)
        else:
            tr.close(pass_span)
            session.streams.removeListener(self.listener)
        return elapsed

    def _traced_query(self, tr, session, q: str) -> None:
        from tracing import drain_listener_bus

        query_span = tr.open("query", q)
        try:
            span = tr.open("construct", q)
            tr.recording = True
            try:
                df = self.queries[q](session, self.data)
            finally:
                tr.recording = False
                tr.close(span)
            span = tr.open("action", q)
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                tr.close(span)
            drain_listener_bus(session)
        finally:
            tr.close(query_span)


def span_layers(tracer, pass_span) -> dict[str, float]:
    """Construct, action, pin and collect totals of one traced pass."""
    out = dict.fromkeys(LAYER_KEYS, 0.0)
    leaf_keys = {"pin": ("pin.calls", "pin.s"), "collect": ("driver.collects", "driver.collect_s")}
    for query in tracer.children(pass_span):
        for s in tracer.children(query):
            if s.kind == "action":
                out["queries.action_s"] += s.end - s.start
                continue
            out["queries.construct_s"] += s.end - s.start
            out["queries.construct_self_s"] += tracer.self_time(s)
            for leaf in tracer.children(s):
                calls, seconds = leaf_keys[leaf.kind]
                out[calls] += 1
                out[seconds] += leaf.end - leaf.start
    return out


def layer_report(bench: Bench, events: list[dict], untraced: list[float], traced: list[float]) -> dict[str, float]:
    """Per-pass per-layer values of the traced passes, as medians."""
    from tracing import spark_layers, streaming_layers

    tr = bench.tracer
    per_pass: list[dict[str, float]] = []
    for ps in (s for s in tr.spans if s.kind == "pass"):
        row = span_layers(tr, ps)
        row |= spark_layers(events, ps.start, ps.end)
        row |= streaming_layers([b for b in bench.listener.batches if ps.start <= b["t"] <= ps.end])
        per_pass.append(row)
    for qs in (s for s in tr.spans if s.kind == "query"):
        qs.attrs["spark"] = spark_layers(events, qs.start, qs.end)
        qs.attrs["microbatches"] = sum(1 for b in bench.listener.batches if qs.start <= b["t"] <= qs.end)
    out = {k: statistics.median(r[k] for r in per_pass) for k in per_pass[0]}
    out["trace.pass_s"] = statistics.median(traced)
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return out


def shape_check(workload: str, layers: dict[str, float]) -> str | None:
    """The probe self-check: pins and collects are seen where the
    workload has them and are zero where it has none."""
    want = EXPECTED_SHAPE.get(workload)
    pins, collects = layers["pin.calls"], layers["driver.collects"]
    if want == "pins_and_collects" and not (pins > 0 and collects > 0):
        return f"probe self-check failed: {workload} traced {pins:g} pin calls and {collects:g} collects, expected both > 0"
    if want == "none" and (pins or collects):
        return f"probe self-check failed: {workload} traced {pins:g} pin calls and {collects:g} collects, expected 0"
    return None


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [f for f in ENGINE_FILES if not (ROOT / f).is_file()]
    if missing:
        print(f"perfbench: engine sources not found next to the benchmark: {', '.join(missing)}", file=sys.stderr)
        return 2
    order = query_order(args.workload, args.seed)
    # SIGTERM runs the finally below, which stops the JVM and removes
    # the per-run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state = ROOT / ".perfbench"
    state.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=state))
    spark = None
    try:
        set_launch_env(work, bool(args.trace))
        sys.path.insert(0, str(ROOT))
        import datagen

        data = str(work / "data")
        t_gen = time.perf_counter()
        datagen.write(data, args.seed, SF)
        phases = {"datagen": time.perf_counter() - t_gen}

        t_setup = time.perf_counter()
        from p6__mapreduce_spark.session import get_session

        spark = get_session("perfbench")
        spark.read.parquet(f"{data}/lineitem.parquet").write.format("noop").mode("overwrite").save()
        setup_s = time.perf_counter() - t_setup

        tracer = listener = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer()
            listener = tracing.ProgressListener()
            tracing.install_probes(tracer)
        bench = Bench(spark, data, order, tracer, listener)
        t_check = time.perf_counter()
        check_lines = bench.check()
        phases["check"] = check_s = time.perf_counter() - t_check
        # The JIT keeps speeding passes up after the cold check pass; one
        # untimed pass absorbs most of that before timing starts.
        phases["warmup"] = bench.run_pass(False)
        for times in [*bench.query_s.values(), bench.pass_cpu_s]:
            times.clear()
        t_passes, steal0 = time.perf_counter(), steal_s()

        untraced: list[float] = []
        traced: list[float] = []
        # A traced run splits the same time between its two arms.
        arms = 2 if args.trace else 1
        passes = max(1, round(args.seconds / arms / NOMINAL_PASS_S[args.workload]))
        for i in range(passes * arms):
            is_traced = bool(args.trace) and i % 2 == 1
            (traced if is_traced else untraced).append(bench.run_pass(is_traced))
        phases["passes"] = time.perf_counter() - t_passes
        phases["steal"] = steal_s() - steal0
        rss = peak_rss_mb([os.getpid(), jvm_pid(spark)])
        t_stop = time.perf_counter()
        stop_engine(spark)
        spark = None
        phases["stop"] = time.perf_counter() - t_stop

        print(f"workload={args.workload} seed={args.seed} sf={SF} order={','.join(order)}")
        check_failed = sum(": OK " not in line for line in check_lines)
        print(f"oracle check (DuckDB, sf{SF}): {len(check_lines) - check_failed}/{len(check_lines)} OK in {check_s:.1f} s")
        for line in check_lines:
            print(f"  {line}")
        for err in bench.errors:
            print(f"  timed-pass failure: {err}")
        print("phases (s): " + " ".join(f"{k}={v:.2f}" for k, v in phases.items()) + f" setup={setup_s:.2f}")
        print(f"passes untraced={len(untraced)} traced={len(traced)}: " + " ".join(f"{p:.3f}" for p in untraced))
        print("untraced pass CPU (s): " + " ".join(f"{c:.3f}" for c in bench.pass_cpu_s))
        print("query medians (s): " + " ".join(f"{q}={statistics.median(v):.3f}" for q, v in bench.query_s.items()))
        problems = []
        if args.trace:
            events = tracing.read_event_log(str(work / "eventlog"))
            metrics = layer_report(bench, events, untraced, traced)
            metrics["process.peak_rss_mb"] = rss
            problem = shape_check(args.workload, metrics)
            if problem:
                problems.append(problem)
                print(problem)
            spans_dir = state / "spans"
            spans_dir.mkdir(exist_ok=True)
            span_file = spans_dir / f"{args.workload}-seed{args.seed}.json"
            tracer.dump(str(span_file))
            print(f"span file: {span_file.relative_to(ROOT)}")
            units = tracing.LAYER_UNITS
        else:
            metrics = {
                # CPU time adds up, so the mean: GC and JIT bursts that
                # land in one pass are spread over the run.
                "pass_cpu_s": statistics.mean(bench.pass_cpu_s),
                "setup_s": setup_s,
            }
            units = {"pass_cpu_s": "s", "setup_s": "s"}
        failed_frac = bench.failed / bench.attempted
        for k, v in metrics.items():
            print(f"{k:26s} {v:12.4f} {units[k]}")
        if untraced:
            print(f"{'pass_s':26s} {statistics.median(untraced):12.4f} s (wall time; not gated)")
        print(f"{'peak_rss_mb':26s} {rss:12.4f} MB (Python driver + JVM high-water marks; not gated)")
        print(f"{'failed_frac':26s} {failed_frac:12.4f} ratio ({bench.failed}/{bench.attempted})")
        result = {
            "correct": bench.failed == 0 and not problems,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        try:
            stop_engine(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
