"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload report_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  The benchmark writes its seeded input tables
under ``perfbench/.work/`` (perfbench/prepare.py, in a child process), drives the package's public functions on them,
checks every output, and prints as its last stdout line
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones from spans and Spark counters (see perfbench/README.md).  Details (each
metric with its sample count, per-kind latencies, failures) go to stderr.

Exit status is non-zero when any output is wrong or any op fails.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace, workloads  # noqa: E402

SPARK_CORES = "4"
DRIVER_MEMORY = "1g"
DEFAULT_ROWS = 10_000

# per-layer metric -> the span whose self time it reports
PER_OP_LAYERS = {
    "sources.fixtures.complaints.ms": "sources.fixtures.complaints",
    "sources.readers.load_table.ms": "sources.readers.load_table",
    "plans.catalog.plan_ms": "plans.catalog.plan",
    "plans.catalog.exec_ms": "plans.catalog.exec",
    "operators.cleaning.clean_complaints.ms": "operators.cleaning.clean_complaints",
    "operators.encode.frequency_encode.ms": "operators.encode.frequency_encode",
    "operators.encode.date_parts.ms": "operators.encode.date_parts",
    "operators.sampling.oversample_binary.ms": "operators.sampling.oversample_binary",
    "operators.sampling.rebalance_to_target.ms": "operators.sampling.rebalance_to_target",
    "operators.sampling.train_test_split.ms": "operators.sampling.train_test_split",
    "operators.metrics.binary_metrics.ms": "operators.metrics.binary_metrics",
    "operators.metrics.confusion_counts.ms": "operators.metrics.confusion_counts",
    "ml.pipelines.fit.lr.ms": "ml.pipelines.fit.lr",
    "ml.pipelines.fit.dt.ms": "ml.pipelines.fit.dt",
    "ml.pipelines.transform.ms": "ml.pipelines.transform",
    "ml.nlp.nlp_features.ms": "ml.nlp.nlp_features",
    "ml.nlp.lda_topics.ms": "ml.nlp.lda_topics",
}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def isolate_writes(work: str) -> None:
    """Keep Spark's, the JVM's and Python's scratch files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # no hsperfdata file: HotSpot writes it under /tmp whatever the tmpdir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                             "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": SPARK_CORES,
        "SPARK_DRIVER_MEM": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
    })


def stop_spark() -> None:
    """Stop the SparkContext and the gateway JVM, and wait for the JVM to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus every process it started."""
    def children(pid: int) -> list[int]:
        out = []
        for task in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{task}/children") as f:
                    out += [int(c) for c in f.read().split()]
            except OSError:
                pass
        return out

    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            todo += children(pid)
        except OSError:
            pass
    return total_kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Inclusive linear-interpolation percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.tracer = trace.Tracer(enabled=bool(args.trace))
        self.load = workloads.WORKLOADS[args.workload](args.seed, os.path.join(work, "data"),
                                                       self.tracer)
        self.ops: list[dict] = []
        self.rates: list[float] = []  # per client: correct ops / its busy time
        self.failures: list[str] = []
        self._lock = threading.Lock()
        self._next_op = 0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        """Import the package, start the session and set the workload up.  It
        is the process's first import of pyspark and the package and its first
        JVM, so all of it runs cold."""
        self._patch()
        session = workloads.package("session")
        with self.tracer.context("setup"):
            self.spark = session.get_session(
                app_name=f"perfbench-{self.args.workload}",
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            self.spark.sparkContext.setLogLevel("ERROR")
            self.load.setup(self.spark)

    def _patch(self) -> None:
        for module, attr, name in workloads.TRACED_FUNCTIONS:
            # a load is keyed by its arguments after the session
            key = (lambda *a, **kw: (a[1:], tuple(sorted(kw.items())))) \
                if attr == "load_table" else None
            self.tracer.wrap(workloads.package(module), attr, name, key)

    # -- the loop ---------------------------------------------------------
    def _client(self, client: int, phase: str, budget_s: float) -> None:
        """Closed loop: one request at a time.  The warm-up runs the client's
        warm-up requests once.  The timed phase runs whole cycles: it starts
        another cycle only while the previous cycle's duration still fits in
        what is left of the budget, and always runs one."""
        sc = self.spark.sparkContext
        start = end = time.perf_counter()
        n_ok, k = 0, 0
        while True:
            cycle_start = end
            requests = (self.load.warmup_requests(client) if phase == "warmup"
                        else self.load.cycle(client, k))
            for req in requests:
                with self._lock:
                    op_id = self._next_op
                    self._next_op += 1
                if self.args.trace:
                    sc.setJobGroup(f"perfbench-op-{op_id}", self.load.kind(req))
                t0 = time.perf_counter()
                try:
                    with self.tracer.context(phase, op_id), self.tracer.span("op"):
                        bad, figures = self.load.execute(req)
                except Exception:
                    bad, figures = f"{req}: raised\n{traceback.format_exc()}", None
                end = time.perf_counter()
                n_ok += bad is None
                with self._lock:
                    if phase == "timed":
                        self.ops.append({"id": op_id, "kind": self.load.kind(req),
                                         "latency_s": end - t0, "ok": bad is None,
                                         "figures": figures})
                    if bad:
                        self.failures.append(f"[{phase}] {bad}")
            k += 1
            if phase == "warmup" or end - start + (end - cycle_start) > budget_s:
                break
        if phase == "timed" and end > start:
            with self._lock:
                self.rates.append(n_ok / (end - start))

    def run_clients(self, phase: str, budget_s: float) -> None:
        threads = [threading.Thread(target=self._client, args=(c, phase, budget_s))
                   for c in range(self.load.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    def ops_per_s(self) -> float:
        """Closed-loop throughput: the sum over clients of correct ops per
        second of that client's own loop, so a client idling while the other
        finishes its last op does not count."""
        return sum(self.rates)


def ok_latencies_ms(runner: Runner) -> list[float]:
    return [1000.0 * o["latency_s"] for o in runner.ops if o["ok"]] or [0.0]


def prepare_inputs(args, work: str) -> dict:
    """Write the seeded inputs and compute the expected results in a child
    process (perfbench/prepare.py), wait for it to exit, and return them."""
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "prepare.py"),
                    args.workload, str(args.seed), str(args.rows), work],
                   stdout=subprocess.DEVNULL, check=True, timeout=300)
    with open(os.path.join(work, "expected.pickle"), "rb") as f:
        return pickle.load(f)


def end_to_end(runner: Runner, setup_s: float) -> dict:
    ok_lat = ok_latencies_ms(runner)
    return {
        "setup_s": (setup_s, "s", 1),
        "ops_per_s": (runner.ops_per_s(), "1/s", len(runner.ops)),
        "latency_p50_ms": (percentile(ok_lat, 50), "ms", len(ok_lat)),
        "peak_rss_mb": (peak_rss_mb(), "MB", 1),
    }


def per_layer(runner: Runner) -> dict:
    tr, ops = runner.tracer, [o["id"] for o in runner.ops]
    n = len(ops)
    out = {"session.get_session.ms": (tr.median_ms("session.get_session", "setup"), "ms", 1)}
    for metric, span in PER_OP_LAYERS.items():
        out[metric] = (tr.per_op_self_ms(span, ops), "ms", n)
    calls, repeat = tr.load_stats(ops)
    out["sources.readers.load_table.calls_per_op"] = (calls, "count", n)
    out["sources.readers.load_table.repeat_frac"] = (repeat, "ratio", n)
    counts = trace.spark_counts(runner.spark.sparkContext, [f"perfbench-op-{i}" for i in ops])
    for key in ("jobs", "stages", "tasks"):
        out[f"spark.{key}_per_op"] = (sum(c[key] for c in counts.values()) / max(1, n), "count", n)
    out["spark.failed_tasks"] = (sum(c["failed_tasks"] for c in counts.values()), "count", n)
    out["trace.ops_per_s"] = (runner.ops_per_s(), "1/s", n)
    return out


def report_details(runner: Runner, metrics: dict) -> None:
    """Every metric with its unit and sample count, then figures that are not
    gated: p90 (too few samples beyond it for a bound), the failed share,
    model quality (gated by the correctness bands instead) and, on
    train_eval, each task's latency."""
    ok_lat = ok_latencies_ms(runner)
    extra = {"latency_p90_ms": (percentile(ok_lat, 90), "ms", len(ok_lat)),
             "failed_frac": (sum(not o["ok"] for o in runner.ops) / max(1, len(runner.ops)),
                             "ratio", len(runner.ops))}
    figures: dict[str, list[float]] = {}
    for o in runner.ops:
        for k, v in (o["figures"] or {}).items():
            figures.setdefault(k, []).append(v)
    for k, vals in figures.items():
        extra[k] = (statistics.median(vals), "", len(vals))
    for name, (value, unit, samples) in {**metrics, **extra}.items():
        log(f"  {name:45s} {value:12.4f} {unit:6s} n={samples}")
    for k in sorted({o["kind"] for o in runner.ops}):
        lat = [1000.0 * o["latency_s"] for o in runner.ops if o["kind"] == k]
        log(f"  op {k:40s} n={len(lat):3d} median {statistics.median(lat):9.1f} ms")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=DEFAULT_ROWS,
                   help="complaints in the generated input (default %(default)s)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, workloads.PKG)):
        log(f"package {workloads.PKG} not found under {ROOT}")
        return 2

    work = os.path.join(ROOT, "perfbench", ".work", f"run-{os.getpid()}")
    isolate_writes(work)
    phases = [("start", time.perf_counter())]
    runner = Runner(args, work)
    try:
        vars(runner.load).update(prepare_inputs(args, work))
        phases.append(("inputs", time.perf_counter()))
        # setup_s: from the program's first import to the first timed op
        runner.setup()
        phases.append(("setup", time.perf_counter()))
        runner.run_clients("warmup", args.seconds)
        phases.append(("warmup", time.perf_counter()))
        setup_s = phases[-1][1] - phases[-3][1]
        runner.run_clients("timed", args.seconds)
        phases.append(("timed", time.perf_counter()))
        if args.trace:
            missing = runner.load.expected_spans - runner.tracer.fired()
            if missing:
                runner.failures.append(f"spans never fired: {sorted(missing)}")
            metrics = per_layer(runner)
            os.makedirs(os.path.join(ROOT, "perfbench", "out"), exist_ok=True)
            runner.tracer.dump(os.path.join(
                ROOT, "perfbench", "out", f"trace_{args.workload}_{args.seed}.jsonl"))
        else:
            metrics = end_to_end(runner, setup_s)
    finally:
        runner.tracer.unwrap_all()
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        phases.append(("teardown", time.perf_counter()))
        log("phase wall times: " + ", ".join(
            f"{name} {t - prev:.1f} s" for (_, prev), (name, t) in zip(phases, phases[1:])))

    log(f"{args.workload} seed={args.seed} trace={args.trace} ops={len(runner.ops)}")
    report_details(runner, metrics)
    for f in runner.failures:
        log("FAILED", f)
    failed = sum(1 for o in runner.ops if not o["ok"])
    correct = not runner.failures and bool(runner.ops)
    print(json.dumps({
        "correct": correct,
        "attempted": len(runner.ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
