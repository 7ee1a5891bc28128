"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_etl --seed 42 --seconds 10 --trace 0

Runs from the root of a checkout of the repository.  The run

1. generates the workload's input tables from ``--seed``
   (``perfbench/inputs.py``) and computes each query's DuckDB oracle result;
2. sets up: starts a Spark session on ``local[<cores>]`` and runs one
   warm-up pass over the workload's queries on the warm-up tables;
3. runs timed passes that add up to about ``--seconds`` (at least two),
   setting up a second time, in the same JVM, when half of that time has
   gone by; ``setup_s`` is the median of the set-ups.  A pass is a closed
   loop with one client: each query is timed from the call to
   ``QUERIES[name].fn(spark, data_dir)`` until its result has been
   collected with ``toArrow()``, then checked against the oracle outside
   the timed region.

With ``--trace 1`` untraced and traced passes run in ABBA order, and the per-layer
metrics of the traced passes are reported instead (``perfbench/trace.py``).
The last line of standard output is the result object; the line before it
is the full run record.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dissertation_data_pipeline_spark"
DEFAULT_SEED = 42
#: Set-ups per run; ``setup_s`` is their median.  Two, not more: each
#: set-up runs a warm-up pass that costs about as much as a timed pass, and
#: the whole schedule of runs has to fit its time budget.
SETUPS = 2
#: Timed passes per run, at the least, whatever ``--seconds`` says.
MIN_PASSES = 2
#: Driver heap, fixed at start so that peak RSS does not follow the
#: collector's heap-growth decisions from run to run.
HEAP = "1g"
#: Client compiler only.  A run is too short for the server compiler to
#: finish warming up: with it, pass times kept falling for ten passes (by a
#: third in all), so a run's median followed how many passes fitted.  With
#: the client compiler alone, pass times are flat after the set-ups.  That
#: setting shrinks the default code cache to 48 MiB, which a traced run
#: filled (the JVM then stops compiling and runs new code interpreted), so
#: the cache gets the size it has with both compilers.
JIT = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

E2E_UNITS = {
    "wall_s": "s",
    "query_geomean_s": "s",
    "setup_s": "s",
    "jvm_peak_rss_mb": "MB",
}


def _fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(work: str, cores: int):
    from dissertation_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} {JIT} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def _descendants(pid: int) -> list[int]:
    """Every process under ``pid``, from the kernel's per-thread child lists."""
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                kids = [int(c) for c in fh.read().split()]
        except OSError:
            continue
        for kid in kids:
            out += [kid, *_descendants(kid)]
    return out


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM and every process under it,
    and wait until all of them have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    children = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


class Runner:
    """One workload's queries, run against one Spark session."""

    def __init__(self, queries, names, tracer=None, ui=None):
        self.queries = queries
        self.names = names
        self.tracer = tracer
        self.ui = ui
        self.next_qid = 0

    def execute(self, spark, name: str, data_dir: str) -> dict:
        """Run one query: call its function, collect with ``toArrow()``."""
        tr = self.tracer
        rec = {"name": name, "qid": self.next_qid, "df": None, "table": None,
               "error": None}
        self.next_qid += 1
        if tr is not None:
            tr.query = rec["qid"]
            sp = tr.open(name, "plans")
        t0 = time.perf_counter()
        try:
            rec["df"] = self.queries[name].fn(spark, data_dir)
        except Exception:
            rec["error"] = traceback.format_exc()
        if tr is not None:
            tr.close(sp)
            rec["fn"] = rec["action"] = (sp.start, sp.end)
        if rec["error"] is None:
            if tr is not None:
                sp = tr.open(name, "action")
            try:
                rec["table"] = rec["df"].toArrow()
            except Exception:
                rec["error"] = traceback.format_exc()
            if tr is not None:
                tr.close(sp)
                rec["action"] = (sp.start, sp.end)
        rec["seconds"] = time.perf_counter() - t0
        rec["result_bytes"] = rec["table"].nbytes if rec["table"] is not None else 0
        return rec

    def run_pass(self, spark, data_dir: str, oracle=None) -> list[dict]:
        from dissertation_data_pipeline_spark import session

        out = []
        for name in self.names:
            rec = self.execute(spark, name, data_dir)
            if oracle is not None and rec["error"] is None:
                try:
                    why = oracle.mismatch(name, self.queries[name].sql,
                                          rec["df"], rec["table"])
                except Exception:
                    why = "check raised:\n" + traceback.format_exc()
                if why:
                    rec["error"] = f"output differs from oracle: {why}"
            if oracle is not None and rec["error"]:
                print(f"perfbench: FAIL {name}: {rec['error']}", file=sys.stderr)
            rec["df"] = rec["table"] = None
            # looked up at call time, so a traced pass records the cleanup
            session.drop_blocks(spark)
            if self.ui is not None:
                self.ui.poll()
            out.append(rec)
        return out


def _spread(values: list[float]) -> dict:
    out = {"median": statistics.median(values), "n": len(values),
           "samples": values}
    if len(values) >= 2:
        q = statistics.quantiles(values, n=4)
        out["q1"], out["q3"] = q[0], q[2]
    return out


def _settle(listener, limit: float = 3.0) -> None:
    """Wait until streaming progress events stop arriving."""
    deadline = time.monotonic() + limit
    seen = -1
    while len(listener.batches) != seen and time.monotonic() < deadline:
        seen = len(listener.batches)
        time.sleep(0.25)


def run(args) -> tuple[dict, dict]:
    from dissertation_data_pipeline_spark.plans.registry import QUERIES

    from perfbench import inputs, oracle as oracle_mod, trace as trace_mod
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    missing = [q for q in wl.queries if q not in QUERIES]
    if missing:
        raise SystemExit(_fail(f"workload {wl.name} names queries missing "
                               f"from the registry: {missing}", 3))
    no_oracle = [q for q in wl.queries if QUERIES[q].sql is None]
    if no_oracle:
        raise SystemExit(_fail(f"queries without an oracle: {no_oracle}", 3))

    cores = _cores()
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    import tempfile

    tempfile.tempdir = None
    spark = oracle = None
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        dirs = inputs.generate(ROOT, work, args.seed)
        phase("inputs")
        oracle = oracle_mod.Oracle(ROOT, dirs["measured"])
        for q in wl.queries:
            oracle.expected(q, QUERIES[q].sql)
        phase("oracle")

        runner = Runner(QUERIES, wl.queries)
        tracer = listener = traced_runner = None
        if args.trace:
            tracer = trace_mod.Tracer()
            listener = trace_mod.progress_listener()
            traced_runner = Runner(QUERIES, wl.queries, tracer)
        setups = []

        def set_up():
            nonlocal spark
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = _start_session(work, cores)
            for rec in runner.run_pass(spark, dirs["warmup"]):
                if rec["error"]:
                    print(f"perfbench: warm-up {rec['name']} raised:\n"
                          f"{rec['error']}", file=sys.stderr)
            setups.append(time.perf_counter() - t0)
            if traced_runner is not None:
                traced_runner.ui = trace_mod.SparkUI(spark.sparkContext)

        set_up()
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        plain, traced, layer, steal = [], [], [], []
        # traced and untraced passes in ABBA order, so that neither kind
        # gets the earlier (less warmed-up) position more often
        order = ("plain", "traced", "traced", "plain") if args.trace else ("plain",)
        # Timed passes add up to about --seconds.  The later set-ups run
        # between them, spread evenly, so that the timed passes sample a
        # longer stretch of the run than --seconds alone: hypervisor steal
        # on a shared host comes and goes over tens of seconds, and a
        # longer stretch evens it out across runs.
        timed = 0.0
        blocks = []
        while True:
            t0 = time.perf_counter()
            for kind in order:
                ticks0 = _cpu_ticks()
                if kind == "plain":
                    plain.append(runner.run_pass(spark, dirs["measured"], oracle))
                else:
                    n0 = len(tracer.spans)
                    spark.streams.addListener(listener)
                    try:
                        with trace_mod.LayerPatch(tracer):
                            recs = traced_runner.run_pass(
                                spark, dirs["measured"], oracle)
                        _settle(listener)
                    finally:
                        spark.streams.removeListener(listener)
                    traced_runner.ui.poll()
                    traced.append(recs)
                    trace_mod.job_spans(tracer, recs,
                                        list(traced_runner.ui.jobs.values()))
                    layer.append(trace_mod.pass_metrics(
                        tracer.spans[n0:], recs, traced_runner.ui.stages,
                        listener.batches, cores))
                ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
                steal.append(ticks[7] / max(1, sum(ticks)))
            blocks.append(time.perf_counter() - t0)
            timed += blocks[-1]
            if len(setups) < SETUPS and timed >= (
                    args.seconds * len(setups) / SETUPS):
                set_up()
            # stop at whichever block boundary lies nearest --seconds
            if (len(setups) == SETUPS and len(plain) >= MIN_PASSES
                    and timed + statistics.median(blocks) / 2 >= args.seconds):
                break
        phase("setups_and_passes")
        rss = _jvm_peak_rss_mb(jvm_pid)
        digests = {k: inputs.file_digests(d) for k, d in dirs.items()}
    finally:
        if oracle is not None:
            oracle.close()
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    phase("stop")

    executed = [r for p in plain + traced for r in p]
    failed = sum(1 for r in executed if r["error"])
    walls = [sum(r["seconds"] for r in p) for p in plain]
    per_query = {
        n: statistics.median(r["seconds"] for p in plain for r in p
                             if r["name"] == n)
        for n in wl.queries
    }
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "cores": cores,
        "sf": inputs.MEASURED_SF,
        "warmup_sf": inputs.WARMUP_SF,
        "client": "closed loop, 1 client, 1 query at a time",
        "queries": list(wl.queries),
        "inputs": digests,
        "wall_s": _spread(walls),
        "query_geomean_s": math.exp(
            statistics.fmean(math.log(v) for v in per_query.values())),
        "query_median_s": per_query,
        "setup_s": {"median": statistics.median(setups), "samples": setups},
        "failed_frac": failed / len(executed),
        "jvm_peak_rss_mb": rss,
        # share of the machine's CPU time the hypervisor gave to other
        # guests during each timed pass, so that a run slowed by a shared
        # host can be told from a slower program
        "host_steal_frac": _spread(steal),
        "attempted": len(executed),
        "failed": failed,
        "phase_s": phases,
    }
    if args.trace:
        traced_walls = [sum(r["seconds"] for r in p) for p in traced]
        metrics = {
            k: statistics.median(m[k] for m, _ in layer)
            for k in trace_mod.LAYER_METRICS if k != "trace_overhead_frac"
        }
        metrics["trace_overhead_frac"] = (
            statistics.median(traced_walls) / statistics.median(walls) - 1)
        record["layer"] = metrics
        record["layer_per_query"] = [pq for _, pq in layer]
        out_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{wl.name}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({
                "spans": [
                    {**vars(sp), "attrs": {k: v for k, v in sp.attrs.items()
                                           if k != "job"}}
                    for sp in tracer.spans
                ],
                "batches": listener.batches,
            }, fh)
        record["trace_file"] = os.path.relpath(path, ROOT)
        result_metrics = {
            k: {"value": v, "unit": trace_mod.LAYER_METRICS[k]}
            for k, v in metrics.items()
        }
    else:
        result_metrics = {
            k: {"value": v["median"] if isinstance(v, dict) else v, "unit": u}
            for k, u in E2E_UNITS.items()
            for v in [record[k]]
        }
    result = {
        "correct": failed == 0,
        "attempted": len(executed),
        "failed": failed,
        "metrics": result_metrics,
    }
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in (PACKAGE, "tools/gen_scale_data.py", "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            return _fail(f"{need} not found under {ROOT}; run from a checkout")
    sys.path[:0] = [ROOT]
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; "
                     f"choose from {sorted(WORKLOADS)}")
    record, result = run(args)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
