"""colonnade_spark benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload corpus_encode --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout (the directory holding the
``colonnade_spark`` package).  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` its per-layer metrics.  The line before it names the
workload's own figures (``detail``).  ``--smoke`` runs every workload and
every check at a tiny size; ``--inject corrupt_block|wrong_oracle`` breaks an
input on purpose so the checks can be seen to fire.  Exit status: 0 when
every check passed, 1 when one failed, 2 when the program cannot be found.

Everything the run writes stays under ``.perfbench_work/`` in the checkout;
see perfbench/README.md for the workloads, metrics and the layer map.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import time

import tracing

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

N_FILES = 20_000          # ~49 MB of content at any seed
SMOKE_FILES = 3_000
SETUP_REPS = 3
KERNEL_FILES = 3_000
SELF_TIME_LAYERS = ["bench", "corpus", "duckdb", "engine", "queries", "blocks"]


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="corpus_encode")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload and check at a tiny size, one process")
    p.add_argument("--inject", choices=("corrupt_block", "wrong_oracle"),
                   help="break an input on purpose; the run must then fail")
    return p.parse_args(argv)


def _reexec_with_malloc_env() -> None:
    """glibc reads its malloc tuning once, at start-up: export the engine's
    settings and restart this process so in-process kernel timings see the
    same allocator behaviour as Spark's Python workers."""
    from colonnade_spark.session import _MALLOC_ENV

    if all(os.environ.get(k) == v for k, v in _MALLOC_ENV.items()):
        return
    os.environ.update(_MALLOC_ENV)
    sys.stdout.flush()
    os.execv(sys.executable, [sys.executable] + sys.argv)


def _configure_env(run_dir: str, trace: bool) -> str:
    """Point every scratch location of Spark, the JVM and the engine into the
    checkout; turn on the uncompressed event log for traced runs."""
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    for d in (tmp, events, os.path.join(WORK, "native")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["COLONNADE_NATIVE_DIR"] = os.path.join(WORK, "native")
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse")}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [f"--conf {k}={v}" for k, v in conf.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    return events


def _descendants(pid: int) -> list:
    kids: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [pid]
    while stack:
        for k in kids.get(stack.pop(), ()):
            out.append(k)
            stack.append(k)
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, then wait for every process
    this run started (JVM, Python workers) to end."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()   # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


class Bench:
    """One benchmark process: session, tracer, op log and counters."""

    def __init__(self, args, run_dir: str, spark, tracer):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.smoke = bool(args.smoke)
        self.inject = args.inject
        self.run_dir = run_dir
        self.spark = spark
        self.tracer = tracer
        self.n_files = SMOKE_FILES if args.smoke else N_FILES
        self.layer_extra: dict = {}
        self.ops: list = []          # timed ops: {"id", "wall_s", "ok", "probe_ms"}
        self._probe = 0.0

    def begin_op(self, op_id: str) -> None:
        self.tracer.op_id = op_id
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        self._probe = tracing.probe_ms()

    def end_op(self, wall_s: float, ok: bool) -> None:
        self.ops.append({"id": self.tracer.op_id, "wall_s": wall_s, "ok": bool(ok),
                         "probe_ms": self._probe})
        self.tracer.op_id = "untimed"
        self.spark.sparkContext.setJobGroup("untimed", "untimed")


def run_workload(args, workload_cls, spark, tracer, run_dir: str, session_s: float,
                 ship_s: float) -> dict:
    b = Bench(args, run_dir, spark, tracer)
    wl = workload_cls(b)
    reps = 1 if (args.trace or args.smoke) else SETUP_REPS
    data_setup = []
    for rep in range(reps):
        t0 = time.time()
        with tracer.span("bench.setup"):
            wl.setup(rep)
        data_setup.append(time.time() - t0)
    tracer.op_id = "check"
    spark.sparkContext.setJobGroup("check", "check")
    with tracer.span("bench.check"):
        check_attempted, check_failed = wl.check()
    min_rounds, seconds = (1, 0.0) if args.smoke else (wl.min_rounds, args.seconds)
    t_start, rounds = time.time(), 0
    while rounds < min_rounds or time.time() - t_start < seconds:
        with tracer.span("bench.round"):
            wl.round(rounds)
        rounds += 1
    walls = [o["wall_s"] for o in b.ops if o["ok"]]
    failed = sum(not o["ok"] for o in b.ops) + check_failed
    detail = {k: {"value": v, "unit": u} for k, (v, u) in wl.detail().items()}
    out = {
        "workload": wl.name, "bench": b, "wl": wl,
        "attempted": len(b.ops) + check_attempted, "failed": failed,
        "op_p50_ms": 1000.0 * statistics.median(walls) if walls else 0.0,
        "setup_s": session_s + ship_s + statistics.median(data_setup),
        "detail": detail,
    }
    detail["ops_failed_frac"] = {"value": failed / out["attempted"], "unit": "fraction"}
    detail["setup_s"] = {"value": out["setup_s"], "unit": "s"}
    detail["data_setup_s"] = {"value": data_setup, "unit": "s"}
    detail["op_walls_s"] = {"value": [o["wall_s"] for o in b.ops], "unit": "s"}
    detail["host_probe_ms"] = {"value": [round(o["probe_ms"], 2) for o in b.ops], "unit": "ms"}
    return out


def layer_metrics(res: dict, events_dir: str, spark_parallelism: int,
                  kernel: dict, tracer, session_s: float, ship_s: float) -> dict:
    """Every per-layer figure a traced run produced (spark.* from the event
    log, which is complete only after the session stops)."""
    b = res["bench"]
    out = dict(b.layer_extra)
    out.update(res["layer"])
    out.update(kernel)
    out["session.get_spark_s"] = session_s
    out["shipping.ensure_shipped_s"] = ship_s
    out["host.probe_ms"] = statistics.median(o["probe_ms"] for o in b.ops) if b.ops else 0.0
    out["trace.op_p50_ms"] = res["op_p50_ms"]
    logs = sorted(glob.glob(os.path.join(events_dir, "*")))
    groups = tracing.parse_event_log(logs[-1]) if logs else {}
    per_op = [tracing.summarize_group(groups[o["id"]], o["wall_s"], spark_parallelism)
              for o in b.ops if o["ok"] and o["id"] in groups]
    for key in (per_op[0] if per_op else {}):
        out[f"spark.{key}"] = statistics.median(p[key] for p in per_op)
    self_time = tracer.self_time_by_layer()
    for layer in SELF_TIME_LAYERS:
        out[f"self_s.{layer}"] = self_time.get(layer, 0.0)
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "colonnade_spark")):
        print(f"perfbench: no colonnade_spark package under {ROOT}; run from the "
              f"root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _reexec_with_malloc_env()
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = list(workloads.WORKLOADS) if args.smoke else [args.workload]
    if names[0] not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {names[0]!r}; have "
              f"{list(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    events_dir = _configure_env(run_dir, bool(args.trace))

    tracer = tracing.Tracer() if args.trace else tracing.NULL_TRACER
    rss = tracing.RssSampler().start()
    from colonnade_spark.session import get_spark
    from colonnade_spark.shipping import ensure_shipped
    import colonnade_spark.shipping as shipping

    # the package zip goes to the run's scratch directory, not the host's /tmp
    _zip = shipping.package_zip
    shipping.package_zip = lambda dest_dir=os.environ["TMPDIR"]: _zip(dest_dir)

    t0 = time.time()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench")
    session_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    with tracer.span("shipping.ensure_shipped"):
        ensure_shipped(spark)
    ship_s = time.time() - t0
    parallelism = spark.sparkContext.defaultParallelism

    results = []
    try:
        for name in names:
            res = run_workload(args, workloads.WORKLOADS[name], spark, tracer,
                               run_dir, session_s, ship_s)
            if args.trace:
                res["layer"] = res["wl"].layer()
            results.append(res)
    finally:
        peak_rss_mb, py_peak_rss_mb = rss.stop()
        _stop_spark(spark)

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    for r in results:
        r["detail"]["peak_rss_mb"] = {"value": peak_rss_mb, "unit": "MB"}
        r["detail"]["py_peak_rss_mb"] = {"value": py_peak_rss_mb, "unit": "MB"}
        print(json.dumps({"workload": r["workload"], "seed": args.seed,
                          "trace": args.trace, "detail": r["detail"]}), flush=True)

    if args.trace:
        import kernels

        with tracer.span("blocks.kernel_pass"):
            kernel = kernels.kernel_pass(SMOKE_FILES if args.smoke else KERNEL_FILES,
                                         args.seed)
        layer = layer_metrics(results[-1], events_dir, parallelism, kernel,
                              tracer, session_s, ship_s)
        tracer.write(os.path.join(WORK, "trace", "spans.json"))
        with open(os.path.join(WORK, "trace", "layers.json"), "w") as f:
            json.dump(layer, f, indent=1, sort_keys=True)
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    elif args.smoke:
        metrics = {}    # every workload's figures are on its detail line
    else:
        r = results[-1]
        values = {"op_p50_ms": r["op_p50_ms"], "setup_s": r["setup_s"],
                  "py_peak_rss_mb": py_peak_rss_mb}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
