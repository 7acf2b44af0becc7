"""Benchmark entry point.

    python3 perfbench/run.py --workload detect_mc_many_keys --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, sets up Spark, measures for ``--seconds``, checks every operation and
prints one JSON line last: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Everything it writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (one JSON
record per run: metrics, notes and spans).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def die(code: int, msg: str):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def guard_environment(work: str, trace: bool) -> int:
    """Pin the run environment without touching the library: one Spark
    core per CPU, a driver heap that fits the host, the checkout on the
    Python workers' path, every scratch file inside the checkout, and no
    other JVM competing for the cores. Returns the core count."""
    import probes

    deadline = time.time() + 30
    while probes.other_java_pids():
        if time.time() > deadline:
            die(3, f"another java process is running: "
                   f"{probes.other_java_pids()}")
        time.sleep(1)
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # session.py's 32g default is sized for a 128 GiB host
        "SPARK_DRIVER_MEM": f"{max(1, min(6, int(mem_gb * 0.3)))}g",
        # Python workers import anomalyzer_spark (spark.python.daemon.module)
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        # PerfDisableSharedMem: no /tmp/hsperfdata_<user> file
        "SPARK_SUBMIT_OPTS": (os.environ.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp}"
                              " -XX:+PerfDisableSharedMem").strip(),
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": f"file://{logdir}"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    import tempfile
    tempfile.tempdir = tmp
    return cpus


class EventLogSwitch:
    """Detach / re-attach Spark's event-log listener, so one traced run
    can time laps with and without it. Uses SparkContext internals
    (``eventLogger``, ``listenerBus``); a no-op when tracing is off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.attached = True
        self.listener = None

    def __call__(self, on: bool):
        if not self.enabled or on == self.attached:
            return
        from pyspark import SparkContext

        jsc = SparkContext._active_spark_context._jsc.sc()
        if self.listener is None:
            self.listener = jsc.eventLogger().get()
        if on:
            jsc.listenerBus().addToEventLogQueue(self.listener)
        else:
            jsc.listenerBus().removeListener(self.listener)
        self.attached = on


def stop_spark():
    """Stop the SparkContext and its JVM, and wait until every child
    process (JVM, Python daemon and workers) has ended."""
    import probes
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(probes.tree_pids()) > 1:
        if time.time() > deadline:
            for pid in probes.tree_pids()[1:]:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def report_layers(res: dict):
    """Self time of each layer against the untraced lap wall (batch), or
    the split of the median micro-batch (stream)."""
    if "trace.untraced_lap_s" in res:
        lap = res["trace.untraced_lap_s"]
        parts = [(k, res[k]) for k in (
            "sources.scan_s", "operators.detect.tail_window_s",
            "operators.columnar.s", "operators.kernel.s")]
    else:
        lap = res["streaming.trigger_s"]
        parts = [(k, res[k]) for k in (
            "streaming.latest_offset_s", "streaming.planning_s",
            "streaming.add_batch_s", "streaming.wal_commit_s",
            "streaming.commit_offsets_s")]
        print(f"layers: tick latency p50 {res['latency_p50_s']:.4f}s "
              f"(drop to commit); median micro-batch below")
    print(f"layers: self time against the untraced wall {lap:.4f}s")
    for name, v in parts + [("remainder", lap - sum(v for _, v in parts))]:
        print(f"  {name:34s} {v:9.4f}s {100 * v / lap:6.1f}%")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "anomalyzer_spark",
                                       "__init__.py")):
        die(2, f"no anomalyzer_spark package under {ROOT}")
    sys.path[:0] = [HERE, ROOT]
    import probes
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        die(2, f"unknown workload {args.workload!r}; "
               f"one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    cpus = guard_environment(work, trace)
    ctx = workloads.Ctx(args.seed, args.seconds, trace, work, cpus,
                        EventLogSwitch(trace))
    steal0, load0 = probes.steal_s(), probes.loadavg()
    try:
        with probes.RssSampler() as rss:
            t = time.perf_counter()
            wl.generate(ctx)
            gen_s = time.perf_counter() - t
            res = wl.run(ctx)
    finally:
        stop_spark()
    res.update({"bench.gen_s": gen_s, "bench.stolen_ops": ctx.stolen_ops,
                "proc.peak_rss_mb": rss.peak_mb,
                "proc.steal_s": probes.steal_s() - steal0,
                "proc.loadavg": max(load0, probes.loadavg())})
    if trace:
        sums = probes.eventlog_sums(os.path.join(work, "eventlog"))
        label = "stream" if "trace.traced_ticks" in res else "lap"
        n = res.get("trace.traced_ticks") or res.get("trace.traced_laps")
        for k in probes.SPARK_METRICS:
            res[k] = sums.get(label, {}).get(k, 0.0) / n
    shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(res.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec}
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "input_digest": wl.digest, "notes": ctx.notes,
              "results": res, "log": ctx.log,
              "spans": ctx.spans.records}
    outdir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(outdir, exist_ok=True)
    with open(os.path.join(outdir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"perfbench {args.workload} seed={args.seed} input={wl.digest} "
          f"steal={res['proc.steal_s']:.2f}s load={res['proc.loadavg']:.2f} "
          f"gen={gen_s:.2f}s stolen_ops={ctx.stolen_ops} "
          f"attempted={ctx.attempted} failed={ctx.failed}")
    for note in ctx.notes:
        print(f"  FAILED: {note}")
    if trace:
        report_layers(res)
        for name, s in sorted(ctx.spans.totals().items()):
            print(f"  span {name:34s} total {s:9.4f}s")
    print(json.dumps({"correct": ctx.failed == 0,
                      "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
