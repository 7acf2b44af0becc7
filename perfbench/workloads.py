"""The benchmark's workloads. Each drives the library only through its
public calls (``get_spark``, ``load_table``, ``tail_window``, ``detect``,
``detect_stream``) on inputs that ``gen`` writes from the seed, and checks
every operation's output outside the timed region."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomalyzer_spark import AnomalyzerConf, detect, oracle, tail_window
from anomalyzer_spark.config import SUPPORTED_METHODS
from anomalyzer_spark.operators.kernel import MC_METHODS
from anomalyzer_spark.session import get_spark
from anomalyzer_spark.sources import load_table
from anomalyzer_spark.streaming import detect_stream

import gen
import probes

SERIES_COLS = "key string, ts long, eid long, value double"
#: seconds of untimed laps between set-up and measurement; see DetectWorkload.run
WARMUP_S = 6.0
#: a lap (tick) during which the host stole more than this share of the
#: CPUs' time is not measured: a descheduled vCPU stalls a whole Spark stage,
#: so 10% steal can stretch a lap by 50%. Such laps are still checked.
MAX_STOLEN = 0.02


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def calm(values, stolen):
    """``values`` whose stolen share is at most MAX_STOLEN, or all of them
    when none is; and how many were dropped."""
    keep = [v for v, st in zip(values, stolen) if st <= MAX_STOLEN]
    return (keep, len(values) - len(keep)) if keep else (values, 0)


def _close(got, want, tol) -> bool:
    """``got`` within ``tol`` of ``want``; a None or NaN ``got`` is not."""
    return got is not None and abs(got - want) <= tol


class Ctx:
    """Per-run state shared by the runner and a workload."""

    def __init__(self, seed: int, seconds: float, trace: bool, work: str,
                 cpus: int, eventlog):
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.work, self.cpus = work, cpus
        #: callable(bool) that attaches/detaches the Spark event log
        self.eventlog = eventlog
        self.spans = probes.Spans(trace)
        self.attempted = self.failed = 0
        #: measured laps or ticks left out by ``calm``
        self.stolen_ops = 0
        #: raw timings for the run record
        self.log: list[dict] = []
        self.notes: list[str] = []

    def fail(self, what: str):
        self.failed += 1
        self.notes.append(what)


def _get_spark(ctx: Ctx, app: str, shuffle_partitions: int | None = None):
    with ctx.spans.span("session.get_spark") as sp:
        spark = get_spark(app, shuffle_partitions=shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")
    if ctx.trace:
        ctx.spans.sc = spark.sparkContext
        # only the traced phase of a run goes to the event log
        ctx.eventlog(False)
    return spark, sp.wall


class DetectWorkload:
    """Batch ``detect()`` laps over a seeded long-format series.

    A lap is ``load_table`` + ``detect`` + ``collect``. Each lap is
    checked: one row per key, and the probs of sampled keys equal
    ``oracle.eval_prob`` over the same window (tolerance below)."""

    #: the JVM columnar tests (magnitude, fence, cdf) sum in another order
    #: than NumPy, so probs may differ in the last bits; the repo's own
    #: stream/batch pins use the same tolerance
    TOL = 1e-12

    def __init__(self, name, item, n_keys, n_points, n_files, row_group_rows,
                 conf, n_sample, warmup_s=WARMUP_S):
        self.name, self.item, self.warmup_s = name, item, warmup_s
        self.n_keys, self.n_points = n_keys, n_points
        self.n_files, self.row_group_rows = n_files, row_group_rows
        self.conf, self.n_sample = conf, n_sample


    def items(self) -> int:
        return self.n_keys if self.item == "keys" else self.n_keys * self.n_points

    def generate(self, ctx: Ctx):
        self.data_dir = os.path.join(ctx.work, "data")
        path = os.path.join(self.data_dir, f"{self.name}.parquet")
        keys, values, anomalous = gen.series(
            ctx.seed, path, self.n_keys, self.n_points, self.n_files,
            self.row_group_rows)
        self.bytes = sum(os.path.getsize(os.path.join(path, f))
                         for f in os.listdir(path))
        self.digest = gen.digest(path)
        rng = np.random.default_rng(ctx.seed + 1)
        normal = np.setdiff1d(np.arange(self.n_keys), anomalous)
        half = self.n_sample // 2
        pick = np.concatenate([
            rng.choice(anomalous, min(half, len(anomalous)), replace=False),
            rng.choice(normal, self.n_sample - min(half, len(anomalous)),
                       replace=False)])
        conf, ws = self.conf, self.conf.window_size
        self.expected = {keys[i]: oracle.eval_prob(values[i, -ws:], conf,
                                                   keys[i])
                         for i in pick.tolist()}
        self.n_points_expected = min(ws, self.n_points)

    # -- operations ---------------------------------------------------
    def _load(self, spark):
        return load_table(spark, self.data_dir, self.name)

    def _lap(self, spark, ctx, conf, name):
        with ctx.spans.span(name) as sp:
            cpu0, steal0 = probes.tree_cpu_s(), probes.steal_s()
            rows = detect(self._load(spark), ["key"], "ts", "value", conf,
                          tiebreak_cols=["eid"]).collect()
            cpu = probes.tree_cpu_s() - cpu0
            steal = probes.steal_s() - steal0
        return rows, sp.wall, cpu, steal / (sp.wall * ctx.cpus)

    def _noop(self, spark, ctx, name, build):
        with ctx.spans.span(name) as sp:
            build(self._load(spark)).write.format("noop").mode(
                "overwrite").save()
        return sp.wall

    def _check(self, ctx, rows):
        ctx.attempted += 1
        got = {r["key"]: (r["prob"], r["n_points"]) for r in rows}
        if len(rows) != self.n_keys or len(got) != self.n_keys:
            return ctx.fail(f"{len(rows)} rows for {self.n_keys} keys")
        for k, exp in self.expected.items():
            prob, n = got.get(k, (None, None))
            if n != self.n_points_expected or not _close(prob, exp, self.TOL):
                return ctx.fail(f"{k}: prob {prob!r} n {n} != oracle {exp!r}")

    def run(self, ctx: Ctx) -> dict:
        conf = self.conf
        t0 = time.perf_counter()
        spark, get_spark_s = _get_spark(ctx, f"perfbench-{self.name}")
        rows, warm_s, _, _ = self._lap(spark, ctx, conf, "warm")
        self._check(ctx, rows)
        setup_s = time.perf_counter() - t0

        def laps(budget, traced_layers, min_laps=3):
            """Laps for ``budget`` seconds: the walls and CPU times of the
            laps ``calm`` keeps, the per-layer walls of traced laps, and
            the number of laps run."""
            walls, cpus, stolen, layers = [], [], [], {}
            end, n = time.perf_counter() + budget, 0
            # stop before a lap of median length would overrun the budget
            while (n < min_laps
                   or time.perf_counter() + median(walls or [0]) <= end):
                n += 1
                if traced_layers:
                    for name, w in self._layer_laps(spark, ctx, conf).items():
                        layers.setdefault(name, []).append(w)
                try:
                    rows, wall, cpu, st = self._lap(spark, ctx, conf, "lap")
                except Exception as e:  # a lap that raises is a failed op
                    ctx.attempted += 1
                    ctx.fail(f"lap raised {e!r}")
                    continue
                self._check(ctx, rows)
                walls.append(wall)
                cpus.append(cpu)
                stolen.append(st)
            if not walls:
                raise RuntimeError(f"every lap failed: {ctx.notes[-1]}")
            keep, dropped = calm(list(zip(walls, cpus)), stolen)
            ctx.log.append({"laps": walls, "stolen": stolen})
            ctx.stolen_ops += dropped
            return [w for w, _ in keep], [c for _, c in keep], layers, n

        # JIT compilation keeps laps slow for several seconds after the
        # first one; a long-lived session pays that once, so it is neither
        # set-up nor measured
        laps(self.warmup_s, False, min_laps=2)
        ctx.stolen_ops = 0  # only measured laps count
        out = {"setup_s": setup_s, "session.get_spark_s": get_spark_s,
               "bench.warm_s": warm_s}
        if not ctx.trace:
            walls, cpus, _, _ = laps(ctx.seconds, False)
            lap = median(walls)
            out.update(latency_p50_s=lap, items_per_s=self.items() / lap,
                       cpu_s_per_op=median(cpus))
            return out
        plain, _, _, _ = laps(ctx.seconds / 2, False)
        ctx.eventlog(True)
        traced, _, layers, n_traced = laps(ctx.seconds / 2, True)
        lap = median(plain)
        scan = median(layers["sources.scan"])
        tail = median(layers["operators.detect.tail_window"])
        det = median(layers.get("operators.detect.deterministic", traced))
        out.update({
            "sources.scan_s": scan,
            "sources.rows": self.n_keys * self.n_points,
            "sources.bytes": self.bytes,
            "operators.detect.tail_window_s": tail - scan,
            "operators.columnar.s": det - tail,
            "operators.kernel.s": (median(traced) - det
                                   if "operators.detect.deterministic" in layers
                                   else 0.0),
            "trace.overhead_frac": median(traced) / lap - 1,
            "trace.untraced_lap_s": lap,
            # event-log sums cover every lap of the traced phase
            "trace.traced_laps": n_traced,
        })
        out["operators.kernel.ms_per_key"] = (
            out["operators.kernel.s"] / self.n_keys * 1e3)
        return out

    def _layer_laps(self, spark, ctx, conf) -> dict[str, float]:
        """One lap of each layer prefix of the main lap: scan alone,
        scan + tail-N, and (with Monte-Carlo tests in the conf) the
        deterministic tests alone over the same tails."""
        out = {
            "sources.scan": self._noop(spark, ctx, "sources.scan",
                                       lambda df: df),
            "operators.detect.tail_window": self._noop(
                spark, ctx, "operators.detect.tail_window",
                lambda df: tail_window(df, ["key"], "ts", "value",
                                       conf.window_size, ["eid"])),
        }
        det = tuple(m for m in conf.methods if m not in MC_METHODS)
        if det and len(det) < len(conf.methods):
            with ctx.spans.span("operators.detect.deterministic") as sp:
                detect(self._load(spark), ["key"], "ts", "value",
                       conf.with_(methods=det),
                       tiebreak_cols=["eid"]).collect()
            out["operators.detect.deterministic"] = sp.wall
        return out


class StreamWorkload:
    """Open-loop ``detect_stream()``: after closed-loop warm-up ticks, a
    generator thread atomically renames one staged tick file (one new point
    per key) into the watched directory every ``period_s``, on schedule
    whatever the stream does.

    A tick's latency runs from its scheduled drop time to the commit of
    the micro-batch that read it (file → batch from the checkpoint's
    ``sources/0`` log, commit time from ``commits/<batchId>``). A tick
    fails when it is uncommitted at the end, or when a measured (not
    warm-up) tick is slower than one period.
    The final per-key state must equal batch ``detect()`` over the same
    points."""

    name = "stream_detect_ticks"
    TOL = DetectWorkload.TOL

    def __init__(self, n_keys, history, period_s, warmup_ticks):
        self.n_keys, self.history, self.period_s = n_keys, history, period_s
        self.warmup_ticks = warmup_ticks

    def generate(self, ctx: Ctx):
        inputs = os.path.join(ctx.work, "stream")
        self.in_dir = os.path.join(inputs, "in")
        self.stage_dir = os.path.join(inputs, "stage")
        self.ckpt = os.path.join(ctx.work, "stream_ckpt")
        self.n_ticks = self.warmup_ticks + int(ctx.seconds / self.period_s) + 1
        self.ticks = gen.stream_ticks(
            ctx.seed, self.in_dir, self.stage_dir, self.n_keys, self.history,
            self.n_ticks)
        self.digest = gen.digest(inputs)

    def _drop_ticks(self, ticks, t0, drops):
        for i, path in enumerate(ticks):
            due = t0 + i * self.period_s
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            os.rename(path, os.path.join(self.in_dir, os.path.basename(path)))
            drops.append((os.path.basename(path), due, time.time(),
                          probes.steal_s()))

    def _file_batches(self) -> dict[str, int]:
        out = {}
        src = os.path.join(self.ckpt, "sources", "0")
        if not os.path.isdir(src):  # before the first batch plans
            return out
        for name in os.listdir(src):
            if name.startswith("."):
                continue
            with open(os.path.join(src, name)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = int(e["batchId"])
        return out

    def _commit_time(self, batch: int) -> float | None:
        try:
            return os.stat(os.path.join(self.ckpt, "commits", str(batch))
                           ).st_mtime_ns / 1e9
        except FileNotFoundError:
            return None

    def _wait_committed(self, q, deadline):
        """Until every dropped file's batch is committed or ``deadline``."""
        while time.time() < deadline:
            fb = self._file_batches()
            if all(n in fb and self._commit_time(fb[n]) is not None
                   for n in self._dropped):
                return
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            time.sleep(0.05)

    def run(self, ctx: Ctx) -> dict:
        conf = AnomalyzerConf()
        t0 = time.perf_counter()
        # the state store takes its partition count from the session's
        # shuffle partitions at first start: one per core, not the batch
        # default of 32 (~2.4 s per micro-batch on 100 keys)
        spark, get_spark_s = _get_spark(ctx, f"perfbench-{self.name}",
                                        shuffle_partitions=ctx.cpus)
        stream = spark.readStream.schema(SERIES_COLS).parquet(self.in_dir)
        out = detect_stream(stream, ["key"], "ts", "value", conf, "eid")
        q = (out.writeStream.format("memory").queryName("perfbench_ticks")
             .outputMode("update").option("checkpointLocation", self.ckpt)
             .start())
        self._dropped = ["hist.parquet"]
        with ctx.spans.span("warm") as warm:
            self._wait_committed(q, time.time() + 120)
        setup_s = time.perf_counter() - t0
        if self._commit_time(0) is None:
            raise RuntimeError("history batch did not commit")

        #: (file, scheduled drop time, actual drop time, host steal then)
        drops: list[tuple[str, float, float, float]] = []
        # warm-up ticks absorb JIT compilation like the batch warm-up laps.
        # They are closed-loop, each dropped once the one before committed,
        # so they cost less wall time; they are checked but not measured
        n_warm = self.warmup_ticks
        for path in self.ticks[:n_warm]:
            self._drop_ticks([path], time.time(), drops)
            self._dropped = [d[0] for d in drops]
            self._wait_committed(q, time.time() + 4 * self.period_s)
        phase_of = {d[0]: "warmup" for d in drops}
        rest = self.ticks[n_warm:]
        if ctx.trace:
            mid = len(rest) // 2
            phases = [("plain", rest[:mid], False),
                      ("traced", rest[mid:], True)]
        else:
            phases = [("measure", rest, None)]
        cpu, t_start = 0.0, time.time() + 0.2
        for phase, ticks, log in phases:
            if log is not None:
                ctx.eventlog(log)
            cpu0 = probes.tree_cpu_s()
            due = t_start + (len(drops) - n_warm) * self.period_s
            dropper = threading.Thread(target=self._drop_ticks,
                                       args=(ticks, due, drops))
            with ctx.spans.span("stream.ticks"):
                dropper.start()
                dropper.join()
            self._dropped = [d[0] for d in drops]
            self._wait_committed(q, drops[-1][1] + 2 * self.period_s)
            cpu += probes.tree_cpu_s() - cpu0
            phase_of.update((os.path.basename(p), phase) for p in ticks)
        after = (None, None, time.time(), probes.steal_s())
        # a batch's progress event is posted after its commit file is written
        last = max(self._file_batches().values())
        deadline = time.time() + 5
        while (q.lastProgress is None or q.lastProgress["batchId"] < last) \
                and time.time() < deadline:
            time.sleep(0.05)
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        q.stop()

        fb = self._file_batches()
        lat_of, committed = {}, ["hist.parquet"]
        for name, due, *_ in drops:
            ctx.attempted += 1
            b = fb.get(name)
            done = self._commit_time(b) if b is not None else None
            if done is None:
                ctx.fail(f"{name} uncommitted")
                continue
            committed.append(name)
            lat_of[name] = done - due
            # warm-up ticks must commit but, like warm-up laps, are not held
            # to the latency limit
            if done - due > self.period_s and phase_of[name] != "warmup":
                ctx.fail(f"{name} latency {done - due:.3f}s > period")
        self._check_final(spark, ctx, conf, committed)

        # a tick's stolen share runs from its drop to the next one
        stolen = {d[0]: (nxt[3] - d[3]) / ((nxt[2] - d[2]) * ctx.cpus)
                  for d, nxt in zip(drops, drops[1:] + [after])}
        measured = [d for d in drops if phase_of[d[0]] != "warmup"]
        ok = []
        for phase in ("measure", "plain", "traced"):
            names = [n for n, *_ in measured
                     if phase_of[n] == phase and n in lat_of]
            keep, dropped = calm(names, [stolen[n] for n in names])
            ok += keep
            ctx.stolen_ops += dropped
        ctx.log.append({"ticks": [n for n, *_ in drops],
                        "latency": [lat_of.get(n) for n, *_ in drops],
                        "stolen": [stolen[n] for n, *_ in drops]})
        lat = [lat_of[n] for n in ok]
        batches = {fb[n] for n in ok}
        tprog = [p for p in progress if p["batchId"] in batches]
        if not tprog:
            raise RuntimeError(f"no measured tick committed: {ctx.notes}")
        # points per second of a median micro-batch: the rate the stream
        # could sustain if it never idled
        busy = median([p["durationMs"]["triggerExecution"] / 1e3
                       for p in tprog])
        out = {
            "setup_s": setup_s,
            "session.get_spark_s": get_spark_s,
            "bench.warm_s": warm.wall,
            "latency_p50_s": median(lat),
            "items_per_s": self.n_keys * len(lat) / len(tprog) / busy,
            "cpu_s_per_op": cpu / max(1, len(measured)),
            "bench.generator_lag_s": max(a - d for _, d, a, _ in drops),
        }
        if ctx.trace:
            plain, traced = ([lat_of[n] for n in ok if phase_of[n] == ph]
                             for ph in ("plain", "traced"))
            out["trace.overhead_frac"] = median(traced) / median(plain) - 1
            # event-log sums cover every tick of the traced phase
            out["trace.traced_ticks"] = sum(
                1 for n, *_ in measured if phase_of[n] == "traced")
        out.update(self._stream_layers(tprog, measured, fb))
        return out

    def _stream_layers(self, tprog, drops, fb) -> dict:
        def dur(key):
            return median([p["durationMs"].get(key, 0) / 1e3 for p in tprog])

        state = [p["stateOperators"][0] for p in tprog if p["stateOperators"]]
        commits = {n: self._commit_time(fb[n]) for n, *_ in drops if n in fb}
        # ticks still waiting for a commit at each drop: 0 while the
        # stream keeps up with the input rate
        backlog = [sum(1 for m, *_ in drops[:i]
                       if (commits.get(m) or math.inf) > due)
                   for i, (_, due, *_) in enumerate(drops)]
        return {
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.state_commit_s": median(
                [s["commitTimeMs"] / 1e3 for s in state]),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_bytes": (state[-1]["memoryUsedBytes"]
                                      if state else 0),
            "streaming.batches": len(tprog),
            "streaming.backlog_ticks": statistics.mean(backlog),
        }

    def _check_final(self, spark, ctx, conf, committed):
        """Final per-key stream state == batch detect() over the same
        committed files (one check, counted as one more operation)."""
        ctx.attempted += 1
        w = Window.partitionBy("key").orderBy(F.col("total_seen").desc())
        final = {r["key"]: r for r in spark.table("perfbench_ticks")
                 .withColumn("_rn", F.row_number().over(w))
                 .where("_rn = 1").collect()}
        files = [os.path.join(self.in_dir, n) for n in committed]
        batch = {r["key"]: r for r in detect(
            spark.read.schema(SERIES_COLS).parquet(*files), ["key"], "ts",
            "value", conf, tiebreak_cols=["eid"]).collect()}
        want_seen = self.history + len(committed) - 1
        if final.keys() != batch.keys() or len(final) != self.n_keys:
            return ctx.fail("stream keys differ from batch keys")
        for k, b in batch.items():
            s = final[k]
            if (s["n_points"] != b["n_points"] or s["total_seen"] != want_seen
                    or not _close(s["prob"], b["prob"], self.TOL)):
                return ctx.fail(f"stream state of {k} != batch detect")


WORKLOADS = {
    # Many keys, short histories (12 points = 2.4 windows of 5): the
    # Monte-Carlo kernel (Arrow pandas-UDF boundary) dominates; the scan
    # and shuffle carry little. The kernel costs ~1.7 ms per key on a 4-core
    # host against ~0.8 s of fixed cost per lap, so 1,000 keys.
    "detect_mc_many_keys": DetectWorkload(
        "detect_mc_many_keys", "keys", n_keys=1000, n_points=12, n_files=4,
        row_group_rows=2048,
        conf=AnomalyzerConf(methods=SUPPORTED_METHODS, upper_bound=120.0,
                            lower_bound=80.0),
        n_sample=16),
    # A few hundred keys with history far beyond the window, in 32 files of
    # 5 row groups: the parquet scan, the tail-N exchange and sort dominate;
    # no Python runs. A lap costs ~0.8 s fixed plus ~0.22 s per million rows
    # on a 4-core host, so at 8 M rows the per-row work is ~70% of a lap.
    # Its laps keep getting faster for ~12 s after the first one (3.5 ->
    # 2.2 s), so it warms up longer than the others.
    "detect_long_history": DetectWorkload(
        "detect_long_history", "rows", n_keys=400, n_points=20000,
        n_files=32, row_group_rows=50000,
        conf=AnomalyzerConf(active_size=2, methods=("magnitude", "fence", "cdf"),
                            upper_bound=120.0, lower_bound=80.0),
        n_sample=32, warmup_s=10.0),
    # Open-loop stream at about a third of the rate a 4-core host sustains
    # (one ~0.8 s micro-batch per tick): trigger overhead and the state
    # store. Host steal can stretch a micro-batch to ~1.7 s, so the period
    # (the latency limit) leaves room for that. Tick latency keeps falling
    # (1.3 -> 0.8 s) over the first ~6 ticks.
    "stream_detect_ticks": StreamWorkload(n_keys=100, history=8,
                                          period_s=2.5, warmup_ticks=6),
}
