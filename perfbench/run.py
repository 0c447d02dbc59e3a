"""Benchmark of the KG engine on this host.

    python3 perfbench/run.py --workload factory --seed 3 --seconds 10 --trace 0

Run from the repository root.  One process, one local Spark session
with one task thread per core (``nproc``) and a driver heap sized from
``MemTotal``; every other setting is ``get_spark``'s default.  All
scratch data (inputs, outputs, Spark local dirs, the event log, temp
files) lives under ``.perfbench_work/`` in the current directory and is
removed when the run ends.

A run:

1. set-up: session start, seeded input written to parquet, then
   ``WARMUP_REPS`` untimed repetitions of the workload (their times are
   the warm-up curve); the first one keeps its output;
2. timed repetitions, as many as fit in ``--seconds`` (at least one);
3. the check: the kept output must match an independent oracle and the
   signature recorded for its input in ``expected.json``, and every
   timed repetition must reproduce that signature.  A repetition that
   raised or differs counts as failed.

``--trace 0`` prints the end-to-end metrics, medians over the timed
repetitions: all of them in the details line and the gated ones
(``END_TO_END``) in the result.  ``--trace 1`` splits ``--seconds``
into two phases, traced (event log on) and then untraced, each in a
restarted session.  In the traced phase it also calls each layer of
the workload once, forced and in its own job group, and prints the
per-layer metrics.  The last line of standard output is the result
object; the line before it holds the run's details (input size, warm-up
curve, every repetition's time, the check, and in a traced run each
layer's busy time as a share of the untraced ``run_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

# One untimed repetition takes the cold start (class loading, code
# generation, Python workers): it runs about twice as long as the next,
# while the second and third repetitions differed by a median of 1 %
# (0-14 %) over six runs on 4 cores.  More would not fit the time the
# benchmark's runs may take.
WARMUP_REPS = 1

MEASURED = {"setup_s": "s", "run_s": "s", "cpu_s": "s",
            "peak_rss_mb": "MB", "shuffle_write_bytes": "bytes",
            "pass_frac": "ratio"}
# The metrics gated in BENCHMARK.json: those that repeat across runs on
# a shared 4-core host.  run_s, cpu_s and peak_rss_mb move by 15-25 %
# between runs with the host's load and the JVM's warm-up, so they are
# reported in the details line only.
END_TO_END = {k: MEASURED[k]
              for k in ("setup_s", "shuffle_write_bytes", "pass_frac")}

CORE = {"busy_s": "s", "jvm_cpu_s": "s", "py_cpu_s": "s",
        "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
        "rows_out": "count"}
EXTRA_UNITS = {"hit_ratio": "ratio", "distinct_ratio": "ratio",
               "task_skew": "ratio", "stages": "count", "gc_s": "s",
               "bytes_out": "bytes"}
LAYER_EXTRAS = {
    "extract": (), "mentions_jvm": (), "mentions_fused": (),
    "linking": ("hit_ratio",), "emit": ("distinct_ratio", "task_skew"),
    "canonicalize": ("stages",),
    "tc": ("stages", "gc_s", "task_skew"), "reach": ("stages", "gc_s"),
    "cc_chain": ("stages", "gc_s"),
    "cc_hub": ("stages", "gc_s", "task_skew"),
    "nifttl": ("gc_s", "task_skew", "bytes_out"), "ntriples": ("bytes_out",),
}
RUN_METRICS = {"sink.busy_s": "s", "sink.bytes_out": "bytes",
               "session.start_s": "s", "warmup_s": "s",
               "spark.tasks_failed": "count", "trace_overhead": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {}
    for layer, extras in LAYER_EXTRAS.items():
        for m, u in CORE.items():
            units[f"{layer}.{m}"] = u
        for m in extras:
            units[f"{layer}.{m}"] = EXTRA_UNITS[m]
    units.update(RUN_METRICS)
    return units


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def driver_memory() -> str:
    """A quarter of MemTotal, at most get_spark's 16g default."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1, min(16, kb // 4 // 1024 ** 2))}g"


class Session:
    """The benchmark's Spark session, its scratch space and its shutdown.

    It points the process's temp and Spark local dirs into ``work`` and
    ``close`` ends the JVM for good: it serves a benchmark process only,
    never one that goes on to use Spark."""

    def __init__(self, work: str) -> None:
        self.work = work
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                          SPARK_GRAFT_LOCAL_DIR=local)
        self.java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.spark = None

    def start(self, extra: dict | None = None):
        from pyontutils_spark.session import get_spark
        self.spark = get_spark(
            "perfbench", cores=len(os.sched_getaffinity(0)),
            driver_memory=driver_memory(),
            extra={"spark.driver.extraJavaOptions": self.java_opts,
                   "spark.ui.showConsoleProgress": "false",
                   **(extra or {})})
        return self.spark

    def restart(self, extra: dict):
        self.spark.stop()
        return self.start(extra)

    def close(self) -> None:
        """Stop Spark and the JVM, then wait for every child to end."""
        import procstat
        from pyspark import SparkContext
        children = procstat.tree()[1:]
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        for pid in children:
            while os.path.exists(f"/proc/{pid}") and \
                    time.monotonic() < deadline:
                try:
                    os.kill(pid, signal.SIGTERM)
                    os.waitpid(pid, os.WNOHANG)
                except (ProcessLookupError, ChildProcessError):
                    pass
                time.sleep(0.1)


class Reps:
    """Timed end-to-end repetitions of one workload."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.run_s: list[float] = []
        self.cpu_s: list[float] = []
        self.shuffle: list[int] = []
        self.sigs: list = []

    def one(self, keep: bool = False) -> float:
        import procstat
        import sparkstat
        spark = self.wl.spark
        shuffle0 = sparkstat.shuffle_write_bytes(spark)
        before = procstat.TreeSample()
        t0 = time.perf_counter()
        try:
            sig = self.wl.rep(keep)
            dt = time.perf_counter() - t0
            after = procstat.TreeSample()
            self.run_s.append(dt)
            self.cpu_s.append(after.cpu_s - before.cpu_s)
            self.shuffle.append(
                sparkstat.shuffle_write_bytes(spark) - shuffle0)
            self.sigs.append(normalize(sig))
        except Exception as e:  # a failed repetition is counted, not fatal
            dt = time.perf_counter() - t0
            self.sigs.append(f"raised {type(e).__name__}: {e}"[:300])
        return dt

    def within(self, seconds: float) -> None:
        """Repeat while another repetition as long as the last one
        still fits in ``seconds``; always at least once."""
        t0 = time.monotonic()
        while True:
            last = self.one()
            if time.monotonic() - t0 + last > seconds:
                return


def normalize(sig):
    """JSON round trip, so tuples compare equal to recorded lists."""
    return json.loads(json.dumps(sig))


def recorded(workload: str, seed: int):
    """The signature ``record.py`` stored for this seed's input."""
    from workloads import SEED_CYCLE
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")
    with open(path) as f:
        return json.load(f).get(workload, {}).get(str(seed % SEED_CYCLE))


def check(wl, warm: Reps, reps: list[Reps],
          errors: list[str]) -> tuple[int, int, dict]:
    """(attempted, failed, details) over all timed repetitions.

    The first warm-up repetition kept its output; it must match the
    oracle, and the signature recorded for this seed when there is one.
    Every timed repetition must reproduce its signature.  ``errors``
    (mismatches found elsewhere) fail every repetition."""
    want = warm.sigs[0]
    if isinstance(want, str):
        errors = errors + [f"first repetition {want}"]
    else:
        errors = errors + wl.verify(want)
    rec = recorded(wl.name, wl.seed)
    if rec is not None and rec != want:
        errors.append(f"signature {want} differs from the one recorded "
                      f"for seed {wl.seed}: {rec}")
    sigs = [s for r in reps for s in r.sigs]
    failed = len(sigs) if errors else sum(s != want for s in sigs)
    return len(sigs), failed, {"errors": errors, "signature": want,
                               "recorded": rec is not None}


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Per-layer spans of a traced run, rebuilt with the event log."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.values: dict[str, dict[str, float]] = {}

    def materialize(self, df):
        df = df.persist()
        df.count()
        return df

    def _span(self, layer: str, body):
        import procstat
        sc = self.spark.sparkContext
        sc.setJobGroup(layer, layer)
        before = procstat.TreeSample()
        t0 = time.perf_counter()
        try:
            out = body()
        finally:
            busy = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
        after = procstat.TreeSample()
        self.values[layer] = {"busy_s": busy,
                              "py_cpu_s": after.py_cpu_s - before.py_cpu_s}
        return out

    def force(self, layer: str, make, bytes_col=None) -> int:
        """Build the layer's DataFrame and run it to a no-op sink."""
        from pyspark.sql import functions as F
        from workloads import sink
        aggs = {} if bytes_col is None else {"bytes": F.sum(bytes_col)}
        got = self._span(layer, lambda: sink(make(), **aggs))
        self.values[layer]["rows_out"] = got[0]
        if bytes_col is not None:
            self.values[layer]["bytes_out"] = int(got[1] or 0)
        return got[0]

    def call(self, layer: str, fn) -> None:
        """Time a call that runs its own action (a writer)."""
        self._span(layer, fn)

    def extra(self, layer: str, metric: str, value: float) -> None:
        self.values.setdefault(layer, {})[metric] = value

    def metrics(self, groups) -> dict[str, float]:
        """Every per-layer metric; layers this workload bypasses read 0."""
        out = {name: 0.0 for name in per_layer_units()}
        for layer, vals in self.values.items():
            g = groups.get(layer)
            if g is not None and layer in LAYER_EXTRAS:
                vals.setdefault("jvm_cpu_s", g.jvm_cpu_s)
                vals.setdefault("shuffle_write_bytes", g.shuffle_write_bytes)
                vals.setdefault("spill_bytes", g.spill_bytes)
                extras = LAYER_EXTRAS[layer]
                if "stages" in extras:
                    vals["stages"] = len(g.stages)
                if "gc_s" in extras:
                    vals["gc_s"] = g.gc_s
                if "task_skew" in extras:
                    vals["task_skew"] = g.task_skew
            for m, v in vals.items():
                if f"{layer}.{m}" in out:
                    out[f"{layer}.{m}"] = v
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    try:
        import pyontutils_spark
    except ImportError as e:
        print(f"perfbench: the program is missing here: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(pyontutils_spark.__file__).startswith(
            root + os.sep):
        print("perfbench: pyontutils_spark is not the one in "
              f"{root}", file=sys.stderr)
        return 2
    import procstat
    import sparkstat
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    sess = Session(work)
    try:
        t0 = time.perf_counter()
        spark = sess.start()
        session_start_s = process_age_s()
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        g0 = time.perf_counter()
        wl.generate()
        generate_s = time.perf_counter() - g0
        warm = Reps(wl)
        w0 = time.perf_counter()
        for i in range(WARMUP_REPS):
            warm.one(keep=i == 0)
        warmup_s = time.perf_counter() - w0
        setup_s = process_age_s()

        detail = {"workload": args.workload, "seed": args.seed,
                  "trace": args.trace, "input": wl.size(),
                  "warmup_curve_s": warm.run_s}
        if args.trace:
            # traced, then untraced, each in a restarted session (whose
            # start-up cost both phases pay in their first repetition):
            # the JVM's warm-up drift makes later repetitions faster, so
            # it can raise the overhead ratio but not lower it
            log_dir = os.path.join(work, "events")
            os.makedirs(log_dir)
            reps = []
            for options in (sparkstat.event_log_options(log_dir), {}):
                wl.spark = sess.restart(options)
                reps.append(Reps(wl))
                reps[-1].within(args.seconds / 2)
                if options:
                    tr = Tracer(wl.spark)
                    layer_errors = wl.layers(tr,
                                             os.path.join(work, "layers"))
            groups = sparkstat.read_event_log(log_dir)
        else:
            reps = [Reps(wl)]
            reps[0].within(args.seconds)
            peak_rss_mb = procstat.TreeSample().peak_rss_mb
        c0 = time.perf_counter()
        attempted, failed, detail["check"] = check(
            wl, warm, reps, layer_errors if args.trace else [])
        detail.update(session_start_s=session_start_s, generate_s=generate_s,
                      check_s=time.perf_counter() - c0)
        if args.trace:
            traced, untraced = (median(r.run_s) for r in reps)
            metrics = tr.metrics(groups)
            metrics.update({
                "session.start_s": session_start_s, "warmup_s": warmup_s,
                "spark.tasks_failed": sum(g.tasks_failed
                                          for g in groups.values()),
                "trace_overhead": traced / untraced})
            units = per_layer_units()
            detail["traced_run_s"] = reps[0].run_s
            detail["untraced_run_s"] = reps[1].run_s
            detail["busy_share_of_run_s"] = {
                layer: v["busy_s"] / untraced
                for layer, v in tr.values.items() if "busy_s" in v}
        else:
            r = reps[0]
            detail["timed_run_s"] = r.run_s
            metrics = {"setup_s": setup_s, "run_s": median(r.run_s),
                       "cpu_s": median(r.cpu_s), "peak_rss_mb": peak_rss_mb,
                       "shuffle_write_bytes": median(r.shuffle),
                       "pass_frac": (attempted - failed) / attempted}
            detail["measured"] = {k: {"value": v, "unit": MEASURED[k]}
                                  for k, v in metrics.items()}
            units = END_TO_END
        detail["wall_s"] = time.perf_counter() - t0
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
