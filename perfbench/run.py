"""Geoengine benchmark: one workload, one fresh process, one JSON result.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its seeded inputs into a
private directory under ``.perfbench/``, starts Spark through
``geoengine.session.get_spark`` on ``local[nproc]`` with ``nproc`` shuffle
partitions, and then:

1. set-up (``setup_s``): from process start to every input generated and
   loaded (read and counted) in a session on a newly launched JVM. Input
   generation and the DuckDB oracle run in a child process that exits
   before the session starts; the oracle's time is not set-up;
2. the cold pass (``cold_s``), which is also the checked pass: each leg's
   output carries, through ``DataFrame.observe``, a row count and
   order-independent fingerprints that must equal an independent DuckDB
   computation over the same input files;
3. two warm-up passes, then passes for ``--seconds`` (at least three):
   ``pass_s`` and ``cpu_s`` are medians over them; ``peak_rss_mb`` is the
   process tree's peak from the session start to the end of the run.

With ``--trace 1`` the measured passes alternate between an untraced pass
and a traced one that runs each of the workload's layer calls on its own,
inside its own Spark job group; as many traced passes over the other
workload's layers follow, and the run reports the per-layer metrics
instead (see perfbench/README.md). The last line of standard output is
the JSON result; the full artifact (diagnostics, spans, every pass) goes
to ``.perfbench/<workload>-seed<seed>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

T0 = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import Observation  # noqa: E402

from perfbench import probe  # noqa: E402
from perfbench.eventlog import PYTHON_METRICS, EventLog  # noqa: E402
from perfbench.workloads import WORKLOADS, force  # noqa: E402

DEFAULT_SEED = 1
DRIVER_MEM = "2g"
MIN_PASSES = 3
WARM_PASSES = 2

# layers whose forced calls report Spark stage metrics in the traced run
STAGE_LAYERS = ("join", "topk", "results", "knn", "exprs", "pip", "images",
                "text", "clusters")
STAGE_METRICS = ("stages", "tasks", "shuffle_write_mb", "spill_mb",
                 "task_skew", "driver_gap_s")
LAYER_METRICS = (
    "session.start_s",
    "join.self_s", "join.fanout", "join.candidates", "join.pairs",
    "join.precision", "join.eps_self_s", "topk.self_s", "results.self_s",
    "results.udf_s", "knn.self_s", "knn.jobs", "exprs.tile_s",
    "pip.self_s", "pip.candidates", "pip.hits", "pip.precision",
    "images.self_s", "images.rows_per_s", "text.self_s", "text.pairs",
    "python.init_s", "python.run_s", "python.to_py_mb", "python.from_py_mb",
    "clusters.self_s", "clusters.jobs", "clusters.eps_pairs",
    "clusters.dense_share",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
) + tuple(f"{layer}.{m}" for layer in STAGE_LAYERS for m in STAGE_METRICS)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every input size (see inputs.SIZES)")
    return ap.parse_args(argv)


def pin_environment(run_dir: str, nproc: int, trace: bool) -> None:
    """Launch settings of the benchmark's own, fixed before the JVM starts:
    every SPARK_GRAFT_* switch at its default, run-private scratch dirs,
    and the event log only in the traced run."""
    for key in list(os.environ):
        if key.startswith(("SPARK_GRAFT_", "PYSPARK_")) or key in (
                "SPARK_DRIVER_MEM", "SPARK_CONF_DIR", "SPARK_LOCAL_DIRS"):
            del os.environ[key]
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = tmp  # gettempdir() may already have cached /tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        # a fixed driver heap: the JVM's resident size then follows the
        # heap in use, not how far the collector chose to grow the heap
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no hsperfdata files in the host's /tmp from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
        })
        os.makedirs(os.path.join(run_dir, "events"))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def start_session(nproc: int):
    from geoengine.session import get_spark

    t = time.perf_counter()
    spark = get_spark("perfbench", cores=nproc, shuffle_partitions=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it (the
    JVM exits once its stdin closes; its Python workers go with it)."""
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


class Runner:
    """One run's session, passes, counters and artifact."""

    def __init__(self, args, run_dir: str, nproc: int):
        self.args, self.run_dir, self.nproc = args, run_dir, nproc
        self.wl = WORKLOADS[args.workload](run_dir, args.seed, args.scale)
        self.mem = probe.PeakMemory()
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spans: list[dict] = []
        self.art: dict = {"workload": args.workload, "seed": args.seed,
                          "scale": args.scale, "nproc": nproc,
                          "trace": args.trace}

    # -- one pass ----------------------------------------------------------
    def run_pass(self, legs: dict, checked: bool = False
                 ) -> tuple[float, float] | None:
        """Run the pass legs once; returns (wall s, tree CPU s) or None when
        the pass failed (counted in ``failed``). A checked pass attaches
        each leg's fingerprint aggregates with ``observe``."""
        self.spark.catalog.clearCache()
        self.attempted += 1
        checks = self.wl.checks() if checked else {}
        observed, leg_s = {}, {}
        c0, t0 = self.cpu_s(), time.perf_counter()
        try:
            for n in self.wl.pass_legs:
                t_leg = time.perf_counter()
                df = legs[n]()
                if n in checks:
                    key, aggs = checks[n]
                    observed[key] = Observation(n)
                    df = df.observe(observed[key], *(
                        a.alias(f"f{i}") for i, a in enumerate(aggs)))
                force(df)
                leg_s[n] = round(time.perf_counter() - t_leg, 4)
        except Exception as e:  # noqa: BLE001 - a failed op is a metric
            self.failed += 1
            self.errors.append(f"pass: {type(e).__name__}: {e}"[:500])
            return None
        took = time.perf_counter() - t0, self.cpu_s() - c0
        self.art.setdefault("leg_s", []).append(leg_s)
        if checked:
            self.check({k: list(o.get.values()) for k, o in observed.items()})
        return took

    def cpu_s(self) -> float:
        """CPU seconds of the process tree, less the memory sampler's."""
        return probe.tree_cpu_s() - self.mem.cpu_s

    def prepare(self, workload: str, oracle: bool = True) -> dict:
        """Generate a workload's inputs, and its oracle fingerprints, in a
        child process (``inputs.py``) that has exited when this returns."""
        subprocess.run(
            [sys.executable, "-m", "perfbench.inputs", workload, self.run_dir,
             str(self.args.seed), str(self.args.scale), str(self.nproc)]
            + ([] if oracle else ["--no-oracle"]),
            cwd=ROOT, stdout=sys.stderr, check=True)
        with open(os.path.join(self.run_dir, "prepared.json")) as f:
            return json.load(f)

    def add_traced_workloads(self, legs: dict) -> None:
        """The traced run times the layers of every workload, the run's own
        first, so that each per-layer metric is measured in every traced
        run. The other workloads' inputs are generated here, after set-up."""
        self.traced = [(self.wl, self.tables, legs)]
        for name, cls in WORKLOADS.items():
            if name != self.wl.name:
                wl = cls(self.run_dir, self.args.seed, self.args.scale)
                self.prepare(name, oracle=False)
                tables = wl.load(self.spark)
                self.traced.append((wl, tables, wl.legs(tables)))

    def traced_pass(self, k: int, traced: list) -> float | None:
        """Run the traced legs of the ``traced`` workloads once, each in its
        own job group and span; a pass span is the legs' parent, and every
        span carries the pass index ``k``."""
        sc = self.spark.sparkContext
        self.spark.catalog.clearCache()
        self.attempted += 1
        parent = f"{traced[0][0].name}.pass#{k}"
        t0, w0 = time.perf_counter(), time.time()
        try:
            for wl, _, legs in traced:
                for n in wl.traced_legs:
                    name = f"{wl.name}.{n}"
                    span = f"{name}#{k}"
                    sc.setJobGroup(span, span)
                    a, wa = time.perf_counter(), time.time()
                    force(legs[n]())
                    self.spans.append({
                        "id": span, "name": name, "parent": parent,
                        "pass": k, "start": wa, "end": time.time(),
                        "dur": time.perf_counter() - a})
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            self.errors.append(f"traced pass: {type(e).__name__}: {e}"[:500])
            return None
        finally:
            sc.setJobGroup("bench", "bench")
        dur = time.perf_counter() - t0
        self.spans.append({"id": parent, "name": parent.split("#")[0],
                           "parent": None, "pass": k, "start": w0,
                           "end": time.time(), "dur": dur})
        return dur

    # -- phases ------------------------------------------------------------
    def setup(self) -> dict:
        """Process start -> inputs generated -> session up (JVM launch
        included) -> inputs loaded; the memory sampler starts once the
        child process that generated the inputs has exited."""
        art = self.art
        art["imports_s"] = time.perf_counter() - T0
        prep = self.prepare(self.wl.name)
        self.oracle = prep["oracle"]
        art.update(sizes=self.wl.sizes, generate_s=prep["generate_s"],
                   oracle_s=prep["oracle_s"])
        self.mem.start()
        self.spark, art["session_start_s"] = start_session(self.nproc)
        art["gc_s_start"] = probe.jvm_gc_s(self.spark)
        t = time.perf_counter()
        self.tables = self.wl.load(self.spark)
        for df in self.tables.values():
            df.count()
        art["load_s"] = time.perf_counter() - t
        self.spark.sparkContext.setJobGroup("bench", "bench")
        return {"setup_s": time.perf_counter() - T0 - prep["oracle_s"],
                "session.start_s": art["session_start_s"]}

    def warm(self, legs: dict) -> dict:
        """The cold pass (checked), then a fixed number of warm-up passes,
        so that every run measures the same pass indices. The traced run,
        which also times the other workload, runs one to stay short: its
        traced passes, interleaved with the untraced ones, warm the same
        code."""
        cold = self.run_pass(legs, checked=True)
        warm = 1 if self.args.trace else WARM_PASSES
        self.art["warmup_s"] = [r[0] for r in (
            self.run_pass(legs) for _ in range(warm)) if r]
        return {"cold_s": cold[0] if cold else None}

    def measure(self, legs: dict) -> dict:
        passes, cpus, traced = [], [], []
        t_end = time.perf_counter() + self.args.seconds
        k = 0
        while (time.perf_counter() < t_end or len(passes) < MIN_PASSES
               or (self.args.trace and len(traced) < MIN_PASSES)):
            r = self.run_pass(legs)
            if r is not None:
                passes.append(r[0])
                cpus.append(r[1])
            if self.args.trace:
                d = self.traced_pass(k, self.traced[:1])
                if d is not None:
                    traced.append(d)
                k += 1
            if self.failed > 3:
                break
        if self.args.trace and self.failed <= 3:
            # the other workloads' layers, as many passes, after the loop:
            # an untraced pass that followed them ran measurably slower
            for j in range(k):
                self.traced_pass(j, self.traced[1:])
        self.art.update(passes_s=passes, cpu_per_pass_s=cpus,
                        traced_passes_s=traced)
        return {"pass_s": statistics.median(passes) if passes else None,
                "cpu_s": statistics.median(cpus) if cpus else None,
                "traced": traced}

    def check(self, got: dict) -> None:
        """Compare a checked pass's fingerprints with the oracle; each
        fingerprint is one operation."""
        for key, want in self.oracle.items():
            self.attempted += 1
            have = [int(x) if x is not None else 0 for x in got.get(key, [])]
            if have != want:
                self.failed += 1
                self.errors.append(
                    f"check {key}: spark {have} != oracle {want}")
        self.art["fingerprints"] = {"oracle": self.oracle, "spark": got}


def layer_metrics(runner: Runner, m: dict) -> dict:
    """Per-layer figures of the traced run, medians over its traced
    passes; every workload's layers are timed in every traced run."""
    out = {name: 0.0 for name in LAYER_METRICS}
    out["session.start_s"] = m["session.start_s"]
    by_pass: dict[int, dict[str, dict]] = {}
    for s in runner.spans:
        if s["parent"] is not None:
            by_pass.setdefault(s["pass"], {})[s["name"]] = s
    names = [f"{wl.name}.{n}" for wl, _, _ in runner.traced
             for n in wl.traced_legs]
    complete = [p for p in by_pass.values() if all(n in p for n in names)]
    log = EventLog(os.path.join(runner.run_dir, "events"))

    def median_over_passes(f):
        vals = [f(p) for p in complete]
        return statistics.median(vals) if vals else 0.0

    for wl, tables, _ in runner.traced:
        def span(p, leg, wl=wl):
            return p[f"{wl.name}.{leg}"]

        for metric, (leg, base) in wl.self_of.items():
            out[metric] = median_over_passes(
                lambda p: span(p, leg)["dur"]
                - (span(p, base)["dur"] if base else 0.0))
        out.update(wl.counts(tables, out))
        for leg, layer in wl.stage_layer.items():
            per = [log.call_metrics(span(p, leg)["id"],
                                    span(p, leg)["start"] * 1e3,
                                    span(p, leg)["end"] * 1e3)
                   for p in complete]
            for key in STAGE_METRICS:
                vals = [x[key] for x in per]
                out[f"{layer}.{key}"] = (statistics.median(vals) if vals
                                         else 0.0)
        for leg, metric in wl.jobs_of.items():
            out[metric] = median_over_passes(
                lambda p: log.jobs(span(p, leg)["id"]))
    for name, _ in PYTHON_METRICS.values():
        out[name] = median_over_passes(lambda p: sum(
            log.python_metrics(p[f"{wl.name}.{leg}"]["id"])[name]
            for wl, _, _ in runner.traced for leg in wl.pass_legs))
    # the run's own workload: the traced calls of its pass legs against its
    # untraced pass, so the difference is the cost of tracing alone
    own = runner.wl
    out["trace.pass_s"] = median_over_passes(lambda p: sum(
        p[f"{own.name}.{leg}"]["dur"] for leg in own.pass_legs))
    out["trace.untraced_pass_s"] = m["pass_s"]
    out["trace.overhead_s"] = out["trace.pass_s"] - m["pass_s"]
    return out


UNITS = {"_s": "s", "_mb": "MiB", "jobs": "count", "stages": "count",
         "tasks": "count", "candidates": "count", "pairs": "count",
         "hits": "count", "precision": "ratio", "fanout": "ratio",
         "share": "ratio", "skew": "ratio", "rows_per_s": "1/s"}


def unit_of(name: str) -> str:
    for suffix in sorted(UNITS, key=len, reverse=True):
        if name.endswith(suffix):
            return UNITS[suffix]
    raise KeyError(name)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import geoengine.session  # noqa: F401 - the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(
        base, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    pin_environment(run_dir, nproc, bool(args.trace))
    load0, steal0 = probe.loadavg_1m(), probe.steal_s()
    runner = Runner(args, run_dir, nproc)
    try:
        phases = runner.art["phases_s"] = {}
        m = runner.setup()
        phases["setup"] = time.perf_counter() - T0
        legs = runner.wl.legs(runner.tables)
        if args.trace:
            runner.add_traced_workloads(legs)
        m.update(runner.warm(legs))
        phases["warm"] = time.perf_counter() - T0
        m.update(runner.measure(legs))
        phases["measure"] = time.perf_counter() - T0
        m["gc_s"] = probe.jvm_gc_s(runner.spark) - runner.art["gc_s_start"]
        per_layer = layer_metrics(runner, m) if args.trace else None
    finally:
        if getattr(runner, "spark", None) is not None:
            stop_jvm(runner.spark)
        peak = runner.mem.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    if m.get("pass_s") is None or m.get("cold_s") is None:
        print("perfbench: no pass completed: " + "; ".join(runner.errors),
              file=sys.stderr)
        return 1
    m["peak_rss_mb"] = peak
    fail_rate = runner.failed / runner.attempted
    runner.art.update(
        diagnostics={"loadavg_1m_start": load0,
                     "loadavg_1m_end": probe.loadavg_1m(),
                     "steal_s": probe.steal_s() - steal0,
                     "jvm_gc_s": m["gc_s"],
                     "peak_mb_by_command": runner.mem.peak_by_comm,
                     "sampler_cpu_s": runner.mem.cpu_s},
        end_to_end={k: m[k] for k in ("pass_s", "cold_s", "setup_s", "cpu_s",
                                      "peak_rss_mb")},
        fail_rate=fail_rate, attempted=runner.attempted,
        failed=runner.failed, errors=runner.errors, per_layer=per_layer,
        spans=runner.spans, wall_s=time.perf_counter() - T0,
    )
    with open(os.path.join(base, f"{args.workload}-seed{args.seed}"
                                 f"-trace{args.trace}.json"), "w") as f:
        json.dump(runner.art, f, indent=1)
    shown = dict(runner.art["end_to_end"], fail_rate=fail_rate)
    for k, v in shown.items():
        print(f"{args.workload} {k} {v:.6g} "
              f"{'ratio' if k == 'fail_rate' else unit_of(k)}")
    if per_layer is not None:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": unit_of(k)}
                   for k, v in runner.art["end_to_end"].items()}
    print(json.dumps({"correct": "fingerprints" in runner.art
                      and runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
