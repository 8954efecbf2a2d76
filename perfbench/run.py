"""Benchmark for tectonic-spark: one workload per run, one closed-loop client.

Run from the root of a checkout::

    python3 perfbench/run.py --workload pushdown_json --seed 1 --seconds 10 --trace 0

The run builds its inputs from ``--seed`` (cached under ``.perfbench_cache/``
in the checkout; generation is not timed), starts the session with
``tectonic_spark.get_spark`` on ``local[2]`` and sets up (session start,
source registration, one untimed warm-up pass of every query), then runs
passes over the workload's queries, in an order shuffled by the seed, for
``--seconds`` (at least one whole pass). Each query starts only after the
previous one returned and every result is checked against truth computed
without the program. Times leave out the CPU time the hypervisor gave to
other guests (see ``procs.unstolen``), and pass-level numbers are built from
each query's median. The last line of stdout is one JSON object:
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the spans to ``.perfbench_cache/trace-<workload>-s<seed>.json``).

A wrong result makes ``correct`` false and the exit code 1; without the
program to measure (no ``tectonic_spark`` in the working directory) the run
exits 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import tempfile
import time

import procs  # this file's directory is on sys.path

START = procs.mark()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# Spark runs two task threads. On a shared 4-vCPU host that leaves cores for
# the JVM's compiler and collector threads, the driver and this process's
# sampler: with two busy background processes a pushdown_json pass slowed
# by 1% on local[2] against 40% on local[4].
CORES = 2
# a 1 GiB driver heap keeps the JVM's resident size (and so peak_rss_mb)
# from tracking when garbage collection happens to run
SESSION_CONF = {"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "1g"}


def _tail(per_op: dict[str, list[float]]) -> tuple[float, str]:
    """The highest percentile of all query times with at least ten samples
    above it (nearest rank), once that is p90 or higher (100 samples or
    more). With fewer samples such a percentile sits near the median, so the
    median time of the slowest query is reported instead.
    Returns (value, description)."""
    xs = sorted(x for v in per_op.values() for x in v)
    n = len(xs)
    if n >= 100:
        p = (100 * (n - 10)) // n
        return xs[-(-p * n // 100) - 1], f"p{p} of {n} queries"
    slow = max(per_op, key=lambda q: statistics.median(per_op[q]))
    return statistics.median(per_op[slow]), f"median of the slowest query ({slow}), {n} queries"


def _spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under one job group, from the public
    status tracker. Skipped stages report no info and count as no stage."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


class Bench:
    def __init__(self, args) -> None:
        import spans
        import workloads

        self.args = args
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.tree = procs.ProcessTree()
        self.tr = spans.Tracer(enabled=bool(args.trace))
        gen0 = procs.mark()
        self.wl = workloads.WORKLOADS[args.workload](self.cache, args.seed)
        self.gen = (gen0, procs.mark())  # input generation, left out of set-up
        self.ops = list(self.wl.ops)
        random.Random(args.seed).shuffle(self.ops)
        tmp = tempfile.gettempdir()  # inside the checkout; see main()
        self.conf = {
            **SESSION_CONF,
            "spark.local.dir": tmp,
            # C1 only: the JIT compiler's CPU then falls in set-up instead
            # of the first timed passes (it halved the JVM's CPU in the first
            # pushdown_json pass after warm-up, 7 s to 2 s, and left the
            # wall time of later passes as it was)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
        }
        self.spark = None
        self.failed = 0
        self.attempted = 0
        self.bad: list[str] = []

    # ------------------------------------------------------------ one query
    def run_op(self, op, group: str, record: dict | None) -> None:
        """Build, drive and check one query; time build and sink apart."""
        self.spark.sparkContext.setJobGroup(group, op.name)
        with self.tr.span("query", op=op.name):
            m0 = procs.mark()
            t0 = m0[0]
            with self.tr.span("operators.build", op=op.name):
                df = op.build(self.spark)
            t1 = t2 = time.perf_counter()
            if self.tr.enabled:
                # planning alone (analysis, optimisation, physical plan,
                # Python-source planning); the sink then plans again
                with self.tr.span("spark.plan", op=op.name):
                    df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
            with self.tr.span("operators.exec", op=op.name):
                got = op.sink(df)
            m3 = procs.mark()
            t3 = m3[0]
        self.attempted += 1
        if not op.check(got):
            self.failed += 1
            self.bad.append(f"{op.name}: got {got!r}")
        if record is not None:
            build, plan, run = t1 - t0, t2 - t1, t3 - t2
            # build + sink with the stolen share of the query's window removed
            fair = procs.unstolen(m0, m3) * (build + run) / (t3 - t0)
            record["build"] += build
            record["exec"] += run
            record["plan"] += plan
            record["per_op"].setdefault(op.name, []).append((build, run, fair))

    def cycle(self, idx: int, record: dict | None, stop: float = math.inf) -> float | None:
        """One pass over the queries; its wall time, or None if ``stop``
        (a perf_counter time) came before the last query started."""
        group = f"perfbench-{idx}"
        t0 = time.perf_counter()
        for op in self.ops:
            if time.perf_counter() >= stop:
                return None
            if self.wl.clear_cache:
                self.spark.catalog.clearCache()
            self.run_op(op, group, record)
        return time.perf_counter() - t0

    # ------------------------------------------------------------- set-up
    def setup(self) -> dict:
        """Session start, source registration and one untimed warm-up pass
        over every query. Timed from the start of this script, less input
        generation, so it includes the JVM launch and the first Python
        workers."""
        from tectonic_spark import get_spark
        from tectonic_spark.sources import register_tectonic_sources

        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = get_spark("perfbench", cpus=CORES, extra_conf=self.conf)
        t1 = time.perf_counter()
        with self.tr.span("session.register"):
            register_tectonic_sources(self.spark)
        t2 = time.perf_counter()
        self.cycle(-1, None)
        t3 = procs.mark()
        gen0, gen1 = self.gen
        return {
            "setup_s": procs.unstolen(START, gen0) + procs.unstolen(gen1, t3),
            "setup_wall_s": t3[0] - START[0] - (gen1[0] - gen0[0]),
            "session.start_s": t1 - t0,
            "session.register_s": t2 - t1,
            "pyworker.spawned": len(self.tree.pyworkers),
        }

    # ------------------------------------------------------------- timing
    def measure(self, seconds: float) -> dict:
        """Closed-loop passes for ``seconds``. Untraced, the run stops between
        two queries once ``seconds`` have passed and one pass is whole; with
        tracing, it runs whole passes (at least two), alternately with spans
        off and on, so the run also yields the tracing overhead."""
        rec = {"build": 0.0, "exec": 0.0, "plan": 0.0, "per_op": {}}
        cycles: list[float] = []
        traced: list[float] = []
        untraced: list[float] = []
        counts: list[tuple[int, int, int]] = []
        self.tree.reset_peak()
        cpu0 = self.tree.cpu()
        tracing = self.tr.enabled
        deadline = time.perf_counter() + seconds
        idx = 0
        while idx < (2 if tracing else 1) or time.perf_counter() < deadline:
            on = tracing and idx % 2 == 1
            keep = on or not tracing  # a pass the reported numbers come from
            self.tr.enabled = on
            stop = deadline if idx and not tracing else math.inf
            dt = self.cycle(idx, rec if keep else None, stop)
            if dt is None:
                break
            (traced if on else untraced).append(dt)
            cycles.append(dt)
            if keep:
                counts.append(_spark_counts(self.spark.sparkContext, f"perfbench-{idx}"))
            idx += 1
        self.tr.enabled = tracing
        cpu1 = self.tree.cpu()
        n = len(cycles)
        return {
            "cycles": cycles,
            "traced": traced,
            "untraced": untraced,
            "rec": rec,
            "counts": counts,
            "cpu": {k: (cpu1[k] - cpu0[k]) / n for k in cpu0},
            "peak_rss": self.tree.peak_rss,
        }

    def end_to_end(self, setup: dict, m: dict) -> dict:
        """Times are wall times with the host's stolen share removed (see
        procs.unstolen). Pass-level numbers are sums of each query's median
        time, the time of a typical pass: a run holds two to six passes,
        and the median of so few pass times follows one slow query."""
        per_op = m["rec"]["per_op"]
        fair = {q: [f for *_, f in v] for q, v in per_op.items()}
        op_fair = [statistics.median(v) for v in fair.values()]
        cycle = sum(op_fair)
        raw = sum(statistics.median(b + e for b, e, *_ in v) for v in per_op.values())
        tail, how = _tail(fair)
        gen0, gen1 = self.gen
        print(
            f"# {self.args.workload}: whole passes {', '.join(f'{c:.2f}' for c in m['cycles'])} s "
            f"wall, {sum(map(len, fair.values()))} queries timed; pass {raw:.2f} s wall, "
            f"{cycle:.2f} s without stolen time; set-up {setup['setup_wall_s']:.2f} s wall; "
            f"op_tail_s is the {how}; inputs generated in {gen1[0] - gen0[0]:.2f} s",
            file=sys.stderr,
        )
        return {
            "setup_s": setup["setup_s"],
            "cycle_s": cycle,
            "op_p50_s": statistics.median(op_fair),
            "op_tail_s": tail,
            "scan_mb_s": self.wl.bytes_per_cycle / 1e6 / cycle,
            "peak_rss_mb": m["peak_rss"] / 1e6,
        }

    def per_layer(self, setup: dict, m: dict) -> dict:
        import layers
        import pyarrow as pa
        import workloads

        counts = m["counts"]
        n_traced = len(m["traced"])
        rec = m["rec"]
        # layers replayed in this process, one core, over the same inputs
        rp = workloads.replay(self.cache, self.args.seed, self.wl.scan)
        core = layers.core(self.tr, rp.json_probe, rp.csv_probe, rp.json_schema)
        src, csv_batches = layers.sources(self.tr, rp.scan, rp.csv_path, rp.csv_rows)
        # the writers replay writes the rows of the CSV probe (header + whole
        # lines), so its input bytes are exact
        probe_rows = rp.csv_probe.count(b"\n") - 1
        head = pa.Table.from_batches(csv_batches).slice(0, probe_rows).to_batches()
        wr = layers.writers(
            self.tr, head, len(rp.csv_probe), os.path.join(self.cache, "replay"),
            rp.csv_columns,
        )
        for q, pairs in sorted(rec["per_op"].items()):
            b = statistics.median(p[0] for p in pairs)
            e = statistics.median(p[1] for p in pairs)
            print(f"# operators {q}: build {b:.4f} s, exec {e:.4f} s", file=sys.stderr)
        out = {
            "session.start_s": setup["session.start_s"],
            "session.register_s": setup["session.register_s"],
            "pyworker.spawned": setup["pyworker.spawned"],
            **core,
            **src,
            **wr,
            "operators.build_s": rec["build"] / n_traced,
            "operators.exec_s": rec["exec"] / n_traced,
            "spark.jobs": statistics.median(c[0] for c in counts),
            "spark.stages": statistics.median(c[1] for c in counts),
            "spark.tasks": statistics.median(c[2] for c in counts),
            "spark.plan_s": rec["plan"] / n_traced,
            "cpu.driver_s": m["cpu"]["driver"],
            "cpu.jvm_s": m["cpu"]["jvm"],
            "cpu.pyworker_s": m["cpu"]["pyworker"],
            "cpu_s_per_cycle": sum(m["cpu"].values()),
            "trace.overhead_s": statistics.median(m["traced"]) - statistics.median(m["untraced"]),
        }
        return out


def _declared(kind: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares under ``kind``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has exited."""
    import procs
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    alive = procs.descendants(os.getpid())
    gw.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    procs.reap(alive, timeout_s=20)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tectonic_spark", "__init__.py")):
        print("perfbench: run from the root of a tectonic-spark checkout", file=sys.stderr)
        return 2
    # scratch files (shuffle, JVM and Python temp files) stay in the checkout
    tmp = os.path.join(ROOT, ".perfbench_cache", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    sys.path[:0] = [HERE, ROOT]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    bench = Bench(args)
    bench.tree.start()
    try:
        setup = bench.setup()
        t0 = time.perf_counter()
        m = bench.measure(args.seconds)
        t1 = time.perf_counter()
        print(
            f"# set-up {setup['setup_s']:.2f} s; measured {t1 - t0:.2f} s; "
            f"{len(bench.tree.pyworkers)} Python processes while measuring",
            file=sys.stderr,
        )
        if args.trace:
            metrics = bench.per_layer(setup, m)
            print(f"# replays {time.perf_counter() - t1:.2f} s", file=sys.stderr)
            path = os.path.join(bench.cache, f"trace-{args.workload}-s{args.seed}.json")
            bench.tr.dump(path)
        else:
            metrics = bench.end_to_end(setup, m)
    finally:
        bench.tree.stop()
        _stop_spark(bench.spark)
    for line in bench.bad[:10]:
        print(f"perfbench: wrong result {line}", file=sys.stderr)
    units = _declared("per_layer" if args.trace else "end_to_end")
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not bench.failed,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if bench.failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
