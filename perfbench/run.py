"""Link-graph benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload hub-rmat --seed 1 --seconds 10 --trace 0

Run from the root of a linkgraph checkout.  The run starts a local[nproc]
Spark session, builds the workload's fixture and its oracle, then times
passes of the workload's call sequence until ``--seconds`` have passed (at
least one; there is no untimed warm-up pass, see README.md).  Every output
is checked against the oracle.  The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``; with ``--trace 1`` the per-layer metrics, taken from a
pass in which every call has its own span and Spark job group, plus probes
that call single layer functions.  Spans go to
``.perfbench_work/traces/`` under the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_PASSES = 5


def _metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics declared
    in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Ops:
    """Operations attempted and failed: algorithm calls and output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, name: str, exc: BaseException | None = None) -> None:
        """Count a failure; the caller counts the attempt."""
        self.failed += 1
        print(f"perfbench: FAILED {name}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def check(self, name: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.fail(name)


class Context:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.work = work
        self.traced = False
        self.cores = len(os.sched_getaffinity(0))
        self.partitions = 2 * self.cores
        self.ops = Ops()
        self.spark = self.tracer = None

    def start_session(self, run_id: str) -> None:
        from linkgraph.session import get_spark

        from perfbench.trace import Tracer

        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local)
        self.spark = get_spark(
            "perfbench", cores=self.cores, shuffle_partitions=self.partitions,
            driver_memory="2g",
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "10",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.tracer = Tracer(self.spark.sparkContext, run_id)

    @contextlib.contextmanager
    def call_span(self, name: str):
        """A span per layer call in a traced run; nothing otherwise."""
        if self.traced:
            with self.tracer.span(name) as span:
                yield span
        else:
            yield None


def _environment(work: str) -> None:
    """Make linkgraph and bench.py importable here and in the Python
    workers the JVM forks, and keep temporary files inside the checkout."""
    sys.path.insert(0, ROOT)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.pop("SPARK_LOCAL_DIRS", None)


def _stop(spark) -> None:
    """Stop Spark and wait for the Spark JVM (and the Python workers it
    forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["hub-rmat", "crawl-pipeline"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    t_start = time.perf_counter()
    for need in ("linkgraph", "bench.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {ROOT}; "
                     "run from the root of a linkgraph checkout")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _environment(work)
        return _run(args, work, run_id, t_start, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, run_id, t_start, base) -> int:
    from perfbench.trace import RssSampler
    from perfbench.workloads import WORKLOADS

    ctx = Context(args, work)
    t0 = time.time()
    ctx.start_session(run_id)
    ctx.tracer.record("session.start", t0, time.time())
    tracer, sc = ctx.tracer, ctx.spark.sparkContext
    wl = WORKLOADS[args.workload](ctx)
    try:
        with RssSampler(sc._gateway.proc.pid) as rss:
            with tracer.span("fixture.build") as fx:
                wl.build_fixture()
            with tracer.span("oracle.build"):
                wl.build_oracle()
            setup_s = time.perf_counter() - t_start

            ctx.traced = bool(args.trace)
            rss.reset()
            passes, t_timed = [], time.perf_counter()
            while True:
                with tracer.span("pass") as sp:
                    out = wl.run_pass()
                out["pass_span"] = sp
                out["wall_s"] = sp["end"] - sp["start"]
                wl.check(out)
                passes.append(out)
                if (time.perf_counter() - t_timed >= args.seconds
                        or len(passes) >= MAX_PASSES):
                    break
                wl.cleanup(out)
            peak_rss = rss.peak_mb

            if args.trace:
                with tracer.span("probes"):
                    layers = wl.probes(passes[-1])
        wl.cleanup(passes[-1])

        def med(key):
            return statistics.median(x[key] for x in passes)

        if args.trace:
            units = _metric_units("per_layer")
            metrics = {k: 0.0 for k in units}
            metrics.update(layers)
            metrics["session.start_s"] = tracer.spans[0]["end"] - tracer.spans[0]["start"]
            metrics["fixture.build_s"] = fx["end"] - fx["start"]
            metrics["trace.wall_s"] = med("wall_s")
            metrics["peak_rss_mb"] = peak_rss
            tracer.dump(os.path.join(base, "traces", run_id + ".json"), ctx.cores)
        else:
            summaries = [wl.summary(x) for x in passes]
            metrics = {
                "setup_s": setup_s,
                "wall_s": med("wall_s"),
                "pagerank_s": statistics.median(s["pagerank_s"] for s in summaries),
                "pagerank_edges_per_s":
                    statistics.median(s["pagerank_edges_per_s"] for s in summaries),
                "shuffle_mb": statistics.median(
                    tracer.counters(x["pass_span"], ctx.cores)["shuffle_write_mb"]
                    for x in passes),
            }
            units = _metric_units("end_to_end")
        unknown = set(metrics) - set(units)
        if unknown:
            raise RuntimeError(f"unregistered metrics {sorted(unknown)}")
        for x in passes:
            calls = {k: round(v, 3) for k, v in x.items() if k.endswith("_call")}
            print(f"perfbench: {args.workload} pass {x['wall_s']:.3f}s {calls}",
                  file=sys.stderr)
        result = {
            "correct": ctx.ops.failed == 0,
            "attempted": ctx.ops.attempted,
            "failed": ctx.ops.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        _stop(ctx.spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
