"""gipspark benchmark runner.

    python3 perfbench/run.py --workload tiling --seed 1 --seconds 12 --trace 0

Run from the repository root. One run is one fresh process: it starts a
SparkSession at ``local[nproc]``, builds (or reuses) the seeded inputs and
their references, runs the workload's untimed warm-up rounds, then timed
rounds back to back (closed loop, one client) for about ``--seconds`` of
op wall (see ``Run.measure``). Every op's output is checked against an
independent NumPy reference outside the timed interval.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` interleaves each
fused round with the same round run staged under spans and prints the
per-layer metrics; spans go to ``.perfbench/out/``. The last stdout line
is the JSON result; the line before it holds workload-specific metrics
and host facts.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

HEAP = "1536m"  # driver JVM heap, min = max
E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MiB",
}
LAYERS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "text.extract_us_per_doc": "us",
    "text.geotag_us_per_doc": "us",
    "geo.s2_ns_per_point": "ns",
    "geo.h3_ns_per_point": "ns",
    "geo.cover_build_s": "s",
    "geo.cover_cells": "count",
    "pip.plan_s": "s",
    "pip.stage_s": "s",
    "pip.probe_rows": "rows",
    "pip.probe_amplification": "rows/row",
    "pip.candidates": "rows",
    "pip.matched": "rows",
    "pip.keep_ratio": "ratio",
    "pip.cover_cells": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "proc.cpu_s": "s",
    "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("tiling", "zone_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    return ap.parse_args(argv)


def configure_env(tmp: str) -> int:
    """Spark at local[nproc]; every scratch file inside the checkout."""
    nproc = len(os.sched_getaffinity(0))
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["GIPSPARK_DRIVER_MEM"] = HEAP
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    return nproc


def start_spark(tmp: str):
    from gipspark import get_spark

    return get_spark(
        "perfbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # a fixed heap and young generation: G1 otherwise grows the heap
            # when its pauses run long, which they do when the host is busy,
            # and the JVM's share of peak_rss_mb then follows the host
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -Xmn256m -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child to exit."""
    from pyspark import SparkContext

    from probes import descendants

    kids = [p for p in descendants() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(60)
    deadline, alive = time.time() + 30, kids
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class Run:
    """One benchmark run: rounds, checks, and the metrics they give."""

    def __init__(self, wl, traced: bool):
        from reference import compare, digest

        self.compare, self.digest = compare, digest
        self.log: list[dict] = []  # every op: round, kind, wall, result digests
        self.wl, self.traced = wl, traced
        self.attempted = self.failed = 0
        self.untraced: list[list] = []
        self.traced_rounds: list[list] = []
        self.round_layers: list[dict] = []
        self.pairs_equal = True
        self.persisted: list[int] = []

    def check(self, ops: list) -> None:
        for op in ops:
            self.attempted += 1
            err = self.compare(op.kind, op.result, op.want)
            if err:
                self.failed += 1
                print(f"perfbench: wrong output: {err}", file=sys.stderr)

    def attempt(self, i: int, traced: bool) -> list | None:
        """Round ``i``, checked; None if it raised. The first
        ``WARMUP_ROUNDS`` rounds are the untimed warm-up."""
        self.wl.ctx.tracer.enabled = traced
        t = time.perf_counter()
        try:
            ops = self.wl.round(i, traced)
        except Exception:
            traceback.print_exc()
            self.attempted += self.wl.OPS
            self.failed += self.wl.OPS
            self.lost = time.perf_counter() - t
            return None
        self.check(ops)
        self.log += [
            {"round": i, "warmup": i < self.wl.WARMUP_ROUNDS, "traced": traced,
             "kind": o.kind, "wall": o.wall, "cpu": o.cpu,
             "digest": self.digest(o.result), "want": self.digest(o.want)}
            for o in ops
        ]
        self.persisted.append(self.wl.ctx.probe.persisted_rdds())
        return ops

    def measure(self, seconds: float) -> None:
        """Rounds back to back while the next one, at the median round wall
        so far, still ends within ``seconds``; at least the workload's
        ``MIN_ROUNDS``, so a median always has a middle."""
        from probes import descendants, tree_cpu_s
        from workloads import median

        probe = self.wl.ctx.probe
        spent, i, walls = 0.0, self.wl.WARMUP_ROUNDS, []
        while len(walls) < self.wl.MIN_ROUNDS or spent + median(walls) <= seconds:
            start = spent
            ops = self.attempt(i, False)
            spent += sum(o.wall for o in ops) if ops else self.lost
            if ops:
                self.untraced.append(ops)
            if self.traced:
                mark, cpu0 = probe.mark(), tree_cpu_s(descendants())
                tops = self.attempt(i, True)
                if tops:
                    layers = probe.jobs(mark)
                    layers["proc.cpu_s"] = tree_cpu_s(descendants()) - cpu0
                    for op in tops:
                        layers.update(op.layers)
                    self.round_layers.append(layers)
                    self.traced_rounds.append(tops)
                    if ops:
                        self.pairs_equal &= len(ops) == len(tops) and all(
                            a.kind == b.kind and self.compare(a.kind, a.result, b.result) is None
                            for a, b in zip(ops, tops)
                        )
                spent += sum(o.wall for o in tops) if tops else self.lost
            walls.append(spent - start)
            i += 1

    def extra(self) -> dict:
        """The workload's once-per-run traced ops, checked; their layers."""
        self.wl.ctx.tracer.enabled = True
        try:
            ops, layers = self.wl.trace_extra()
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return {}
        self.check(ops)
        self.log += [
            {"round": "extra", "traced": True, "kind": o.kind, "wall": o.wall,
             "digest": self.digest(o.result), "want": self.digest(o.want)}
            for o in ops
        ]
        return layers

    def layer_metrics(self) -> dict:
        """Median over traced rounds of every per-round layer value."""
        from workloads import median

        keys = sorted({k for r in self.round_layers for k in r})
        out = {k: median([r[k] for r in self.round_layers if k in r]) for k in keys}
        if out.get("pip.points"):
            out["pip.probe_amplification"] = out["pip.probe_rows"] / out["pip.points"]
        if out.get("pip.candidates"):
            out["pip.keep_ratio"] = out["pip.matched"] / out["pip.candidates"]
        walls = lambda rounds: median([sum(o.wall for o in r) for r in rounds])  # noqa: E731
        out["trace.overhead_s"] = walls(self.traced_rounds) - walls(self.untraced)
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "gipspark", "__init__.py")):
        print(f"perfbench: no gipspark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, "tmp", str(os.getpid()))
    nproc = configure_env(tmp)

    from probes import Sampler, SparkProbe, Tracer, cpu_pressure, cpu_ticks
    from workloads import WORKLOADS, Ctx, kernel_probe

    host = {"nproc": nproc, "cpu_pressure_start": cpu_pressure()}
    steal0, total0 = cpu_ticks()
    with Sampler(period_s=0.5) as sampler:
        spark = start_spark(tmp)
        try:
            start_s = time.perf_counter() - T0
            host["spark_master"] = spark.sparkContext.master
            ctx = Ctx(spark, SparkProbe(spark), Tracer(False), os.path.join(WORK, "cache"), args.seed, args.smoke)
            wl = WORKLOADS[args.workload](ctx)
            wl.prepare()
            run = Run(wl, bool(args.trace))
            t = time.perf_counter()
            for i in range(wl.WARMUP_ROUNDS):
                if run.attempt(i, False) is None:
                    return 1
            warmup_s = time.perf_counter() - t
            run.measure(args.seconds)
            if not run.untraced or (args.trace and not run.traced_rounds):
                return 1
            summary = wl.summary(run.untraced)
            layers = {}
            if args.trace:
                layers = run.layer_metrics()
                layers.update(run.extra())
                layers.update(kernel_probe(ctx, wl.docs, wl.probe_polys()))
                layers.update({"session.start_s": start_s, "session.warmup_s": warmup_s})
                layers["sources.input_bytes"] = wl.input_bytes
                if wl.runs_enrich:
                    kernel_us = (
                        layers["text.extract_us_per_doc"] + layers["text.geotag_us_per_doc"]
                    ) * wl.n_docs + (
                        layers["geo.s2_ns_per_point"] + layers["geo.h3_ns_per_point"]
                    ) / 1e3 * layers["enrich.rows"]
                    layers["enrich.kernel_share"] = kernel_us / 1e6 / nproc / layers["enrich.stage_s"]
                    layers["enrich.rows_per_s"] = wl.n_docs / layers["enrich.stage_s"]
            host["cpu_pressure_end"] = cpu_pressure()
            steal1, total1 = cpu_ticks()
            host["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
            wl.close()
        finally:
            stop_spark(spark)
            shutil.rmtree(tmp, ignore_errors=True)
    e2e = {
        "setup_s": start_s + warmup_s,
        "op_cpu_s": summary["op_cpu_s"],
        "peak_rss_mb": sampler.peak_rss_mb,
    }
    chosen, units = (layers, LAYERS) if args.trace else (e2e, E2E)
    metrics = {k: {"value": chosen[k], "unit": u} for k, u in units.items()}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "input_digest": wl.input_digest(),
        "samples": summary.pop("samples"),
        "workload_metrics": {k: v for k, v in summary.items() if k not in e2e},
        "other_layers": {k: v for k, v in layers.items() if k not in LAYERS},
        "peak_rss_split_mb": sampler.peak_split,
        "persisted_rdds_per_round": run.persisted,
        "traced_equals_untraced": run.pairs_equal if args.trace else None,
        "end_to_end": e2e,
    }
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as f:
        json.dump({**detail, "layers": layers, "ops": run.log, "spans": ctx.tracer.spans}, f, indent=1, default=str)
    correct = run.failed == 0 and (run.pairs_equal or not args.trace)
    print(json.dumps(detail, default=str))
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
