"""Benchmark command.

    python3 perfbench/run.py --workload {flagship,resume} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. Builds the seeded inputs under
``.perfbench/`` (harness work, untimed), drives the engine through its
public API on ``local[k]`` (k = min(4, nproc) - 1, see harness.CORES)
from this single process, one job at a time, and checks the outputs
against the numpy oracle.
Prints one ``name value unit`` line per metric, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics. The environment record, and with ``--trace 1`` the spans, are
written to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(
        os.path.abspath(__file__)):
    sys.path.pop(0)     # never shadow stdlib modules by our file names
sys.path.insert(0, ROOT)

from perfbench import flagship, harness as H, resume  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

WORKLOADS = {"flagship": flagship, "resume": resume}


class Context:
    """What a workload needs: arguments, the corpus, the session factory,
    the operation counters and the tracer."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.ops = H.Ops()
        self.tracer = Tracer()
        self.spark = None
        self.sampler = None
        self.rows = 0
        self.corpus_bytes = 0
        self.phases: dict[str, float] = {}
        self.setup_walls: list[float] = []
        self.iteration_walls: list[float] = []

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record the wall of one phase of the run in the run record."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + \
                time.perf_counter() - t0

    def corpus(self, rows: int) -> str:
        self.rows = rows
        with self.phase("corpus"):
            path, self.corpus_bytes = H.corpus(self.seed, self.rows)
        return path

    def session(self):
        """A new quiet session; the last one made is shut down at exit."""
        self.spark = H.build_quiet_session()
        if self.trace and self.sampler is None:
            self.sampler = H.RssSampler(H.jvm_pid())
        return self.spark


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    H.prepare_env()
    import bioanalyzer_backend_spark as engine
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"the engine imported from {engine.__file__} is "
                         f"not the one in {ROOT}")
    load_start = os.getloadavg()
    ctx = Context(args)
    mod = WORKLOADS[args.workload]
    try:
        values = mod.run(ctx)
        if ctx.sampler is not None:
            values["peak_rss_mb"] = ctx.sampler.stop()
        env = H.environment(args, ctx.spark, ctx.rows, ctx.corpus_bytes,
                            load_start)
        env["phases_s"] = ctx.phases
        env["setup_walls_s"] = ctx.setup_walls
        env["iteration_walls_s"] = ctx.iteration_walls
    finally:
        if ctx.sampler is not None:
            ctx.sampler.stop()
        if ctx.spark is not None:
            H.shutdown_jvm(ctx.spark)
    for name in getattr(mod, "NOT_EXERCISED", ()):
        values.setdefault(name, 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"workload {args.workload} did not measure "
                           f"{missing}")
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    result = {"correct": ctx.ops.failed == 0 and all(ctx.ops.checks.values()),
              "attempted": ctx.ops.attempted, "failed": ctx.ops.failed,
              "metrics": metrics}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    runs = os.path.join(H.WORK, "runs")
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump({"env": env, "checks": ctx.ops.checks, "result": result,
                   "all_values": values}, f, indent=1)
    if args.trace:
        ctx.tracer.dump(os.path.join(runs, f"{tag}-spans.json"))
    print(json.dumps({"env": env}), file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
