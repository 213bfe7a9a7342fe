"""The repository's benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload clean_loop --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It derives seeded inputs from the
program's default fixture directory into a scratch directory inside the
checkout, starts one Spark session on local[<cores>], runs untimed
warm-up passes, then times passes until ``--seconds`` have gone by; the
outputs of the first warm-up pass are checked against DuckDB after the
timed passes. Every pass starts from a cleared cache and fresh TxTable
roots.

``--trace 0`` reports the end-to-end metrics from untraced passes.
``--trace 1`` alternates untraced and traced passes and reports the
per-layer metrics: spans around the program's public entry points (self
time per layer), Spark's own per-pass counters, and the tracing
overhead. Spans are written to ``.bench_out/`` in the checkout.

Lines starting with ``#`` give every metric's median, quartiles and
sample count. The last line is the result, holding the metrics that
BENCHMARK.json names; a failed operation or output check makes the exit
code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import CURATION_OPS, WORKLOADS  # noqa: E402

OPS = {"curation_llm": CURATION_OPS}

#: share of each fact table's keys the generated inputs keep: a tenth
#: keeps one run (warm-up, timed passes and the oracle check) near a
#: minute; at 0.9 a curation_llm pass takes 12 s instead of 6.5 s and
#: its oracle check 25 s instead of 2.7 s
KEEP = {"orders": 0.1, "events": 0.1, "documents": 0.1, "embeddings": 0.1}

#: untimed passes before timing; curation_llm runs many distinct plans
#: once each per pass, and its third pass is still 5-20% slower than
#: later ones while the JIT settles
WARMUP_PASSES = {"clean_loop": 1, "curation_llm": 3}

#: span layers, named after the program's modules; ``exec`` is Spark's
#: execution of a timed action and ``bench`` the benchmark's own code
LAYERS = ("api", "operators.profiling", "functions.quantiles", "operators.detectors",
          "recipe", "sources.txlog", "registry", "exec", "bench")

PER_LAYER = {
    "session.get_spark_s": "s",
    "api.profile_s": "s",
    "api.problems_s": "s",
    "api.problems_jobs": "count",
    "api.apply_fix_s": "s",
    "api.preview_s": "s",
    "api.commit_to_s": "s",
    "profiling.profile_s": "s",
    "quantiles.exact_quantiles_multi_s": "s",
    "quantiles.exact_quantiles_multi_jobs": "count",
    "quantiles.exact_quantiles_s": "s",
    "quantiles.exact_quantiles_jobs": "count",
    "detectors.iqr_bounds_s": "s",
    "recipe.to_sql_s": "s",
    "txlog.create_s": "s",
    "txlog.merge_s": "s",
    "txlog.read_s": "s",
    "txlog.rewrite_frac": "ratio",
    "registry.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.python_s": "s",
    "exec.parallelism": "ratio",
    "loop.problems_s": "s",
    "loop.fix_s": "s",
    "loop.publish_s": "s",
    "host.calib_s": "s",
    "bench.check_s": "s",
    "bench.traced_pass_s": "s",
    "bench.trace_overhead_frac": "ratio",
    "bench.ops_failed_frac": "ratio",
    "driver_rss_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
}


def _seconds_since_process_start() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _calibrate() -> float:
    """A fixed CPU-bound probe; its time tells host load from regressions."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def _tracing_targets(tracer, merges: list[float]):
    """(owner, attribute, wrapper) for every public entry point traced."""
    from ipydataclean_spark import api, recipe
    from ipydataclean_spark.functions import quantiles
    from ipydataclean_spark.operators import detectors, profiling
    from ipydataclean_spark.sources import txlog

    def rewrite_share(rec, args, version):
        table = args[0]
        live_before = len(table.live_files(version - 1))
        merges.append(len(table.history()[-1]["remove"]) / live_before if live_before else 0.0)

    spec = [
        (profiling, "profile", "profiling.profile", "operators.profiling", None),
        (quantiles, "exact_quantiles_multi", "quantiles.exact_quantiles_multi", "functions.quantiles", None),
        (quantiles, "exact_quantiles", "quantiles.exact_quantiles", "functions.quantiles", None),
        (detectors, "iqr_bounds", "detectors.iqr_bounds", "operators.detectors", None),
        (api.DataCleaner, "problems", "api.problems", "api", None),
        (api.DataCleaner, "apply_fix", "api.apply_fix", "api", None),
        (api.DataCleaner, "commit_to", "api.commit_to", "api", None),
        (recipe.Recipe, "to_sql", "recipe.to_sql", "recipe", None),
        (txlog.TxTable, "create", "txlog.create", "sources.txlog", None),
        (txlog.TxTable, "merge", "txlog.merge", "sources.txlog", rewrite_share),
        (txlog.TxTable, "read", "txlog.read", "sources.txlog", None),
    ]
    return [(owner, attr, tracer.wrap(getattr(owner, attr), name, layer, after))
            for owner, attr, name, layer, after in spec]


def _layer_metrics(spans: list[dict], merges: list[float]) -> dict[str, float]:
    """Per-layer metrics of one traced pass; span 0 is the pass itself."""
    from spans import self_times

    out: dict[str, float] = {}
    for s in spans[1:]:
        out[f"{s['name']}_s"] = out.get(f"{s['name']}_s", 0.0) + s["end"] - s["start"]
        out[f"{s['name']}_jobs"] = out.get(f"{s['name']}_jobs", 0) + s["jobs"]
        if s["layer"] == "registry":
            out["registry.build_jobs"] = out.get("registry.build_jobs", 0) + s["jobs"]
    for layer, secs in self_times(spans, 0).items():
        out[f"self.{layer}_s"] = secs
    out["bench.traced_pass_s"] = spans[0]["end"] - spans[0]["start"]
    out["txlog.rewrite_frac"] = statistics.mean(merges) if merges else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "ipydataclean_spark")):
        print("the program is not in this checkout; run from its root", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    wanted = [m["name"] for m in contract["per_layer" if args.trace else "end_to_end"]]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every file the run, Spark and its JVM write stays in the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    bench = Bench(args, cores, work)
    try:
        samples = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for failure in bench.ctx.failures:
        print(f"FAILED {failure}", file=sys.stderr)
    return _report(bench, samples, wanted)


class Bench:
    """One run: session, inputs, warm-up with output check, timed passes."""

    def __init__(self, args, cores: int, work: str):
        self.args = args
        self.cores = cores
        self.work = work
        self.spark = None
        self.ctx = None
        self.notes: dict = {"workload": args.workload, "seed": args.seed}
        self._n = 0

    def _pass(self, keep: bool, tracer=None):
        """One pass from a cleared cache into fresh TxTable roots."""
        self.spark.catalog.clearCache()
        pass_dir = os.path.join(self.work, "tx", f"pass-{self._n}")
        self._n += 1
        self.ctx.tracer = tracer
        t = time.perf_counter()
        try:
            if tracer is None:
                times, outputs = self.run_pass(self.ctx, pass_dir, keep)
            else:
                with tracer.span("pass", "bench"):
                    times, outputs = self.run_pass(self.ctx, pass_dir, keep)
        finally:
            self.ctx.tracer = None
        wall = time.perf_counter() - t
        if not keep:
            shutil.rmtree(pass_dir, ignore_errors=True)
        return wall, times, outputs

    def run(self) -> dict[str, tuple[str, list[float]]]:
        calib = [_calibrate()]
        import inputs
        from ipydataclean_spark.catalog import DEFAULT_SF_DIR
        from ipydataclean_spark.registry import load_all
        from ipydataclean_spark.session import get_spark
        from spans import SparkCounters, Tracer, patched
        from tools.verify_local import duck_con
        from workloads import Context

        t0 = time.perf_counter()
        self.spark = spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        load_all()
        data = os.path.join(self.work, "data")
        rows = inputs.generate(DEFAULT_SF_DIR, data, self.args.seed, KEEP)
        self.run_pass, check = WORKLOADS[self.args.workload]
        self.ctx = Context(spark, data)

        _, _, outputs = self._pass(keep=True)
        for _ in range(WARMUP_PASSES[self.args.workload] - 1):
            self._pass(keep=False)
        setup_s = _seconds_since_process_start()

        walls, traced, phases, layer_rows = [], [], [], []
        counters = SparkCounters(spark) if self.args.trace else None
        all_spans = []
        t_measure = time.perf_counter()
        while not walls or time.perf_counter() - t_measure < self.args.seconds:
            wall, times, _ = self._pass(keep=False)
            walls.append(wall)
            phases.append(times)
            if self.args.trace:
                tracer = Tracer(spark)
                merges: list[float] = []
                mark = counters.mark()
                with patched(_tracing_targets(tracer, merges)):
                    traced.append(self._pass(keep=False, tracer=tracer)[0])
                row = _layer_metrics(tracer.spans, merges)
                row.update(counters.since(mark, tracer.spans))
                layer_rows.append(row)
                all_spans.append(tracer.spans)

        t_check = time.perf_counter()
        con = duck_con(data)
        con.execute(f"SET threads={self.cores}")
        check(self.ctx, outputs, con)
        con.close()
        check_s = time.perf_counter() - t_check
        calib.append(_calibrate())
        self.notes.update(rows=rows, pass_walls=[round(w, 3) for w in walls],
                          traced_walls=[round(w, 3) for w in traced])

        if not self.args.trace:
            return {"setup_s": ("s", [setup_s]), "pass_s": ("s", walls)}
        self._write_spans(all_spans)
        fixed = {
            "session.get_spark_s": [get_spark_s],
            "driver_rss_mb": [_peak_rss_mb(os.getpid()) + _peak_rss_mb(spark.sparkContext._gateway.proc.pid)],
            "host.calib_s": calib,
            "bench.check_s": [check_s],
            "bench.ops_failed_frac": [len(self.ctx.failures) / self.ctx.attempted],
            "bench.trace_overhead_frac": [statistics.median(traced) / statistics.median(walls) - 1.0],
            "loop.problems_s": [p.get("problems", 0.0) for p in phases],
            "loop.fix_s": [p.get("fix", 0.0) for p in phases],
            "loop.publish_s": [p.get("publish", 0.0) for p in phases],
        }
        names = dict(PER_LAYER)
        for op in OPS.get(self.args.workload, ()):
            names[f"{op}.build_s"] = names[f"{op}.action_s"] = "s"
        return {name: (unit, fixed.get(name) or [r.get(name, 0.0) for r in layer_rows])
                for name, unit in names.items()}

    def _write_spans(self, all_spans) -> None:
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        name = f"spans-{self.args.workload}-seed{self.args.seed}.json"
        with open(os.path.join(out, name), "w") as f:
            json.dump(all_spans, f)

    def stop(self) -> None:
        """Stop the session, its Python workers and the JVM, and wait for
        them; remove the scratch directories the registry ops made."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        sc = self.spark.sparkContext
        app, gateway = sc.applicationId, sc._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        warehouse = os.path.join(ROOT, "spark-warehouse")
        if os.path.isdir(warehouse):
            for name in os.listdir(warehouse):
                if name.endswith(f"_{app}"):
                    shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)


def _report(bench: Bench, samples: dict, wanted: list[str]) -> int:
    """``#`` lines for every metric, then the one-line JSON result with the
    metrics BENCHMARK.json names (per-op metrics of other workloads are 0)."""
    print(f"# {bench.notes}")
    print(f"# {'metric':44} {'unit':7} {'median':>12} {'q1':>12} {'q3':>12} {'n':>3}")
    for name, (unit, vals) in samples.items():
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
        print(f"# {name:44} {unit:7} {med:12.6g} {q1:12.6g} {q3:12.6g} {len(vals):3d}")
    other_ops = {f"{op}.{kind}_s" for ops in OPS.values() for op in ops for kind in ("build", "action")}
    metrics = {}
    for name in wanted:
        if name not in samples and name in other_ops:
            samples[name] = ("s", [0.0])
        unit, vals = samples[name]
        metrics[name] = {"value": statistics.median(vals), "unit": unit}
    ctx = bench.ctx
    print(json.dumps({"correct": not ctx.failures, "attempted": ctx.attempted,
                      "failed": len(ctx.failures), "metrics": metrics}))
    return 0 if not ctx.failures else 1


if __name__ == "__main__":
    sys.exit(main())
