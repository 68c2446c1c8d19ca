"""The repository benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload validate_json_unique --seed 1 \\
        --seconds 8 --trace 0

Run from the repository root.  The engine is imported from the working
directory and receives only the table the workload's generator wrote
under ``.bench_work/``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` reports the per-layer ones, from a separate run whose job
iterations alternate untraced and traced (the difference of the two
medians is the tracing overhead).  Every output is checked against the
planted ground truth; the checks count into ``attempted``/``failed``.

The line before the last is the run's artifact: every metric with its
unit, sample count and spread, the workload-specific metrics, host
noise, failed checks and (traced) every span's total and self time.
The last line is the compact result.

``--scaling 1`` instead runs validate_json_unique twice in child
processes pinned to 1 and then 4 CPUs (local[1] / local[4]) and
reports scaling_eff_1v4 = thr(4) / (4 * thr(1)).
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
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
if os.path.dirname(HERE) not in sys.path:
    sys.path.insert(0, os.path.dirname(HERE))

from perfbench.observe import HostNoise, RssSampler, stage_facts  # noqa: E402
from perfbench.trace import Tracer, instrument  # noqa: E402

E2E_UNITS = {
    "files_per_sec": "files/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ops_ok_share": "share",
}
# reported in the artifact line only: each is taken on some workloads
# only, or from one call per run
EXTRA_UNITS = {
    "infer_docs_per_sec": "docs/s",
    "infer_keyed_docs_per_sec": "docs/s",
    "peak_rss_jvm_mb": "MB",
    "peak_rss_python_mb": "MB",
    "validate_s": "s",
    "constraint_report_s": "s",
    "overlapped_job_s": "s",
    "incr_revalidate_s": "s",
    "full_revalidate_s": "s",
    "ckpt_bytes_per_input_byte": "B/B",
    "scaling_eff_1v4": "ratio",
}
_INFER_FACTS = ("task_s", "udf_bytes_to_python", "udf_bytes_from_python",
                "udf_python_run_s", "udf_python_init_s",
                "shuffle_write_bytes")
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.worker_warm_s": "s",
    "sources.read_table_s": "s",
    "core.json_fast.loads_s": "s",
    "core.parse_calls": "count",
    "core.distinct_ratio": "ratio",
    "core.accumulate_batch.fold_docs_s": "s",
    "core.fold_docs_n": "count",
    "core.microschema.dumps_s": "s",
    "core.state_bytes": "B",
    "core.microschema.merge_s": "s",
    "core.transforms.apply_transforms_s": "s",
    "core.microschema.render_s": "s",
    **{f"operators.infer.{op}{suffix}": unit
       for op in ("infer_json_column", "infer_json_column_by_key")
       for suffix, unit in (("_s", "s"), *(
           (f".{f}", "s" if f.endswith("_s") else "B")
           for f in _INFER_FACTS))},
    "trace.overhead_s": "s",
}


def _quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(samples: dict, units: dict) -> dict:
    """{name: {value, unit, n, q1, q3, spread}} for every sampled name;
    value is the median, spread the quartile distance over the median."""
    out = {}
    for name, unit in units.items():
        xs = samples.get(name)
        if not xs:
            continue
        med = statistics.median(xs)
        q1, q3 = _quartiles(xs)
        out[name] = {"value": med, "unit": unit, "n": len(xs),
                     "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0}
    return out


def result_line(checks: list, metrics: dict) -> str:
    """The last stdout line: correctness, check counts, metric values."""
    failed = sum(1 for _, ok, _ in checks if not ok)
    return json.dumps({
        "correct": failed == 0 and bool(checks),
        "attempted": len(checks),
        "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in metrics.items()},
    }, separators=(",", ":"))


def _env(root: str, workdir: str, cores: int) -> None:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # Python workers import the engine from the checkout too
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # the JVM's temp files go to the run folder too; -UsePerfData stops
    # it writing hsperfdata under /tmp
    java_opts = shlex.quote("spark.driver.extraJavaOptions="
                            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf {java_opts} pyspark-shell")
    import tempfile
    tempfile.tempdir = None


def _pin(cores: int) -> int:
    """Pin this process (and so the JVM and Python workers it starts)
    to the first ``cores`` CPUs it may use; returns the CPU count."""
    cpus = sorted(os.sched_getaffinity(0))[:cores]
    os.sched_setaffinity(0, set(cpus))
    return len(cpus)


def _stop_jvm() -> None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _loop(run, wl, budget: float, min_n: int = 3) -> None:
    t_end = time.perf_counter() + budget
    n = 0
    while n < min_n or time.perf_counter() < t_end:
        wall, rows = wl.iteration(run)
        run.sample("job_s", wall)
        run.sample("files_per_sec", rows / wall)
        n += 1


def measure(wl, seed: int, seconds: float, trace: bool, workdir: str,
            cores: int, n_setups: int) -> tuple:
    from perfbench.workloads import Run, core_replay

    run = Run(wl, seed, workdir, cores, tracer=None)
    setups, layer = [], {}
    phases, t_phase = {}, [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - t_phase[0], 3)
        t_phase[0] = now
    # the input is generated once; the session set-up is repeated and its
    # median taken
    t0 = time.perf_counter()
    run.table = wl.generate(run)
    gen_s = time.perf_counter() - t0
    for i in range(n_setups):
        if i:
            run.stop_session()
        sess = run.start_session()
        setups.append(sum(sess.values()))
        if i == 0:
            layer.update(sess)   # the cold start, JVM launch included
    run.sample("setup_s", gen_s + statistics.median(setups))
    phase("setup")
    phases["warmup_walls_s"] = [round(w, 3) for w in wl.warmup(run)]
    run.spark.catalog.clearCache()
    phase("warmup")

    if not trace:
        # peak memory covers the measured job loop only: the JVM launch
        # and set-up are in setup_s, the checks are the benchmark's own
        with RssSampler() as run.rss:
            _loop(run, wl, seconds, wl.min_iters)
        phase("job")
        wl.finish(run)
        phase("finish")
        wl.checks(run)
        phase("checks")
        return run, {"phases_s": phases}

    # untraced and traced iterations in the order U T T U, repeated, so
    # a drift over the run (JIT, host load) falls on both alike: the
    # difference between the two medians is what the spans cost.  job_s
    # holds the traced ones
    tracer = Tracer()
    untraced_walls = []
    t_end = time.perf_counter() + seconds
    i = 0
    with RssSampler() as run.rss:
        while i % 4 or i < 4 or time.perf_counter() < t_end:
            run.tracer = tracer if i % 4 in (1, 2) else None
            i += 1
            if run.tracer is None:
                untraced_walls.append(wl.iteration(run)[0])
                continue
            with instrument(tracer):
                wall, rows = wl.iteration(run)
            run.sample("job_s", wall)
            run.sample("files_per_sec", rows / wall)
    phase("job")
    run.tracer = tracer
    untraced = statistics.median(untraced_walls)
    traced = statistics.median(run.samples["job_s"])
    with instrument(tracer):
        wl.infer_legs(run)
        wl.finish(run)
    phase("legs")
    layer.update(core_replay(run, wl.json_texts(run)))
    layer["trace.overhead_s"] = traced - untraced
    # a layer figure is per call: the traced loop's iteration count
    # follows the clock, so sums would not compare across runs.  The
    # core replay runs once over the whole input: its figures are totals
    spans = tracer.report()
    for name, r in spans.items():
        calls = 1 if name.startswith("core.") else r["n"]
        layer[f"{name}_s"] = r["self_s"] / calls
    facts = stage_facts(run.spark, run.groups)
    for g, f in facts.items():
        calls = spans.get(g, {"n": 1})["n"]
        for k, v in f.items():
            layer[f"{g}.{k}"] = v if k == "task_skew" else v / calls
    layer.update(run.layer_counts)
    phase("replay")
    wl.checks(run)
    phase("checks")
    return run, {"layers": layer, "phases_s": phases,
                 "spans": {k: {kk: (round(vv, 6) if isinstance(vv, float)
                                    else vv) for kk, vv in v.items()}
                           for k, v in spans.items()},
                 "untraced_job_s": untraced, "traced_job_s": traced,
                 "job_walls_s": {"untraced": untraced_walls,
                                 "traced": run.samples["job_s"]}}


def run_one(args, root: str) -> int:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    cores = _pin(args.leg_cpus or 4)
    workdir = os.path.join(root, ".bench_work", f"{wl.name}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _env(root, workdir, cores)
    noise = HostNoise()
    noise.start()
    run = None
    try:
        run, extra = measure(wl, args.seed, args.seconds, bool(args.trace),
                             workdir, cores,
                             n_setups=1 if (args.trace or args.leg_cpus)
                             else 3)
    finally:
        if run is not None and run.spark is not None:
            run.stop_session()
        _stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
    host = noise.stop()

    checks, rss = run.checks, run.rss
    passed = sum(1 for _, ok, _ in checks if ok)
    run.sample("peak_rss_mb", rss.peak / 2 ** 20)
    run.sample("peak_rss_jvm_mb", rss.peaks["jvm"] / 2 ** 20)
    run.sample("peak_rss_python_mb", rss.peaks["python"] / 2 ** 20)
    run.sample("ops_ok_share", passed / max(len(checks), 1))
    if args.trace:
        layers = extra.pop("layers")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u}
                   for k, u in LAYER_UNITS.items()}
        all_layers = {k: round(v, 6) if isinstance(v, float) else v
                      for k, v in sorted(layers.items())}
    else:
        metrics = summarize(run.samples, E2E_UNITS)
        all_layers = None
    artifact = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "host": host,
        "metrics": summarize(run.samples, {**E2E_UNITS, **EXTRA_UNITS}),
        "failed_checks": [(n, d) for n, ok, d in checks if not ok],
        **({"layers": all_layers} if args.trace else {}),
        **extra,
    }
    print(json.dumps(artifact, separators=(",", ":"), default=str))
    print(result_line(checks, metrics), flush=True)
    return 0


def run_scaling(args, root: str) -> int:
    """Both legs in child processes, each pinned before its JVM starts."""
    thr, checks = {}, []
    for k in (1, 4):
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--workload", "validate_json_unique", "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", "0",
             "--leg-cpus", str(k)],
            cwd=root, capture_output=True, text=True, check=True)
        res = json.loads(out.stdout.strip().splitlines()[-1])
        thr[k] = res["metrics"]["files_per_sec"]["value"]
        checks += [(f"leg{k}", True, "")] * (res["attempted"] - res["failed"])
        checks += [(f"leg{k}", False, "")] * res["failed"]
    eff = thr[4] / (4 * thr[1])
    print(json.dumps({"files_per_sec_1cpu": thr[1],
                      "files_per_sec_4cpu": thr[4]}))
    print(result_line(checks, {
        "scaling_eff_1v4": {"value": eff, "unit": "ratio"}}), flush=True)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", type=int, choices=(0, 1), default=0)
    ap.add_argument("--leg-cpus", type=int, default=0,
                    help=argparse.SUPPRESS)   # a scaling leg's child
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        import pyspark  # noqa: F401
        import schema_guru_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})",
              file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.scaling:
        return run_scaling(args, root)
    try:
        return run_one(args, root)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
