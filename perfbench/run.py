"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload wro_service --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics from the spans, which are also written with the run's metadata
to ``.perfbench/traces/<workload>-seed<seed>.json``. The lines above it
name every metric of the workload with its unit, the failed-operation
ratio and the run metadata. Everything Spark, the JVM and the Python
workers print goes to standard error. The exit code is 0 only when every
output check passed.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")

#: end-to-end metrics: name -> (unit, the workload-specific name printed
#: in the summary for each workload). ``curate`` and ``training`` (run by
#: hand) have no writes, so they print no ``write_p50_s``.
END_TO_END = {
    "read_p50_s": ("s", {"wro_service": "overlay_p50_s", "registry_mix": "mix_pass_s",
                         "curate": "curate_p50_s", "training": "training_pass_s"}),
    "write_p50_s": ("s", {"wro_service": "edit_p50_s", "registry_mix": "catalog_merge_p50_s"}),
    "setup_s": ("s", {}),
    "retained_mb": ("MiB", {}),
}
#: Spark driver heap, pinned so that runs compare.
DRIVER_MEM = "2g"

_RUN_MEASURES = (
    "build_s", "build_jobs", "exec_s", "jobs", "tasks", "failed_tasks",
    "executor_run_s", "executor_cpu_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "core_util",
)
_QUERY_MEASURES = ("build_s", "build_jobs", "exec_s", "executor_cpu_s", "shuffle_write_bytes")
_MIX = ("q_stream_tumbling", "q_dedup_clusters", "q_tpch_q9", "q_agg_group", "q_catalog_merge")
_TRAINING = ("q_ann_ivfpq", "q_bpe_train")

#: per-layer metrics in absolute units, ``<module>.<function>.<measure>``,
#: written to the trace file of every traced run.
LAYER_DETAIL = (
    ["session.get_spark.wall_s", "toolbox.create_wro_catalog.wall_s",
     "streaming.engine.stage.wall_s", "sources.load_catalog.wall_s"]
    + [f"plans.run_overlay.{m}" for m in _RUN_MEASURES]
    + ["sources.replace_catalog.wall_s", "sources.replace_catalog.files",
       "sources.replace_catalog.bytes_written", "sources.merge_rows.wall_s",
       "sources.merge_rows.jobs", "toolbox.update_classification.wall_s",
       "toolbox.update_classification.jobs", "toolbox.update_layer_info.wall_s",
       "toolbox.update_layer_info.jobs"]
    + [f"pipeline.curate_corpus.{m}" for m in _RUN_MEASURES]
    + [f"queries.{q}.{m}" for q in _MIX + _TRAINING for m in _QUERY_MEASURES]
)

_RUN_SHARES = (
    "build_share", "exec_share", "build_jobs", "jobs", "tasks", "failed_tasks",
    "core_util", "cpu_util", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
#: per-layer metrics of the result line. Every workload prints all of
#: them, so a layer's time is given as its share of the workload's
#: operation time (or set-up time): a layer the workload never calls
#: reads 0 as a ratio, never as a constant 0 seconds. The absolute
#: seconds are in LAYER_DETAIL.
PER_LAYER = (
    ["session.get_spark.wall_s", "toolbox.create_wro_catalog.setup_share",
     "streaming.engine.stage.setup_share", "sources.load_catalog.share"]
    + [f"plans.run_overlay.{m}" for m in _RUN_SHARES]
    + ["sources.replace_catalog.share", "sources.replace_catalog.files",
       "sources.replace_catalog.bytes_written", "sources.merge_rows.share",
       "sources.merge_rows.jobs", "toolbox.update_classification.share",
       "toolbox.update_classification.jobs", "toolbox.update_layer_info.share",
       "toolbox.update_layer_info.jobs"]
    + [f"queries.{q}.{m}" for q in _MIX
       for m in ("build_share", "exec_share", "build_jobs", "cpu_util", "shuffle_write_bytes")]
)


def unit_of(metric: str) -> str:
    measure = metric.rsplit(".", 1)[1]
    if measure.endswith("_s"):
        return "s"
    if measure.endswith("_bytes") or measure == "bytes_written":
        return "bytes"
    if measure.endswith(("share", "_util")):
        return "ratio"
    return "count"


def vm_status_mib(pid: int, field: str) -> float:
    """A memory field (VmHWM, VmRSS) of ``/proc/<pid>/status`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_mib(jvm) -> dict[str, float]:
    """Memory the driver keeps after the run, in MiB: the Python
    process's resident set, and the JVM heap and non-heap in use after a
    full collection. Unlike peak RSS it does not depend on when the JVM
    chose to grow its heap. Python's collector runs first and each
    collection twice, so that JVM objects only py4j proxies or Spark's
    context cleaner still held are gone when the heap is read."""
    for _ in range(2):
        gc.collect()
        jvm.System.gc()
        time.sleep(0.2)
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return {"python_rss": vm_status_mib(os.getpid(), "VmRSS"),
            "jvm_heap": mem.getHeapMemoryUsage().getUsed() / 2**20,
            "jvm_non_heap": mem.getNonHeapMemoryUsage().getUsed() / 2**20}


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _pin_environment(cpus: int, work: str) -> None:
    """Everything the run writes stays under ``work``; Spark runs on
    ``local[cpus]`` with a ``DRIVER_MEM`` heap, quiet progress bars and
    the benchmark's log4j settings."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    # -XX:-UsePerfData: no hsperfdata file in the system /tmp, for the
    # driver JVM and for the short-lived launcher JVM spark-submit starts
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        ["--driver-java-options", shlex.quote(java_opts),
         "--conf", "spark.ui.showConsoleProgress=false",
         "--conf", f"spark.local.dir={shlex.quote(local)}", "pyspark-shell"]
    )


def _stop_jvm(ctx) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    ctx.stop_session()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["wro_service", "registry_mix", "curate", "training"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--cpus", type=int, default=None,
                   help="local[cpus] threads (default: nproc; more than nproc is refused)")
    p.add_argument("--size", choices=["default", "tiny"], default="default",
                   help="input size; 'tiny' is for the benchmark's own tests")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    cpus = args.cpus or nproc
    if cpus > nproc:
        print(f"refusing --cpus {cpus}: only {nproc} processors", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(args, nproc, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, nproc: int, cpus: int, work: str) -> int:
    _pin_environment(cpus, work)
    # the result stream is the saved stdout; anything else printed by this
    # process, the JVM or the Python workers goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    # run as a script, sys.path[0] is this directory; import as a package
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or '.') != HERE]
    try:
        import perfbench.workloads as wl
        from perfbench.spans import Tracer, attribution, layer_metrics
        import weighted_raster_overlay_service_toolbox_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        return 1

    setup, measure, root_spans = wl.WORKLOADS[args.workload]
    tracer = Tracer(enabled=bool(args.trace))
    ctx = wl.Context(args.seed, args.seconds, cpus, wl.SIZES[args.size],
                     os.path.join(work, "data"), tracer)
    try:
        state = setup(ctx)
        setup_s = time.perf_counter() - PROCESS_START
        samples = measure(ctx, state)
        jvm = ctx.spark._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        rss = vm_status_mib(os.getpid(), "VmHWM") + vm_status_mib(jvm_pid, "VmHWM")
        retained = retained_mib(jvm)
        meta = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "size": args.size, "commit": _git_commit(), "nproc": nproc, "cpus": cpus,
            "driver_mem": DRIVER_MEM,
            "pyspark": __import__("pyspark").__version__,
            "java": ctx.spark._jvm.java.lang.System.getProperty("java.version"),
            "trace": args.trace,
        }
    finally:
        _stop_jvm(ctx)

    samples_of = {"read_p50_s": samples.read, "write_p50_s": samples.write}
    e2e = {name: statistics.median(xs) for name, xs in samples_of.items() if xs}
    e2e.update(setup_s=setup_s, retained_mb=sum(retained.values()))
    correct = (samples.failed == 0 and not ctx.failures
               and (args.workload not in ("wro_service", "registry_mix") or len(e2e) == 4))
    lines = ["# " + json.dumps(meta)]
    for name, (unit, alias) in END_TO_END.items():
        if name in e2e:
            lines.append(f"{args.workload} {alias.get(args.workload, name)} "
                         f"{e2e[name]:.6g} {unit}")
    for name, xs in samples_of.items():
        if xs:
            alias = END_TO_END[name][1][args.workload].removesuffix("_s").removesuffix("_p50")
            tail_s, tail_pct = wl.tail(xs)
            lines.append(f"{args.workload} {alias}_tail_s {tail_s:.6g} s (p{tail_pct}, n={len(xs)})")
            lines.append(f"{args.workload} {alias}_per_s {len(xs) / sum(xs):.6g} 1/s")
    lines.append(f"{args.workload} rss_peak_mb {rss:.6g} MiB (VmHWM, driver + JVM)")
    lines.append(f"{args.workload} retained_parts_mb "
                 + " ".join(f"{k}:{v:.1f}" for k, v in retained.items()))
    lines.append(f"{args.workload} failed_ratio {samples.failed / max(samples.attempted, 1):.6g} "
                 f"({samples.failed}/{samples.attempted})")
    for k, v in samples.extra.items():
        lines.append(f"{args.workload} {k} {v}")
    for f in ctx.failures:
        lines.append(f"{args.workload} FAILED {f}")

    if args.trace:
        spans = tracer.dump()
        per_layer = layer_metrics(spans, cpus, PER_LAYER, root_spans, setup_s)
        detail = layer_metrics(spans, cpus, LAYER_DETAIL, root_spans, setup_s)
        metrics = {m: {"value": per_layer[m], "unit": unit_of(m)} for m in PER_LAYER}
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"meta": meta, "end_to_end": e2e, "per_layer": per_layer,
                       "layer_detail": detail,
                       "attribution": [attribution(spans, r) for r in root_spans],
                       "spans": spans}, f, indent=1, default=str)
        lines.append(f"{args.workload} spans {len(spans)} written to {trace_path}")
    else:
        metrics = {name: {"value": e2e[name], "unit": unit}
                   for name, (unit, _a) in END_TO_END.items() if name in e2e}
    result = {"correct": correct, "attempted": samples.attempted,
              "failed": samples.failed, "metrics": metrics}
    result_out.write("\n".join(lines) + "\n" + json.dumps(result) + "\n")
    result_out.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
