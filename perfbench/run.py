"""Benchmark entry point.

    python3 perfbench/run.py --workload alerts_steady --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout.  Starts one local Spark session
(``local[nproc]``), builds the workload's inputs from ``--seed``, warms
up, measures closed-loop units of work for ``--seconds``, runs the
output checks, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics (see
perfbench/README.md) and writes the spans under ``.perfbench_out/``.
Everything the run writes stays under the checkout and is removed at the
end, except the span files.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEMORY = "2g"  # well below host RAM


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _mem_parts_mb(spark) -> dict[str, float]:
    """Memory the program holds: the Python driver's peak RSS plus what
    each JVM memory pool still uses after a full collection (heap
    generations, metaspace, code cache).  Heap the JVM merely reserved,
    touched or has not yet collected is left out; the eden peak, for
    one, is set by the collector's sizing, not by the program."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    # Python first, so dead DataFrame proxies release their JVM objects;
    # then collect, let Spark's ContextCleaner drop the broadcast and
    # shuffle blocks that collection found unreachable, and collect again
    gc.collect()
    mf.getMemoryMXBean().gc()
    time.sleep(1.0)
    mf.getMemoryMXBean().gc()
    parts = {"driver_rss": _vm_hwm_mb(os.getpid())}
    pools = mf.getMemoryPoolMXBeans()
    for i in range(pools.size()):
        pool = pools.get(i)
        parts[pool.getName()] = pool.getUsage().getUsed() / 2**20
    return parts


def _pin_environment(work: Path) -> None:
    """Launch settings, fixed here so every run starts the same way."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    for d in (tmp, work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (launcher and driver): temp files inside the work dir, no
    # perf-data file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    tempfile.tempdir = str(tmp)


def _start_spark(work: Path):
    from service_alerts_connector_spark.session import get_spark

    tmp = work / "tmp"
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for per-span attribution
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def measure(workload, seconds: float, tracer):
    """Closed loop: start another unit while the run has measured for
    less than ``seconds``.  A unit is never cut short, so a run measures
    at least ``seconds`` and at least one unit."""
    samples = []
    items = failed = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        if tracer is not None:
            tracer.enabled = True
            tracer.new_trace()
        start = time.perf_counter()
        try:
            dt, n, ok = workload.cycle()
        except Exception as exc:  # count the unit as failed, keep going
            print(f"perfbench: unit failed: {exc!r}", file=sys.stderr)
            dt, n, ok = time.perf_counter() - start, 0, False
        if tracer is not None:
            tracer.enabled = False
        samples.append(dt)
        items += n
        failed += 0 if ok else 1
    wall = time.perf_counter() - t0
    return samples, items, failed, wall


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "service_alerts_connector_spark").is_dir():
        print("perfbench: no service_alerts_connector_spark package next to "
              "perfbench/ — run from a full source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import trace as tr
    from perfbench.workloads import LAYER_KEYS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _pin_environment(work)

    # The JVM inherits fd 2: capture it (janino fallbacks are counted
    # from it) and keep the real stderr for this script's own messages.
    real_err = os.dup(2)
    log_path = work / "stderr.log"
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    out_lines: list[str] = []
    spark = None
    code = 1
    try:
        t = time.perf_counter()
        spark = _start_spark(work)
        session_s = time.perf_counter() - t
        workload = WORKLOADS[args.workload](spark, work, args.seed)
        setup_parts = workload.setup()
        setup_s = session_s + sum(setup_parts.values())

        tracer = None
        first_stage = 0
        if args.trace:
            tracer = tr.Tracer(spark)
            workload.trace(tracer)
            first_stage = tr.next_stage_id(spark)
        samples, items, failed, wall = measure(workload, args.seconds, tracer)
        # before the output checks, which load results into pandas
        mem_parts = _mem_parts_mb(spark)
        check_failed, problems = workload.check(len(samples))
        failed = min(len(samples), failed + check_failed)
        if args.trace:
            tracer.resolve_jobs()
            summary = tracer.summary(len(samples))
            layer = workload.layer_metrics(summary)
            spark_m = tr.stage_metrics(spark, first_stage)
            layer.update({k: v / len(samples) for k, v in spark_m.items()})
            out_dir = ROOT / ".perfbench_out"
            tracer.write(out_dir / f"spans-{args.workload}-{args.seed}.jsonl")
        _stop_spark(spark)
        spark = None

        if args.trace:
            stderr_text = log_path.read_text(errors="replace")
            layer["spark.codegen_fallbacks"] = float(
                tr.codegen_fallbacks(stderr_text))
            layer["trace.cycle_s_p50"] = statistics.median(samples)
            layer["trace.overhead_s"] = tracer.cost_s / len(samples)
            metrics = {k: {"value": layer.get(k, 0.0), "unit": _unit(k)}
                       for k in LAYER_KEYS}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cycle_s_p50": {"value": statistics.median(samples),
                                "unit": "s"},
                "items_per_s": {"value": items / wall, "unit": "1/s"},
                "mem_mb": {"value": sum(mem_parts.values()), "unit": "MB"},
            }
        _check_declared(metrics, "per_layer" if args.trace else "end_to_end")
        out_lines.append(
            f"# {args.workload} seed={args.seed}: {len(samples)} units in "
            f"{wall:.2f} s ({', '.join(f'{x:.2f}' for x in samples)}), "
            f"{items} items; setup parts "
            + ", ".join(f"{k}={v:.3f}" for k, v in setup_parts.items())
            + f", session_s={session_s:.3f}")
        out_lines.append("# mem_mb parts: " + ", ".join(
            f"{k}={v:.1f}" for k, v in mem_parts.items()))
        out_lines.append(
            f"# error_rate {failed / len(samples):.4f} ratio "
            f"({failed} of {len(samples)} units failed)")
        for p in problems:
            out_lines.append(f"# check failed: {p}")
        for k, m in metrics.items():
            out_lines.append(f"# {k} {m['value']:.6g} {m['unit']}")
        result = {
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": metrics,
        }
        out_lines.append(json.dumps(result))
        code = 0
    finally:
        if spark is not None:
            try:
                _stop_spark(spark)
            except Exception as exc:
                os.write(real_err, f"perfbench: stop failed: {exc!r}\n".encode())
        os.dup2(real_err, 2)
        os.close(real_err)
        if code != 0:
            sys.stderr.write(log_path.read_text(errors="replace")[-20000:])
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print("\n".join(out_lines))
    return code


def _check_declared(metrics: dict, section: str) -> None:
    """The metrics a run prints must be exactly the ones BENCHMARK.json
    declares for its mode, with the same units."""
    manifest = ROOT / "BENCHMARK.json"
    if not manifest.is_file():
        return
    declared = {m["name"]: m["unit"]
                for m in json.loads(manifest.read_text())[section]}
    printed = {k: m["unit"] for k, m in metrics.items()}
    if printed != declared:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json {section}: printed only "
            f"{sorted(printed.items() - declared.items())}, declared only "
            f"{sorted(declared.items() - printed.items())}")


def _unit(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if last.endswith("_s") or last.endswith("_p50"):
        return "s"
    if last.endswith("bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
