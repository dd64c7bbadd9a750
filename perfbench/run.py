"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. The line before it is a summary
with the workload's own metrics, the seed and ``fail_frac``. See
perfbench/README.md.
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

T_PROCESS = time.perf_counter()  # process start, as near as the script gets
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = ".perfbench_work"
OUT_ROOT = ".perfbench_out"
DRIVER_MEMORY = "3g"
# a fixed heap and young generation: the collector's adaptive sizing
# otherwise makes the JVM's resident high-water mark vary run to run
JVM_OPTIONS = "-Xms3g -Xmn512m"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "maintain", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=0.1,
                    help="scale of the generated star schema (tests use a tiny one)")
    return ap.parse_args(argv)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[int, float]:
    """Resident high-water mark (MiB) of this process and of every
    descendant (the Spark JVM), by pid."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    parent[int(entry)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    family, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in family]
        family.update(kids)
        frontier.extend(kids)
    return {p: _vm_hwm_kb(p) / 1024.0 for p in family}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM the session started, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a stuck JVM is killed, not left behind
            proc.kill()
            proc.wait()


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    # preflight: the program under test must be in this checkout
    if not os.path.isdir(os.path.join(_ROOT, "dbt_databricks_metrics_spark")) or not os.path.isfile(
        os.path.join(_ROOT, "scripts", "check_entry.py")
    ):
        print("perfbench: dbt_databricks_metrics_spark/ and scripts/check_entry.py "
              "must sit beside perfbench/ (run from the root of a checkout)", file=sys.stderr)
        return 2
    sys.path.insert(0, _ROOT)

    work = os.path.abspath(os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    # everything Spark and Python write goes under the work dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no JVM perf-data files: every JVM (the spark-submit launcher too)
    # would write them to the system temp directory, outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    submit = (f'--conf "spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp {JVM_OPTIONS}" '
              "--conf spark.ui.showConsoleProgress=false ")
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        from perfbench.tracing import event_log_submit_args

        os.makedirs(event_dir)
        submit += event_log_submit_args(event_dir)
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + "pyspark-shell"

    from perfbench.workloads import WORKLOADS, Harness

    h = Harness(work, args.seed, args.seconds, bool(args.trace))
    wl = WORKLOADS[args.workload](h, args.sf)
    t_prepare = time.perf_counter()
    try:
        wl.prepare()
        prepare_s = time.perf_counter() - t_prepare
        h.start_spark()
        if args.trace:
            h.tracer.wrap_layers()
        wl.setup()
        wl.measure()
        extra = wl.traced_extras() if args.trace and hasattr(wl, "traced_extras") else {}
        rss = peak_rss_mb()
        h.tracer.unwrap()
        _stop_spark(h.spark)
        wl.check()
        failed = h.fail_count()
        attempted = len(h.ops)
        own = wl.metrics()
        summary = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "ops": attempted, "fail_frac": failed / attempted,
            "engine_setup_s": h.engine_setup_s, "spark_start_s": h.spark_start_s,
            "rss_mb": {"python": rss[os.getpid()],
                       "children": sum(v for p, v in rss.items() if p != os.getpid())},
            "warmup_s": h.warm_s, "prepare_s": prepare_s, "measured_s": h.elapsed,
            "wall_s": time.perf_counter() - T_PROCESS, **{k: v for k, (v, _u) in own.items()},
        }
        if args.trace:
            from perfbench.layers import per_layer_metrics

            metrics = per_layer_metrics(h, wl, event_dir, extra)
            h.tracer.write(os.path.join(OUT_ROOT, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                # process start to first timed op, less input generation
                "setup_s": (h.first_op_t - T_PROCESS - prepare_s, "s"),
                "peak_rss_mb": (sum(rss.values()), "MB"),
                "query_gmean_ms": own["query_gmean_ms"],
                "ops_per_s": own["ops_per_s"],
            }
        summary["key_p50_ms"] = {k: statistics.median(v) for k, v in sorted(h.key_ms().items())}
        summary["round_ms"] = [
            sum(r["ms"] for r in h.ops if r["round"] == i)
            for i in range(max(r["round"] for r in h.ops) + 1)
        ]
        bad = [r for r in h.ops if r["error"] or not r.get("ok", False)]
        if bad:
            summary["failed_ops"] = sorted({(r["kind"], r["error"] or "wrong output") for r in bad})[:5]
        print(json.dumps({"summary": summary, "units": {k: u for k, (_v, u) in own.items()}}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if h.spark is not None:
                from pyspark import SparkContext

                if SparkContext._gateway is not None:
                    _stop_spark(h.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
