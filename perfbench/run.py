"""Lake-lifecycle benchmark for pydala2_spark.

Usage, from the repository root:

    python3 perfbench/run.py --workload lake_ingest --seed 1 --seconds 20 --trace 0

Two closed-loop, single-client workloads on one ``local[nproc]``
session (see BENCHMARK.json for why each exists):

- ``lake_ingest``: appends, upserts, stats refresh, freshness reads,
  delete/update and compaction on a managed dataset, then bloom point
  lookups, a partition filter and catalog SQL over the compacted lake;
- ``analytics_iter``: driver-loop-bound registry queries.

A workload is a fixed op sequence (a round) made from ``--seed``. Set-up
boots the session, generates the inputs and, for ``lake_ingest``, runs
one warm-up pass of every op type, so that the timed rounds do not pay
first-use code generation (see ``WARM_UP``). The run then repeats
rounds for ``--seconds``: a round starts only if a round as long as the
mean so far still ends in time (at least one round runs). Every op's output is checked, untimed; a
wrong output or a failed op, in the warm-up too, makes the run exit 1.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs one
traced round and one untraced round, and prints the per-layer metrics:
spans around every call into a layer, with the Spark jobs, stages and
tasks of each (``spans.py``). ``--trace-out FILE`` also writes the spans
as JSON for ``perfbench/summarize.py``. Per-layer metrics whose unit
is ``count`` or ``B`` are exact counts: they repeat for a given seed.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
(``detail: {...}``) carries the workload's op-type latencies, the
tail percentile used, and run conditions (calibration probe, load
average, the share of CPU time the host stole while timing, nproc,
driver memory). Every file the run writes lives under
``.perfbench_tmp/`` in the working directory and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("lake_ingest", "analytics_iter")
FIXTURE_REPS = 3  # input generation is repeated and its median kept
# Whether set-up runs a warm-up pass before untraced rounds. The
# analytics round runs cold: its warm-up pass would cost a whole round
# more per run, which the benchmark's time budget does not hold, and
# its cold round repeats closely. A traced run always warms up, so that
# traced minus untraced time is the cost of tracing.
WARM_UP = {"lake_ingest": True, "analytics_iter": False}
# op-type latency metrics of the lake workloads: name -> op kind
OP_KINDS = {
    "append_p50_s": "append",
    "upsert_p50_s": "upsert",
    "compact_s": "compact",
    "range_read_p50_s": "range_read",
    "point_read_p50_s": "point_read",
    "sql_p50_s": "sql",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="write the traced round's spans to this JSON file")
    return p.parse_args(argv)


# The library's 16g default exceeds small machines and the benchmark's
# data is small. The heap is committed and touched at start, so the
# JVM's peak RSS does not wander with the collector's heap sizing.
DRIVER_MEMORY = "2g"


def pin_environment(repo: str, root: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python workers
    at ``root``, and make ``pydala2_spark`` importable by workers."""
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": root,
            "SPARK_LOCAL_DIRS": os.path.join(root, "local"),
            "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        }
    )
    time.tzset()
    return {
        "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={root} "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Dderby.system.home={root} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the status tracker must still hold a whole round's jobs when
        # the traced round's counts are read back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def calib_s(spark) -> float:
    """``bench.py``'s fixed-work probe: one small Spark job that depends
    on no repo code, min of 3. A loaded machine inflates it."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 16).selectExpr("sum(id * 3 % 7)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def cpu_counters(sc) -> tuple[float, float]:
    """``(stolen, used)`` CPU seconds so far: the time the hypervisor
    took from this machine's CPUs (all processes), and the CPU time of
    this process and the Spark JVM."""
    tick = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        stolen = int(f.readline().split()[8]) / tick
    t = os.times()
    used = t.user + t.system
    proc = jvm_process(sc)
    if proc is not None:
        with open(f"/proc/{proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        used += (int(fields[11]) + int(fields[12])) / tick
    return stolen, used


def jvm_process(sc):
    return getattr(sc._gateway, "proc", None)


def peak_rss_mb(sc) -> tuple[float, float]:
    """Peak RSS of this Python process and of the Spark JVM, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = jvm_process(sc)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return py_kb / 1024, jvm_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    proc = jvm_process(spark.sparkContext)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def make_workload(name: str, ctx):
    if name == "lake_ingest":
        from lake_ingest import LakeIngest as W
    else:
        from analytics_iter import AnalyticsIter as W
    return W(ctx)


def run_rounds(wl, tracer, seconds: float) -> list:
    """At least one round; another only if a round as long as the mean
    so far (checks included) still ends within ``seconds``."""
    from common import Round

    rounds = []
    t0 = time.perf_counter()
    while True:
        rnd = Round(tracer)
        try:
            wl.round(rnd, len(rounds))
        finally:
            rounds.append(rnd)
        elapsed = time.perf_counter() - t0
        if elapsed * (len(rounds) + 1) / len(rounds) > seconds:
            return rounds


def end_to_end(rounds, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    from common import hd_median, median, tail

    lat = [o.latency_s for r in rounds for o in r.ops]
    run_s = [r.run_s for r in rounds]
    value, how, n = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (median(run_s), "s"),
        "ops_per_s": (len(lat) / sum(run_s), "ops/s"),
        "op_p50_s": (hd_median(lat), "s"),
        "op_tail_s": (value, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    kinds = {o.kind for r in rounds for o in r.ops}
    by_kind = {k: median([x for r in rounds for x in r.latencies(k)]) for k in sorted(kinds)}
    detail = {"op_tail": how, "op_tail_n": n, "rounds": len(rounds), "round_run_s": run_s,
              "op_latency_s": lat, "op_p50_s_by_kind": by_kind}
    for name, kind in OP_KINDS.items():
        if kind in by_kind:
            detail[name] = by_kind[kind]
    for key in ("write_amp", "space_amp"):
        xs = [r.extra[key] for r in rounds if key in r.extra]
        if xs:
            detail[key] = median(xs)
    return metrics, detail


def per_layer(traced, untraced, telemetry: dict, detail: dict) -> dict:
    """Per-layer metrics of the traced round; 0 where the workload never
    enters the layer. Counts (calls, jobs, stages, tasks, files, bytes)
    are exact for a given seed."""
    from analytics_iter import QUERIES
    from spans import FS_LIST_FUNCS, layer_totals, self_times

    spans = traced.tracer.spans
    tot = layer_totals(spans)

    def t(layer, key):
        return tot.get(layer, {}).get(key, 0)

    def by_name(name, key):
        ss = [s for s in spans if s.name == name]
        return sum((s.end - s.start) if key == "busy_s" else getattr(s, key) for s in ss)

    x = traced.extra
    m = {
        "writer.busy_s": t("writer", "busy_s"),
        "writer.calls": t("writer", "calls"),
        "writer.jobs": t("writer", "jobs"),
        "writer.tasks": t("writer", "tasks"),
        "writer.files_out": x.get("writer.files_out", 0),
        "writer.bytes_out": x.get("writer.bytes_out", 0),
        "merge.busy_s": t("merge", "busy_s"),
        "merge.jobs": t("merge", "jobs"),
        "merge.stages": t("merge", "stages"),
        "merge.tasks": t("merge", "tasks"),
        "merge.files_rewritten": x.get("merge.files_rewritten", 0),
        "merge.bytes_written": x.get("merge.bytes_written", 0),
        "merge.useful_row_ratio": x.get("merge.useful_row_ratio", 0),
        "maintenance.busy_s": t("maintenance", "busy_s"),
        "maintenance.jobs": t("maintenance", "jobs"),
        "maintenance.tasks": t("maintenance", "tasks"),
        "maintenance.files_in": x.get("maintenance.files_in", 0),
        "maintenance.files_out": x.get("maintenance.files_out", 0),
        "maintenance.bytes_rewritten": x.get("maintenance.bytes_rewritten", 0),
        "stats.refresh_s": by_name("stats.refresh", "busy_s"),
        "stats.refresh_jobs": by_name("stats.refresh", "jobs"),
        "stats.prune_s": by_name("stats.read_pruned", "busy_s"),
        "stats.prune_jobs": by_name("stats.read_pruned", "jobs"),
        "stats.files_kept_ratio": x.get("stats.files_kept_ratio", 0),
        "stats.useful_file_ratio": x.get("stats.useful_file_ratio", 0),
        "bloom.prune_s": by_name("bloom.scan_point", "busy_s"),
        "bloom.jobs": by_name("bloom.scan_point", "jobs"),
        "bloom.files_kept_ratio": x.get("bloom.files_kept_ratio", 0),
        "bloom.false_positive_ratio": x.get("bloom.false_positive_ratio", 0),
        "dataset.filter_s": by_name("dataset.filter", "busy_s"),
        "dataset.jobs": t("dataset", "jobs"),
        "catalog.sql_s": t("catalog", "busy_s"),
        "catalog.jobs": t("catalog", "jobs"),
        "catalog.shuffle_exchanges": x.get("catalog.shuffle_exchanges", 0),
        "fs.calls": t("fs", "calls"),
        "fs.list_calls": sum(1 for s in spans if s.layer == "fs" and s.name[3:] in FS_LIST_FUNCS),
        "fs.busy_s": t("fs", "busy_s"),
    }
    for q in QUERIES:
        m[f"q.{q}.construct_s"] = by_name(f"q.{q}.construct", "busy_s")
        m[f"q.{q}.compute_s"] = by_name(f"q.{q}.compute", "busy_s")
        m[f"q.{q}.jobs"] = t(f"q.{q}", "jobs")
        m[f"q.{q}.tasks"] = t(f"q.{q}", "tasks")
        m[f"q.{q}.shuffle_exchanges"] = x.get(f"q.{q}.shuffle_exchanges", 0)
    m["spark.jobs"] = sum(s.jobs for s in spans)
    m["spark.stages"] = sum(s.stages for s in spans)
    m["spark.tasks"] = sum(s.tasks for s in spans)
    m["bench.other_s"] = traced.run_s - sum(self_times(spans).values())
    m["trace.overhead_s"] = traced.run_s - untraced.run_s
    m.update(telemetry)
    for name in [*OP_KINDS, "write_amp", "space_amp"]:
        m[name] = detail.get(name, 0)
    return m


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "pydala2_spark", "__init__.py")):
        print("perfbench: run from the repository root (pydala2_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, repo, os.path.join(repo, "scripts")]
    base = os.path.join(repo, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix="run-", dir=base)
    from common import Context, Round, log_exception, median
    from spans import Tracer

    spark = None
    try:
        conf = pin_environment(repo, root)
        t0 = time.perf_counter()
        from pydala2_spark.session import get_spark

        spark = get_spark(app_name="perfbench", cpus=os.cpu_count(), extra_conf=conf)
        spark.range(1).collect()
        boot_s = time.perf_counter() - t0

        tracer = Tracer(spark.sparkContext)
        ctx = Context(spark=spark, root=root, seed=args.seed, tracer=tracer)
        telemetry = {"calib_s.start": calib_s(spark), "loadavg.start": os.getloadavg()[0]}
        wl = make_workload(args.workload, ctx)
        fixture_s = []
        for rep in range(FIXTURE_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            fixture_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        warm = [wl.warmup(Round(tracer))] if args.trace or WARM_UP[args.workload] else []
        warmup_s = time.perf_counter() - t
        setup_s = boot_s + median(fixture_s) + warmup_s

        if args.trace:
            tracer.enabled = True
            tracer.install_fs_wrappers()
            try:
                traced = run_rounds(wl, tracer, 0)
                tracer.resolve_counts()
            finally:
                tracer.uninstall_fs_wrappers()
                tracer.enabled = False
            untraced = run_rounds(wl, tracer, 0)
            rounds = traced + untraced
        else:
            c0, t0 = cpu_counters(spark.sparkContext), time.perf_counter()
            rounds = run_rounds(wl, tracer, args.seconds)
            c1, wall = cpu_counters(spark.sparkContext), time.perf_counter() - t0
            # a host that took CPU from this machine while it was timed
            # shows here, next to the calibration probe
            telemetry["steal_share"] = (c1[0] - c0[0]) / (os.cpu_count() * wall)
            telemetry["timed_cpu_s"] = c1[1] - c0[1]
        checked = warm + rounds
        telemetry.update({"calib_s.end": calib_s(spark), "loadavg.end": os.getloadavg()[0]})
        py_mb, jvm_mb = peak_rss_mb(spark.sparkContext)
        metrics, detail = end_to_end(untraced if args.trace else rounds, setup_s, py_mb + jvm_mb)
        attempted = sum(len(r.ops) for r in checked)
        failed = sum(1 for r in checked for o in r.ops if not o.ok)
        detail.update(
            {k: round(v, 6) if isinstance(v, float) else v for k, v in telemetry.items()},
            fail_ratio=failed / attempted,
            boot_s=boot_s,
            fixture_s=fixture_s,
            warmup_s=warmup_s,
            peak_rss_python_mb=py_mb,
            peak_rss_jvm_mb=jvm_mb,
            nproc=os.cpu_count(),
            driver_memory=os.environ["SPARK_GRAFT_DRIVER_MEM"],
        )
        if args.trace:
            out = per_layer(traced[0], untraced[0], telemetry, detail)
            units = layer_units()
            result_metrics = {k: {"value": v, "unit": units[k]} for k, v in out.items()}
            from summarize import summary_lines

            for line in summary_lines(traced[0].tracer.spans, traced[0].run_s, untraced[0].run_s):
                print(line)
            if args.trace_out:
                tracer.export(args.trace_out, workload=args.workload, seed=args.seed,
                              run_s=traced[0].run_s, untraced_run_s=untraced[0].run_s)
        else:
            result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        print("detail: " + json.dumps(detail, default=str))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": result_metrics}))
        return 0 if failed == 0 else 1
    except Exception:
        log_exception(f"workload {args.workload}")
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def layer_units() -> dict[str, str]:
    """Units of the per-layer metrics, from BENCHMARK.json."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
