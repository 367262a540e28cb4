"""The repo's benchmark: one workload per run, every metric by name.

    python3 perfbench/run.py --workload batch_backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run starts one Spark session
(`local[<cores>]`), makes the workload's inputs from the seed (under
`.perfbench/` at the checkout root; generation is excluded from timing),
warms the session up with untimed passes, then runs timed passes until
`--seconds` is spent. Every pass, warm-up and traced ones included, is
checked (perfbench/checks.py); a pass that raises or fails its check
counts in `failed`.

--trace 0 prints the end-to-end metrics (metrics.END_TO_END). --trace 1
runs the same untimed warm-up and timed passes, then restarts the Spark
context with a local uncompressed event log, warms it with one pass, and
runs one traced pass whose jobs carry a job group per layer; the log is
folded per group into the per-layer metrics (metrics.PER_LAYER), next to
the untraced throughput of the same run.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Lines before it are for people.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CORES = len(os.sched_getaffinity(0))
# The first pass of a session is 1.5-3x slower than later ones (JIT,
# codegen, Python worker start); it is the warm-up, and counts in setup_s.
# Later passes still drift down a few percent each, which
# passes.drift_per_pass reports; another warm-up pass would add 6-8 s to a
# run of about 45 s.
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2
MAX_FAILED = 3


def start_session(event_log: "Path | None" = None):
    from trace_aware_reservoir_otel_spark.session import get_spark

    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": str(event_log),
            }
        )
    return get_spark(app_name="perfbench", cores=CORES, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def cpu_ticks() -> "tuple[int, int]":
    """(steal, total) jiffies of the whole machine, or (0, 0) off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def drift_per_pass(walls: "list[float]") -> float:
    """Least-squares slope of pass time over pass index, as a share of the
    median pass time (0 when fewer than two passes)."""
    n = len(walls)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(walls) / n
    slope = sum((i - mx) * (w - my) for i, w in enumerate(walls)) / sum(
        (i - mx) ** 2 for i in range(n)
    )
    return slope / statistics.median(walls)


def high_percentile(samples: "list[float]") -> "tuple[str, float]":
    """The highest percentile with at least ten samples beyond it, or the
    maximum when the sample is too small for one."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 20:
        q = 100 * (n - 10) // n
        return f"p{q}", xs[max(0, (q * n) // 100 - 1)]
    return "max", xs[-1]


def timed_passes(tally, run_pass, seconds: float) -> list:
    """Start checked passes until `seconds` have gone by and at least
    MIN_TIMED_PASSES have run, so the number of passes in the median does
    not flip with small changes in pass time."""
    results = []
    t_end = time.perf_counter() + seconds
    while (
        time.perf_counter() < t_end or len(results) < MIN_TIMED_PASSES
    ) and tally.failed <= MAX_FAILED:
        r = tally.run(run_pass)
        if r is not None:
            results.append(r)
    return results


def layer_metrics(wl, tracer, groups: dict, counts: dict, traced_wall: float) -> dict:
    from eventlog import GroupStats
    from metrics import LAYERS, PER_LAYER

    selfs = wl.self_times(tracer, groups)
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    attributed = 0.0
    for layer in LAYERS:
        st = selfs.get(layer) or GroupStats()
        out[f"{layer}.self_s"] = st.job_s
        out[f"{layer}.jobs"] = st.jobs
        out[f"{layer}.executor_cpu_s"] = st.executor_cpu_s
        out[f"{layer}.shuffle_bytes"] = st.shuffle_bytes
        out[f"{layer}.spill_bytes"] = st.spill_bytes
        attributed += st.job_s
    out["traced_pass_s"] = traced_wall
    out["unattributed_s"] = traced_wall - attributed
    stream = selfs.get("streaming.pipeline")
    if stream is not None and counts.get("streaming.pipeline.batches"):
        out["streaming.pipeline.jobs_per_batch"] = (
            stream.jobs / counts["streaming.pipeline.batches"]
        )
    decoded = sum(
        groups[g].node_rows.get("MapInPandas", 0)
        for g in ("plans.state", "plans.commit")
        if g in groups
    )
    out["sources.otlp_proto.decoded_per_input_span"] = decoded / wl.rows if decoded else 0.0
    out.update(counts)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(HERE), str(ROOT)]
    # Python workers (pandas UDFs) import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    # keep every temporary file of Python, the launcher JVM and the driver
    # JVM inside the checkout
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"

    import eventlog
    from checks import Tally
    from metrics import END_TO_END, PER_LAYER
    from tracing import GROUP_PREFIX, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    ticks0 = cpu_ticks()
    spark = start_session()
    try:
        wl = WORKLOADS[args.workload](spark, WORK, args.seed)
        gen_s = wl.prepare()
        tally = Tally(wl.rows, wl.cfg.size_k, wl.stored_digest())
        warm = [tally.run(wl.run_pass) for _ in range(WARMUP_PASSES)]
        setup_checks_s = tally.check_s
        setup_s = time.time() - PROCESS_START - gen_s - setup_checks_s
        timed = timed_passes(tally, wl.run_pass, args.seconds)
        walls = [r.wall_s for r in timed]
        rates = [wl.rows / w for w in walls]
        latencies = [x for r in timed for x in r.latencies_s]
        drift = drift_per_pass(walls)
        hi_name, hi = high_percentile(latencies) if latencies else ("max", 0.0)
        ticks1 = cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        print(
            f"# {wl.name} seed={args.seed} rows={wl.rows} setup={setup_s:.2f}s "
            f"(generation {gen_s:.2f}s, checks {setup_checks_s:.2f}s excluded; warm-up "
            f"{[round(r.wall_s, 2) if r else None for r in warm]}) "
            f"timed={[round(w, 2) for w in walls]} drift={drift:+.3f}/pass "
            f"latency n={len(latencies)} {hi_name}={hi:.3f}s cpu-steal={steal:.1%}",
            flush=True,
        )

        metrics = {}
        if args.trace == 0:
            if timed:
                values = {
                    "turns_per_s": statistics.median(rates),
                    "latency_p50_s": statistics.median(latencies),
                    "setup_s": setup_s,
                }
                metrics = {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}
        else:
            log_dir = WORK / "eventlog" / uuid.uuid4().hex
            spark.stop()
            spark = start_session(log_dir)
            wl.attach(spark)
            tally.run(wl.run_pass)
            tracer = Tracer(spark)
            traced = {}

            def traced_pass():
                with tracer.counting_manifests() as manifests:
                    result, counts = wl.traced_pass(tracer)
                counts["fsutil.manifest_bytes"] = manifests.bytes
                traced["counts"] = counts
                return result

            result = tally.run(traced_pass)
            traced_wall = wl.traced_wall(tracer) if result else 0.0
            alias = wl.job_group_alias() if result else {}
            spark.stop()
            if result is not None:
                groups = {
                    g.removeprefix(GROUP_PREFIX): st
                    for g, st in eventlog.fold(
                        eventlog.event_log_lines(str(log_dir)), alias
                    ).items()
                }
                values = layer_metrics(wl, tracer, groups, traced["counts"], traced_wall)
                values["traced.turns_per_s"] = wl.rows / result.wall_s
                values["untraced.turns_per_s"] = statistics.median(rates) if rates else 0.0
                values["passes.drift_per_pass"] = drift
                metrics = {n: {"value": values[n], "unit": u} for n, u, _ in PER_LAYER}
            shutil.rmtree(log_dir, ignore_errors=True)

        if tally.failed == 0 and tally.ref_digest is not None:
            wl.store_digest(tally.ref_digest)
    finally:
        stop_session(spark)
        for d in ("run", "inputs", "tmp", "spark-local", "warehouse", "eventlog"):
            shutil.rmtree(WORK / d, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": tally.failed == 0 and bool(metrics),
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
