"""Crawl/extract benchmark: one closed-loop client on ``local[N]``.

    python3 perfbench/run.py --workload deep_crawl --seed 1 --seconds 8 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics (``urls_per_s``, ``setup_s``, ``peak_rss_mb``); ``--trace 1``
runs the same workload with spans around every call into the engine's
layers plus Spark status-store counters and standalone layer probes, and
reports the per-layer metrics instead. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything
the run writes stays under ``.perfbench_work/`` in the current
directory; spans of a traced run are written to
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAX_CORES = 4
DRIVER_MEM = "2g"       # well below the RAM of a small shared host
SETUP_REPEATS = 3       # input generation + load, median reported
MIN_CALLS = 2           # a crawl call outlasts --seconds; measure two


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _session(work: str, cores: int):
    from website_to_agent_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers inherit the environment of the JVM launched here;
    # this process may already have cached the system default
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the launcher JVM that spark-submit starts first takes these options
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData"))
    )
    return get_spark(
        app_name="perfbench", cores=cores,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: peak memory then moves with
            # off-heap, Python-worker and driver memory instead of with
            # G1's heap-expansion decisions, which varied it by a quarter
            # between identical runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
                # no /tmp/hsperfdata_<user> file outside the checkout
                " -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every stage of a run in the status store for the
            # traced run's counters (set in both modes: same session)
            "spark.ui.retainedStages": "20000",
            "spark.ui.retainedJobs": "20000",
        },
    )


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in and the Python workers that
    JVM forked, and wait until each has exited."""
    from observe import descendants
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    forks = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    # the JVM exits when the pipe to its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(_running, forks)):
        time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (zombies count as
    exited: only their parent can reap them)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def measure(args, work: str) -> dict:
    from observe import PssSampler, SparkCounters, Tracer
    from workloads import WORKLOADS

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    trace = bool(args.trace)
    tracer = Tracer(f"{args.workload}-seed{args.seed}", enabled=trace)

    t0 = time.perf_counter()
    spark = _session(work, cores)
    try:
        t_session = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        load_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            load_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm()
        t_warm = time.perf_counter() - t0
        setup_s = t_session + statistics.median(load_s) + t_warm

        counters = SparkCounters(spark) if trace else None
        if trace:
            wl.instrument()
        sampler = PssSampler()
        calls = []          # per successful call: (wall s, pages ok)
        per_call = []       # traced runs: per-call layer facts
        attempted = failed = wrong = checked = 0
        timed_s = 0.0
        timed_spans = [len(tracer.spans)]
        overhead_s = -tracer.overhead_s
        with sampler.active():
            while attempted < MIN_CALLS or timed_s < args.seconds:
                attempted += 1
                if trace:
                    counters.mark()
                first_span = len(tracer.spans)
                t0 = time.perf_counter()
                try:
                    n_ok, rows = wl.call()
                except Exception:
                    timed_s += time.perf_counter() - t0
                    failed += 1
                    traceback.print_exc()
                    continue
                wall = time.perf_counter() - t0
                timed_s += wall
                calls.append((wall, n_ok))
                if trace:
                    per_call.append({
                        "spark": counters.mark(),
                        "run_s": tracer.total("crawl.run", first_span),
                        "collect_s": tracer.total("crawl.collect", first_span),
                        "commit_s": tracer.total("catalog.commit", first_span),
                        "read_s": tracer.total("catalog.read", first_span),
                    })
                wl.release(keep_state=trace)
                if trace:
                    per_call[-1].update(wl.call_facts())
                w, c = wl.check(rows)
                wrong += w
                checked += c
        timed_spans.append(len(tracer.spans))
        overhead_s += tracer.overhead_s
        print(f"perfbench: session {t_session:.2f}s, inputs "
              f"{' '.join(f'{x:.2f}' for x in load_s)}s, warm-up "
              f"{t_warm:.2f}s, calls {' '.join(f'{w:.2f}' for w, _ in calls)}s",
              file=sys.stderr)

        rates = [n / w for w, n in calls]
        error_share = wrong / checked if checked else 1.0
        result = {
            "correct": failed < attempted and wrong == 0,
            "attempted": attempted,
            "failed": failed,
            "check": {"error_share": error_share,
                      "ops_failed_share": failed / attempted},
        }
        if not trace:
            result["metrics"] = {
                "urls_per_s": (_median(rates), "1/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (sampler.peak / 1e6, "MB"),
            }
            return result

        probes = wl.layer_probes()
        tracer.dump(os.path.join(ROOT, ".perfbench_work", "traces",
                                 f"{tracer.run_id}.json"))
        result["metrics"] = layer_metrics(
            calls, per_call, probes, tracer, timed_spans, overhead_s,
            rates, cores, result["check"],
        )
        return result
    finally:
        _shutdown(spark)


def layer_metrics(calls, per_call, probes, tracer, timed_spans,
                  overhead_s, rates, cores, check) -> dict:
    """Per-layer metrics of a traced run; a layer the workload does not
    exercise reports 0."""
    walls = [w for w, _ in calls]
    timed = sum(walls)
    steps = [c.get("supersteps", 0) for c in per_call]
    step_secs = [s for c in per_call for s in c.get("step_secs", ())]
    sp = [c["spark"] for c in per_call]
    kernel = probes["extract.kernel_s_per_page"]
    udf_s = probes.get("extract.udf_s", _median(walls))
    self_s = tracer.self_time_by_layer(*timed_spans)
    m = {
        "crawl.supersteps": (_median(steps), "count"),
        "crawl.superstep_s_p50": (_median(step_secs), "s"),
        "crawl.superstep_s_max": (max(step_secs, default=0.0), "s"),
        "crawl.run_s": (_median([c["run_s"] for c in per_call]), "s"),
        "crawl.collect_s": (_median([c["collect_s"] for c in per_call]), "s"),
        "spark.jobs": (_median([s["jobs"] for s in sp]), "count"),
        "spark.jobs_per_superstep": (_median(
            [s["jobs"] / max(1, k) for s, k in zip(sp, steps)]), "count"),
        "spark.tasks": (_median([s["tasks"] for s in sp]), "count"),
        "spark.shuffle_write_mb": (_median(
            [s["shuffle_write"] / 1e6 for s in sp]), "MB"),
        "spark.shuffle_read_mb": (_median(
            [s["shuffle_read"] / 1e6 for s in sp]), "MB"),
        "spark.busy_share": (_median(
            [s["run_ms"] / 1e3 / (w * cores) for s, w in zip(sp, walls)]),
            "ratio"),
        "spark.gc_s": (_median([s["gc_ms"] / 1e3 for s in sp]), "s"),
        "extract.udf_s": (udf_s, "s"),
        "extract.kernel_us_per_page": (kernel * 1e6, "us"),
        "extract.kernel_share": (_median(
            [n * kernel / (w * cores) for w, n in calls]), "ratio"),
        "extract.mb_per_s": (probes["extract.mb"] / udf_s, "MB/s"),
        "politeness.drain_s": (probes.get("politeness.drain_s", 0.0), "s"),
        "politeness.held_share": (
            probes.get("politeness.held_share", 0.0), "ratio"),
        "politeness.robots_filter_s": (
            probes.get("politeness.robots_filter_s", 0.0), "s"),
        "bloom.build_s": (probes.get("bloom.build_s", 0.0), "s"),
        "bloom.fold_s": (probes.get("bloom.fold_s", 0.0), "s"),
        "bloom.probe_s": (probes.get("bloom.probe_s", 0.0), "s"),
        "bloom.negative_share": (
            probes.get("bloom.negative_share", 0.0), "ratio"),
        "catalog.commit_s": (_median([c["commit_s"] for c in per_call]), "s"),
        "catalog.read_s": (_median([c["read_s"] for c in per_call]), "s"),
        "catalog.mb_per_superstep": (_median(
            [c.get("catalog_bytes", 0) / 1e6 / max(1, k)
             for c, k in zip(per_call, steps)]), "MB"),
    }
    for layer in ("crawl", "politeness", "bloom", "catalog", "extract"):
        m[f"layer_share.{layer}"] = (self_s.get(layer, 0.0) / timed, "ratio")
    m["trace.urls_per_s"] = (_median(rates), "1/s")
    m["trace.overhead_share"] = (overhead_s / timed, "ratio")
    m["check.error_share"] = (check["error_share"], "ratio")
    m["check.ops_failed_share"] = (check["ops_failed_share"], "ratio")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import website_to_agent_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, value in result.pop("check").items():
        print(f"{name} = {value:.6g} ratio")
    metrics = {}
    for name, (value, unit) in result["metrics"].items():
        print(f"{name} = {value:.6g} {unit}")
        metrics[name] = {"value": value, "unit": unit}
    result["metrics"] = metrics
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
