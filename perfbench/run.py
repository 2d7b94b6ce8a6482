"""Workload benchmark for the heritage pipeline engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload dashboard_serve --seed 1 --seconds 5 --trace 0

One run starts one Spark session (``local[<nproc>]``, one driver
process), sets the workload up several times, then issues its operations
closed-loop from one client for ``--seconds`` seconds (rounded up to whole
request cycles, at least the workload's minimum), checks every answer,
and prints as its last stdout
line a JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` enables
spans and Spark's event log, runs the workload's traced phases after the
final checks, and reports the per-layer metrics. The full
record of a run (per-kind latencies, set-up repetitions, canary, load,
effective parallelism, input digests, errors) is written to
``.perfbench/results/`` in the checkout.

Workloads, metrics and their meaning are listed in ``BENCHMARK.json``.
Exits with code 2, printing no result, when the engine package is not
importable from the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PACKAGE = "cultural_heritage_bigdata_project_spark"


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input scale relative to the sf0.1 fixture sizes; the smoke test
    # runs at a small scale
    ap.add_argument("--scale", type=float, default=1.0)
    # set-up repetitions; 0 takes the workload's own count
    ap.add_argument("--setups", type=int, default=0)
    # corrupt one answer, to show the output checks catch it
    ap.add_argument("--plant-wrong", action="store_true")
    return ap.parse_args(argv)


def _host_env(work: str) -> dict:
    """Pin the host-dependent knobs: cores from the affinity mask, a
    driver heap well below host RAM, temp files inside the run's work
    directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, mem_mb // 4)}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def _start_spark(work: str, trace: bool):
    from cultural_heritage_bigdata_project_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # JIT compiler threads live as long as the JVM, so the CPU they
        # use can be told apart from the operations' CPU (spans.cpu_delta_s)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _canary_s(spark) -> float:
    """Wall time of one fixed JVM-only job: moves only with the host's
    available compute."""
    t0 = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id * 2 + 1)").collect()
    return time.perf_counter() - t0


def _storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


T_PROCESS = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROCESS:6.1f}] {msg}", file=sys.stderr, flush=True)


def _mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class Tally:
    """Operations attempted and failed, with the reason for each failure."""

    def __init__(self, wrong_answer: type):
        self.wrong_answer = wrong_answer
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def passes(self, name: str, check) -> bool:
        """Run one check; a wrong answer or an error is recorded."""
        try:
            check()
            return True
        except Exception as e:  # every failure is counted, none is fatal
            self.errors.append(f"{name}: {type(e).__name__}: {e}")
            if not isinstance(e, self.wrong_answer):
                traceback.print_exc(file=sys.stderr)
            return False

    def count(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


def run(a) -> dict:
    import workloads

    if a.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    try:
        record, result = _run(a, work, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(root, ".perfbench", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    return result


def _run(a, work: str, workloads) -> tuple[dict, dict]:
    import gen
    import spans

    record: dict = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": a.scale, "env": _host_env(work), "loadavg_before": spans.loadavg_1m(),
    }
    tally = Tally(workloads.WrongAnswer)
    spark = tracer = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work, bool(a.trace))
        session_s = time.perf_counter() - t0
        _log(f"session: {session_s:.2f} s, load {record['loadavg_before']}")
        clock_offset = time.time() - time.perf_counter()
        record["default_parallelism"] = spark.sparkContext.defaultParallelism
        tracer = spans.Tracer(bool(a.trace), spark)
        wl = workloads.WORKLOADS[a.workload](spark, a.seed, a.scale, work, tracer, a.plant_wrong)
        wl.wrap_layers(tracer)
        tracer.count_py4j()

        setup_s, setup_cpu = [], []
        for i in range(a.setups or wl.SETUPS):
            c0 = spans.cpu_sample()
            t0 = time.perf_counter()
            wl.setup(i)
            setup_s.append(time.perf_counter() - t0)
            setup_cpu.append(spans.cpu_delta_s(c0, spans.cpu_sample()))
            _log(f"setup {i}: {setup_s[-1]:.2f} s, {setup_cpu[-1]:.2f} CPU s")
        record["inputs"] = gen.digest_streams(wl.streams())
        record["canary_s"] = _canary_s(spark)

        ops_done: list[tuple[str, str, float, float]] = []  # (rid, entry layer, start, end)
        cpu: list[float] = []  # CPU seconds of each timed operation

        def timed_op(rid, kind, layer, fn) -> float | None:
            """Time ``fn``, then check its answer outside the timed region.
            Returns the latency of a correct operation, else None."""
            check = None
            tracer.begin_request(rid)
            c0 = spans.cpu_sample()
            t0 = time.perf_counter()
            try:
                check = fn()
            except Exception as e:
                tally.errors.append(f"{rid} {kind}: {type(e).__name__}: {e}")
                traceback.print_exc(file=sys.stderr)
            finally:
                t1 = time.perf_counter()
                cpu.append(spans.cpu_delta_s(c0, spans.cpu_sample()))
                tracer.end_request()
            ops_done.append((rid, layer, t0, t1))
            ok = check is not None and tally.passes(f"{rid} {kind}", check)
            tally.count(ok)
            _log(f"{rid} {kind}: {t1 - t0:.3f} s{'' if ok else ' FAILED'}")
            return t1 - t0 if ok else None

        def run_checks(checks) -> None:
            for name, check in checks:
                t0 = time.perf_counter()
                tally.count(tally.passes(name, check))
                _log(f"{name}: {time.perf_counter() - t0:.2f} s")

        storage_before = _storage_mb(spark) if a.trace else 0.0
        tracer.reset_memo()
        steal0 = spans.cpu_steal_s()
        lat: list[float] = []
        by_kind: dict[str, list[float]] = {}
        t_start = time.perf_counter()
        for i, (kind, layer, fn) in enumerate(wl.ops()):
            # whole cycles only, at least MIN_CYCLES of them
            if (i % wl.CYCLE == 0 and i >= wl.CYCLE * wl.MIN_CYCLES
                    and time.perf_counter() - t_start >= a.seconds):
                break
            dt = timed_op(f"op{i}", kind, layer, fn)
            if dt is not None:
                lat.append(dt)
                by_kind.setdefault(kind, []).append(dt)
        record["window_s"] = time.perf_counter() - t_start
        record["window_cpu_steal_s"] = spans.cpu_steal_s() - steal0
        record["timed_ops"] = len(ops_done)
        run_checks(wl.final_checks())
        memo = (tracer.memo_calls, tracer.memo_misses)
        storage_growth = _storage_mb(spark) - storage_before if a.trace else 0.0
        rss = spans.peak_rss_mb()
        if a.trace:
            run_checks(wl.traced_checks())
    finally:
        if tracer is not None:
            tracer.uninstall()
        if spark is not None:
            _stop_spark(spark)
    _log("stopped")

    quality = wl.quality()
    if a.trace:
        import layers

        metrics = layers.per_layer(
            tracer, spans.parse_event_log(os.path.join(work, "eventlog")), clock_offset,
            ops_done, lat, cpu, session_s, quality, storage_growth, memo,
        )
        record["spans"] = len(tracer.spans)
    else:
        metrics = {
            "setup_s": (statistics.median(setup_s), "s"),
            "op_cpu_s": (_mean(cpu), "s"),
            "peak_rss_mb": (rss, "MB"),
        }
    ok = tally.failed == 0 and tally.attempted > 0
    record.update({
        "session_start_s": session_s, "setup_s": setup_s, "setup_cpu_s": setup_cpu,
        "latency_s": lat,
        "op_mean_s": _mean(lat), "cpu_s": cpu,
        "latency_by_kind_s": by_kind, "errors": tally.errors, "quality": quality,
        "info": wl.info, "loadavg_after": spans.loadavg_1m(),
        "metrics": {k: v for k, (v, _) in metrics.items()},
    })
    return record, {
        "correct": ok,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    a = _args(argv)
    sys.path.insert(0, os.getcwd())
    try:
        __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import the engine package {PACKAGE!r} from "
              f"{os.getcwd()}: {e}", file=sys.stderr)
        return 2
    result = run(a)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
