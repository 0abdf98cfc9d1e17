"""Benchmark of astro_sdk_spark's ELT and LLM-data operators.

    python3 perfbench/run.py --workload sql_elt --seed 1 --seconds 40 --trace 0

Run from the root of a checkout. One run is one fresh Python process with
one client thread and one Spark session from ``get_session()`` on
``local[<cores>]``, the way a scheduled task runs:

1. set-up: process start to the first Spark job done (``setup_s``);
2. inputs staged from the repo's testdata tables (``testdata/sf0.001``:
   6,000 lineitem rows, 500 documents, 500 embeddings), untimed;
   ``--seed`` chooses only the query order, the keys the append and
   merge batches touch, the micro-batch splits and the probed vectors;
3. a cold pass (``cold_s``), then as many warm passes as fill
   ``--seconds`` after it at the workload's nominal pass times (at least
   one; with ``--trace 1``, one untraced and then one traced);
4. correctness checks, untimed;
5. the session and its JVM stopped, and every file the run wrote deleted.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:

* ``setup_s``: process start to the first Spark job done;
* ``cold_s``: the cold pass; ``warm_s``: median of the warm passes;
* ``op_p50_ms``: median latency of one operation over the warm passes
  (sql_elt: every query and operator call; curate_ann: every top-k
  request of the one closed-loop caller).

Failed or wrong operations are the result's ``failed`` out of ``attempted``.
The line before the result also gives ``fail_ratio``, ``op_p90_ms`` with
``op_samples``, ``peak_rss_mb`` (peak resident memory, VmHWM, of Python
plus the JVM) and ``ingest_mb_per_s`` (sql_elt only: bytes of the staged
input files over the time of every ``load_file`` call of the run, cold
pass included). These are not end-to-end metrics. A run times 63
(sql_elt) or 8 (curate_ann) operations, too few for a 90th percentile
to hold a bound. The inputs are a few MB, so a load is bound by its
fixed cost and spreads too widely between runs to gate on, and the
resident size is mostly the pre-touched heap the library sizes from the
machine's memory. The last two are also per-layer metrics.

With ``--trace 1`` the result carries the per-layer metrics of the
traced pass (``<module>.<span>.<counter>``, summed over the pass, 0
where the workload never enters the span) and the tracing overhead: the
traced pass against ``warm_s``. In both modes the line
before the result is context: pass times, per-span warm op time, and
host noise (steal, load, a calibration job timed before and after).

The run writes only under ``.perfbench_work/`` in the checkout: warehouse,
Spark local dirs, checkpoints, temp files and staged inputs.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the sf0.001 testdata tables the repo's tests and tools read, copied
# byte for byte so a run reads nothing outside its checkout. At this scale
# a run of JVM start, cold pass and warm pass stays near a minute on 4 cores,
# and per-call fixed cost dominates, as it does for most registry queries
# at sf0.1; sf0.01 has the same documents and embeddings
DATA_DIR = os.path.join(HERE, "testdata", "sf0.001")
_CLK_TCK = os.sysconf("SC_CLK_TCK")

# span -> counters it reports beyond spans.BASE
SPANS = {
    "engine.read_file": ("input_mb",),
    "operators.load_file": ("output_mb",),
    "operators.transform": ("planning_ms",),
    "operators.append": (),
    "operators.merge": (),
    "operators.data_validation": (),
    "operators.publish": ("output_mb",),
    "operators.cleanup": (),
    "streaming.store": ("batch_ms", "plan_ms"),
    "functions.sketch_query": (),
    "queries.query": ("stages", "planning_ms", "busy_ratio", "shuffle_write_mb", "spill_mb"),
    "functions.cleaning": ("build_s", "busy_ratio"),
    "functions.text": ("build_s",),
    "functions.dedup": ("build_s", "shuffle_write_mb", "spill_mb"),
    "functions.sampling": ("build_s",),
    "functions.ann_index.build": (),
    "streaming.ann_ingest": ("batch_ms", "plan_ms"),
    "functions.ann_index.topk": ("files_read", "planning_ms", "busy_ratio"),
    "functions.ann_index.compact": (),
}
_UNITS = {"s": "s", "exec_run_s": "s", "build_s": "s", "jobs": "count",
          "tasks": "count", "stages": "count", "files_read": "count", "busy_ratio": "ratio",
          "planning_ms": "ms", "batch_ms": "ms", "plan_ms": "ms"}
END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "op_p50_ms": "ms"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from spans import BASE

    out = {"session.get_session.s": "s"}
    for span, extra in SPANS.items():
        for c in BASE + extra:
            out[f"{span}.{c}"] = _UNITS.get(c, "MB")
    out["operators.load_file.mb_per_s"] = "MB/s"
    out.update({"jvm.gc_s": "s", "jvm.peak_rss_mb": "MB", "op_samples": "count",
                "trace.overhead_ratio": "ratio", "host.steal_s": "s", "host.load1": "load",
                "host.calib_before_ms": "ms", "host.calib_after_ms": "ms"})
    return out


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start_ticks / _CLK_TCK


def steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _CLK_TCK


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def isolate(work: str) -> dict[str, str]:
    """Point every place Spark and Python write to under ``work`` and
    drop the library's tuning variables, so its defaults apply, except
    the pre-touched heap the library documents for long-lived sessions
    and benchmarks. Returns the session confs that complete the
    isolation."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    # Without it the pinned heap is touched lazily, pass after pass: on
    # 4 vCPUs the JVM's resident size grew from 2.3 to 7.7 GB over eight
    # sql_elt passes, and warm passes of one run varied from 7.5 s to
    # 10.9 s. Pre-touched, eleven passes of one run fell smoothly from
    # 7.6 s to 5.7 s as the JIT warmed. The touch is paid at JVM start,
    # inside setup_s.
    os.environ["SPARK_GRAFT_PRETOUCH"] = "1"
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    jvm_opts = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts before the Spark driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} {jvm_opts}"
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }


class Ctx:
    def __init__(self, spark, tracer, work: str, seed: int):
        import numpy as np

        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.rng = np.random.default_rng([seed, 1])
        self.data_dir = DATA_DIR

    def path(self, rel: str) -> str:
        return os.path.join(self.work, rel)


def calibrate_ms(spark, cores: int) -> float:
    """A fixed CPU-bound Spark job, timed; host noise shows in it."""
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, cores).selectExpr("bit_xor(xxhash64(id))").collect()
    return (time.perf_counter() - t0) * 1e3


def warm_passes(wl, seconds: float) -> int:
    """Untraced warm passes that fill ``seconds`` after the cold pass at
    the workload's nominal pass times. A count fixed in advance, not a
    clock, ends the run, so a slow host does not also stop the run at an
    earlier warm-up state."""
    cold_s, warm_s = wl.nominal_pass_s
    return max(1, int((seconds - cold_s) // warm_s))


def run_passes(wl, ctx, seconds: float, trace: bool) -> list[dict]:
    """Cold pass, then the untraced warm passes. A traced run makes one
    untraced warm pass, for the tracing overhead, and then one traced."""
    from spans import gc_seconds
    from workloads import Pass

    passes = []
    n_untraced = 1 + (1 if trace else warm_passes(wl, seconds))
    while len(passes) < n_untraced + trace:
        k = len(passes)
        steal0 = steal_s()
        ctx.tracer.enabled = k >= n_untraced
        p = Pass(ctx.tracer, capture=k == 1)
        gc0 = gc_seconds(ctx.spark)
        t0 = time.perf_counter()
        try:
            wl.run_pass(p, k)
        except Exception:  # noqa: BLE001 - a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            p.failures.append(f"pass {k} raised")
        dt = time.perf_counter() - t0 - p.excluded_s
        passes.append({"s": dt, "pass": p, "traced": ctx.tracer.enabled,
                       "steal_s": steal_s() - steal0,
                       "spans": ctx.tracer.take(), "gc_s": gc_seconds(ctx.spark) - gc0})
    ctx.tracer.enabled = False
    return passes


def pct(values: list[float], q: int) -> float:
    """q-th percentile (q in 10..90 by 10) by statistics.quantiles."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[q // 10 - 1]


def summarize(wl, passes: list[dict], check_failures: list[str]) -> tuple[dict, dict]:
    """End-to-end metrics of the untraced warm passes, and the counts."""
    cold = passes[0]
    warm = [p for p in passes[1:] if not p["traced"]]
    lat = [ms for p in warm for span, ms in p["pass"].ops
           if wl.request_spans is None or span in wl.request_spans]
    # every load_file call of the run, cold pass included: each call is
    # short and fixed-cost bound, so one pass's calls alone are noisy
    load_s = sum(ms for p in passes for span, ms in p["pass"].ops
                 if span == "operators.load_file") / 1e3
    failures = list(check_failures)
    for p in passes:
        failures += p["pass"].failures
        failures += [f"fingerprint of {key} changed between passes"
                     for key, fp in p["pass"].prints.items()
                     if cold["pass"].prints.get(key, fp) != fp]
    attempted = sum(len(p["pass"].ops) + p["pass"].raised for p in passes)
    metrics = {
        "cold_s": cold["s"],
        "warm_s": statistics.median(p["s"] for p in warm),
        "op_p50_ms": statistics.median(lat),
    }
    return metrics, {"attempted": max(1, attempted), "failed": len(failures),
                     "failures": failures, "op_samples": len(lat),
                     "op_p90_ms": pct(lat, 90),
                     "ingest_mb_per_s": wl.ingest_bytes * len(passes) / 1e6 / load_s
                     if load_s else 0.0}


def per_layer(wl, passes: list[dict], cores: int, untraced_warm_s: float) -> dict:
    from spans import per_pass

    traced = [p for p in passes if p["traced"]]
    sums = [per_pass(p["spans"], cores) | {"jvm.gc_s": p["gc_s"]} for p in traced]
    for s in sums:
        if s.get("operators.load_file.s"):
            s["operators.load_file.mb_per_s"] = wl.ingest_bytes / 1e6 / s["operators.load_file.s"]
    out = {}
    for name in per_layer_units():
        vals = [s[name] for s in sums if name in s]
        out[name] = statistics.median(vals) if vals else 0.0
    if traced:
        traced_warm_s = statistics.median(p["s"] for p in traced)
        out["trace.overhead_ratio"] = traced_warm_s / untraced_warm_s
    return out


def stop_session(spark) -> None:
    """Stop the session, then its JVM, and wait until the JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a call cut by SIGTERM leaves the gateway unusable
        traceback.print_exc(file=sys.stderr)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "astro_sdk_spark", "__init__.py")):
        print(f"astro_sdk_spark not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and deletes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        conf = isolate(work)
        cores = len(os.sched_getaffinity(0))
        steal0, load0 = steal_s(), load1()
        from astro_sdk_spark import get_session

        spark = get_session(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)
        spark.range(1).count()
        setup_s = process_age_s()
        spark.sparkContext.setLogLevel("ERROR")

        from spans import Tracer

        ctx = Ctx(spark, Tracer(spark), work, args.seed)
        calib0 = calibrate_ms(spark, cores)
        wl = WORKLOADS[args.workload](ctx)
        passes = run_passes(wl, ctx, args.seconds, bool(args.trace))
        try:
            check_failures = wl.check(passes[1]["pass"].captured)
        except Exception:  # noqa: BLE001 - a check that cannot run fails
            traceback.print_exc(file=sys.stderr)
            check_failures = ["correctness check raised"]
        calib1 = calibrate_ms(spark, cores)
        rss = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        metrics, counts = summarize(wl, passes, check_failures)
        metrics = {"setup_s": setup_s, **metrics}
        host = {"host.steal_s": steal_s() - steal0, "host.load1": (load0 + load1()) / 2,
                "host.calib_before_ms": calib0, "host.calib_after_ms": calib1}
        if args.trace:
            units = per_layer_units()
            layer = per_layer(wl, passes, cores, metrics["warm_s"]) | host | {
                "session.get_session.s": setup_s, "op_samples": counts["op_samples"],
                "jvm.peak_rss_mb": rss}
            out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        else:
            out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run still uses it
    for f in counts["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    op_ms: list[dict[str, float]] = [{}, {}]  # cold pass, mean of warm passes
    for i, p in enumerate(passes):
        acc, share = op_ms[i > 0], 1 if i == 0 else len(passes) - 1
        for span, ms in p["pass"].ops:
            acc[span] = acc.get(span, 0.0) + ms / share
    print(json.dumps({"workload": args.workload, "passes": [round(p["s"], 3) for p in passes],
                      "pass_steal_s": [round(p["steal_s"], 2) for p in passes],
                      "op_p90_ms": counts["op_p90_ms"], "op_samples": counts["op_samples"],
                      "fail_ratio": counts["failed"] / counts["attempted"],
                      "peak_rss_mb": rss, "ingest_mb_per_s": counts["ingest_mb_per_s"], **host,
                      **{f"{k}_op_ms": {s: round(v, 1) for s, v in d.items()}
                         for k, d in zip(("cold", "warm"), op_ms)}}))
    print(json.dumps({"correct": counts["failed"] == 0, "attempted": counts["attempted"],
                      "failed": counts["failed"], "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
