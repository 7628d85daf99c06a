"""simdcomp_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_zipf --seed 1 --seconds 12 \
        --trace 0

Run from the repository root.  Prints a human-readable report, then as
its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``).  Exits 1 when an oracle fails and 2 when the
program cannot be loaded.  Metric definitions: perfbench/README.md.

Run environment, pinned for every run:
* Spark master ``local[nproc]``, one process, one closed-loop client;
* a fixed, pre-touched driver heap with a fixed young generation:
  ``SPARK_DRIVER_MEM`` 2g with ``-Xms2g -XX:+AlwaysPreTouch -Xmn768m``, so
  neither the JVM's RSS nor its collection rate follows the garbage
  collector's sizing decisions, which differ from run to run;
* everything the run writes (``spark.local.dir``, Iceberg tables, temp
  files, JVM temp dir) goes under ``perfbench/.work/run-<pid>``, removed
  when the run ends; each ingest pass's table is removed after the next
  pass (the last one is checked at the end);
* the native kernels are pre-built once per checkout into
  ``perfbench/.work/native`` (``SIMDCOMP_NATIVE_DIR``) before any timing,
  so ``setup_s`` pays for loading the ``.so``, never for gcc.
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
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
SETUP_REPS = 2          # a cold and a warm session
CACHE_KEEP = 6          # generated inputs kept on disk
DRIVER_MEM = "2g"       # the whole driver heap, committed at JVM start
YOUNG_GEN = "768m"      # fixed: G1's adaptive young size slowed early passes


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_env(run_dir: Path) -> None:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SIMDCOMP_SCRATCH": str(run_dir / "spark-local"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SIMDCOMP_NATIVE_DIR": str(WORK / "native"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get(
                "PYTHONPATH", "").split(os.pathsep) if p]),
        # every JVM, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": java_opts,
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options '-Xms{DRIVER_MEM} -Xmn{YOUNG_GEN} "
            "-XX:+AlwaysPreTouch' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    tempfile.tempdir = None             # re-read TMPDIR


def build_native(dest: Path) -> float:
    """Compile the native kernels into ``dest`` in a fresh interpreter;
    returns the wall seconds, or -1.0 if no kernel could be built."""
    env = dict(os.environ, SIMDCOMP_NATIVE_DIR=str(dest))
    t0 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, "-c", "import sys\n"
         "from simdcomp_spark import native\n"
         "sys.exit(0 if native._load() is not None else 1)"],
        env=env, cwd=ROOT, timeout=300)
    return time.perf_counter() - t0 if r.returncode == 0 else -1.0


class Session:
    """The Spark session of the run; ``restart()`` starts a new one."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def __call__(self):
        return self.spark

    def restart(self) -> None:
        from simdcomp_spark import engine
        if self.spark is not None:
            self.spark.stop()
        self.spark = engine.get_spark("perfbench", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")

    def close(self) -> None:
        """Stop Spark, the JVM and every child process, and wait for them."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()          # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def reap_children(timeout: float = 15.0) -> None:
    from tracing import descendants
    """Wait for every descendant process to exit; kill stragglers."""
    def wait():
        deadline = time.monotonic() + timeout
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)

    wait()
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    wait()


def table_stats(spark, table: str) -> dict:
    from pyspark.sql import functions as F
    from simdcomp_spark import iceberg
    r = iceberg.read_table(spark, table).agg(
        F.count("*").alias("rows"),
        F.countDistinct("doc_id").alias("docs"),
        F.sum("n_tok").alias("tokens"),
        F.sum(F.length("payload") + F.length("widths")
              + F.length("inits")).alias("bytes")).first()
    return r.asDict()


def p90(values: list[float]) -> float:
    """90th percentile, interpolated between samples (never beyond the
    largest one, which matters with few samples)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def run(args) -> int:
    try:
        import pyspark  # noqa: F401
        from simdcomp_spark import engine, iceberg, native  # noqa: F401
    except ImportError as e:
        _log(f"cannot load the program under test: {e}")
        return 2
    import gen
    import oracles
    from tracing import JobCounter, RssSampler, Tracer
    from workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_env(run_dir)

    # untimed: inputs, native pre-build
    t_run = time.perf_counter()
    (WORK / "data").mkdir(parents=True, exist_ok=True)
    entry = gen.generate(WORK / "data", args.workload, args.seed)
    gen.prune(WORK / "data", CACHE_KEEP)
    build_native(WORK / "native")     # a no-op load once it is built
    _log(f"inputs and kernels ready at {time.perf_counter() - t_run:.1f}s")

    tracer = Tracer(False)
    session = Session(cores)
    sampler = RssSampler().start()
    wl = WORKLOADS[args.workload](session, entry, run_dir, args.seed,
                                  tracer)
    attempted = failed = 0
    try:
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            session.restart()
            native._load()
            wl.prepare()
            setup.append(time.perf_counter() - t0)
        _log(f"set-up done at {time.perf_counter() - t_run:.1f}s")
        wl.after_setup()
        spark = session()
        ref_bytes = oracles.reference_bytes(wl.rows.lens, wl.rows.flat)

        # untimed warm operations: first runs of this op's plan shape
        for i in range(wl.warm_ops):
            wl.check(wl.run_op(i))

        _log(f"oracle and warm-up done at {time.perf_counter() - t_run:.1f}s")
        jobs = JobCounter(spark.sparkContext)
        lat = {True: [], False: []}
        peaks = []                      # peak RSS during each operation
        start = time.perf_counter()
        i = 0
        while time.perf_counter() < start + args.seconds:
            # the traced run alternates traced and untraced operations
            traced = bool(args.trace) and i % 2 == 0
            tracer.enabled = traced
            attempted += 1
            i += 1
            try:
                sampler.reset()
                with (jobs.group() if traced else nullcontext()), \
                        tracer.span("bench.op"):
                    t0 = time.perf_counter()
                    res = wl.run_op(i - 1)
                    dt = time.perf_counter() - t0
                peaks.append(sampler.peak_mb())
            except Exception:
                failed += 1
                traceback.print_exc()
                continue
            if wl.check(res):
                lat[traced].append(dt)
            else:
                failed += 1
                _log(f"oracle mismatch on operation {i - 1}")
        measure_wall = time.perf_counter() - start
        tracer.enabled = False

        a, f = wl.finish()
        attempted += a
        failed += f
        stats = table_stats(spark, wl.table)
        _log(f"final checks done at {time.perf_counter() - t_run:.1f}s")

        all_lat = lat[True] + lat[False]
        if not all_lat:
            raise RuntimeError("no operation succeeded")
        ms = [x * 1e3 for x in all_lat]
        # printed only: too few samples per run for a steady percentile
        latency = {"op_p50_ms": (statistics.median(ms), "ms"),
                   "op_p90_ms": (p90(ms), "ms")}
        e2e = {
            "setup_s": (statistics.median(setup), "s"),
            "tok_per_s": (wl.tokens / statistics.median(all_lat), "tok/s"),
            "bits_per_token": (8 * stats["bytes"] / wl.tokens, "bits"),
            "size_vs_ref": (stats["bytes"] / ref_bytes, "ratio"),
            "peak_rss_mb": (statistics.median(peaks), "MB"),
        }
        if args.trace:
            metrics, ra, rf = per_layer(wl, session, tracer, jobs, lat,
                                        cores, stats, args.seed)
            attempted += ra
            failed += rf
            tracer.dump(str(WORK / f"trace-{wl.name}-s{args.seed}.json"))
        else:
            metrics = e2e
    finally:
        session.close()
        sampler.stop()
        reap_children()
        shutil.rmtree(run_dir, ignore_errors=True)
    _log(f"stopped at {time.perf_counter() - t_run:.1f}s")

    report(wl, args, e2e, metrics, setup, latency, ms, attempted, failed,
           measure_wall)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0 if failed == 0 else 1


def per_layer(wl, session, tracer, jobs, lat, cores, stats, seed
              ) -> tuple[dict, int, int]:
    """Per-layer metrics of the traced run: engine counts from job groups,
    worker-side layers from the single-process replay.  Returns (metrics,
    replay checks attempted, replay checks failed)."""
    import replay
    from pyspark.sql import functions as F
    from simdcomp_spark import engine, iceberg, native
    spark = session()
    m: dict[str, tuple[float, str]] = {}
    ops = max(jobs.ops, 1)
    m["engine.jobs"] = (jobs.jobs / ops, "count")
    m["engine.stages"] = (jobs.stages / ops, "count")
    m["engine.tasks"] = (jobs.tasks / ops, "count")
    m["engine.failed_tasks"] = (float(jobs.failed_tasks), "count")

    # worker-measured codec core time of the encode that wrote the table
    enc_ns = engine.partition_metrics(iceberg.read_table(
        spark, wl.table)).agg(F.sum("enc_ns")).first()[0]
    core_s = enc_ns / 1e9
    enc_wall = (statistics.median(lat[True]) if wl.name == "ingest_zipf"
                else wl.prepare_wall)
    m["engine.udf_core_s"] = (core_s, "s")
    m["engine.udf_share"] = (core_s / (enc_wall * cores), "ratio")
    m["engine.segments_per_doc"] = (stats["rows"] / stats["docs"], "ratio")

    rm, ra, rf = replay.replay(wl.entry / "input", wl.table_codecs, seed)
    dec_wall = (statistics.median(lat[True]) if wl.name == "read_reassemble"
                else wl.decode_wall)
    m["engine.decode_core_share"] = (
        rm.pop("replay.table_decode_s")[0] / (dec_wall * cores), "ratio")
    m.update(rm)

    m["native.loaded"] = (float(native._load() is not None), "count")
    build_dir = WORK / f"native-build-{os.getpid()}"
    shutil.rmtree(build_dir, ignore_errors=True)
    m["native.build_s"] = (build_native(build_dir), "s")
    shutil.rmtree(build_dir, ignore_errors=True)

    # iceberg: write + commit of an already-cached encoded frame
    enc = wl.encoded().cache()
    enc.count()
    out = wl.scratch / "export-probe"
    t0 = time.perf_counter()
    iceberg.export_encoded(enc, str(out))
    m["iceberg.export_s"] = (time.perf_counter() - t0, "s")
    enc.unpersist()
    files = [p for p in out.rglob("*") if p.is_file()]
    m["iceberg.bytes_per_token"] = (
        sum(p.stat().st_size for p in files) / wl.tokens, "bytes")
    m["iceberg.files_written"] = (
        float(sum(1 for p in (out / "data").rglob("*.parquet"))), "count")
    shutil.rmtree(out, ignore_errors=True)

    # tracing: self time per layer per traced op, and the overhead of
    # tracing an op against the untraced ops of the same run
    selfs = tracer.self_times()
    n_traced = max(len(lat[True]), 1)
    for layer in ("bench", "engine", "iceberg"):
        m[f"trace.self_s.{layer}"] = (selfs.get(layer, 0.0) / n_traced, "s")
    m["trace.overhead"] = (
        statistics.median(lat[True]) / statistics.median(lat[False]) - 1
        if lat[True] and lat[False] else 0.0, "ratio")
    return m, ra, rf


ALIASES = {
    ("ingest_zipf", "tok_per_s"): "ingest_tok_per_s",
    ("ingest_zipf", "bits_per_token"): "ingest_bits_per_token",
    ("ingest_zipf", "size_vs_ref"): "ingest_size_vs_ref",
    ("read_reassemble", "tok_per_s"): "decode_tok_per_s",
    ("probe_sorted", "op_p50_ms"): "probe_p50_ms",
    ("probe_sorted", "op_p90_ms"): "probe_p90_ms",
}


def report(wl, args, e2e, metrics, setup, latency, op_ms, attempted,
           failed, measure_wall) -> None:
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
          f"tokens={wl.tokens} rows={wl.rows.lens.size} "
          f"segments={wl.segments} measured={measure_wall:.1f}s "
          f"ops_ok={len(op_ms)}")
    print(f"  setup reps (s): {', '.join(f'{s:.3f}' for s in setup)}")
    print(f"  operations (ms): {', '.join(f'{x:.0f}' for x in op_ms)}")
    for k, (v, u) in {**e2e, **latency}.items():
        alias = ALIASES.get((wl.name, k))
        print(f"  {k:<16} {v:>14.6g} {u:<8}"
              + (f" ({alias})" if alias else ""))
    print(f"  {'error_rate':<16} {failed / max(attempted, 1):>14.6g} ratio"
          f"    ({failed} of {attempted} operations)")
    if e2e["size_vs_ref"][0] > 1.0:
        print("  finding: encoded size exceeds the bits(max)-per-block "
              "reference (size_vs_ref > 1)")
    if args.trace:
        for k, (v, u) in metrics.items():
            print(f"  {k:<36} {v:>14.6g} {u}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_zipf", "read_reassemble",
                             "probe_sorted"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, str(HERE))
    sys.path.insert(1, str(ROOT))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
