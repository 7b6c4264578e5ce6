"""Run one benchmark workload and print its figures as JSON.

    python3 perfbench/run.py --workload climate --seed 1 --seconds 1 \
        --trace 0

Run from the root of a checkout.  The run generates (or reuses) the
inputs for ``--seed``, starts one Spark session through
``xclim_spark.session`` on ``local[<nproc>]`` (``setup_s``: the CPU
seconds of that start), runs one cold pass of the workload, repeated
until ``--seconds`` have gone by, checks the last pass's outputs, and
prints one JSON object as its last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end figures
(``rows_per_s``, ``cpu_s``, ``setup_s``, ``peak_rss_mb``); with
``--trace 1`` they are the per-layer figures read from the tagged
spans, Spark's event log, the plan-phase tracker and streaming
progress.  The line before it is a detail record (passes, checks, load
average, heap, and in trace mode the end-to-end figures too, so the
tracing overhead can be read off).

``--selftest`` runs the benchmark workloads once on tiny inputs, traced,
to check the benchmark itself in a few minutes.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH_WORKLOADS = ("climate", "curation")
HEAP = "2g"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Ctx:
    """What a workload pass sees: the session, its inputs and outputs,
    and the span helpers that time each call and action."""

    def __init__(self, spark, tracer, inputs: str, work: str, size: dict):
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.work = work
        self.size = size
        self.years = (size["y0"], size["y1"])
        self.ops = 0

    def inp(self, rel: str) -> str:
        return os.path.join(self.inputs, rel)

    def out(self, rel: str) -> str:
        return os.path.join(self.work, "out", rel)

    def call(self, layer: str, name: str, fn, *args, **kw):
        """A public call: the build span, until it returns."""
        self.ops += 1
        res = self.tracer.span(name, layer, "build", lambda: fn(*args, **kw))
        self.tracer.plan_phases(res)
        return res

    def write(self, layer: str, name: str, df, rel: str,
              time: str | None = None) -> None:
        """The action on a returned DataFrame: write it with
        ``io.dataset.write_dataset`` (year-partitioned on ``time``)."""
        from xclim_spark.io.dataset import write_dataset

        path = self.out(rel)
        self.ops += 1
        self.tracer.span(name, layer, "exec", lambda: write_dataset(
            df, path, time=time or "time", partition_by_year=bool(time)))
        self.tracer.written[self.tracer.pass_no] += _du(path)

    def persist(self, layer: str, name: str, df) -> None:
        """The action on an input read once and used by several calls:
        cache it and count it."""
        self.ops += 1
        self.tracer.span(name, layer, "exec", lambda: df.cache().count())

    def stream(self, name: str, sdf, rel: str) -> None:
        """Run a streaming query to completion (``availableNow``, one
        file per micro-batch) into a parquet sink."""
        path = self.out(rel)
        ckpt = os.path.join(self.work, "ckpt", rel)
        # a sink that still lists a batch id skips it: start both afresh
        shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        self.ops += 1
        t0 = time.perf_counter()
        q = (sdf.writeStream.format("parquet").option("path", path)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.tracer.stream(name, q, t0, time.perf_counter())


def _du(path: str) -> int:
    n = 0
    for d, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n


def start_session(app: str, master: str, work: str, trace: bool,
                  streaming: bool):
    from xclim_spark import session

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's scratch files inside the checkout too
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={os.path.join(work, 'derby')} "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": ev,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = session(app, master=master, streaming=streaming, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, shut its JVM down and wait for every process
    this run started to end."""
    from pyspark import SparkContext

    import procstat

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        rest = [p for p in procstat.tree() if p != str(os.getpid())]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(int(p), signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.1)


def run_workload(name: str, seed: int, seconds: float, trace: bool,
                 profile: str = "full",
                 master: str | None = None) -> tuple[dict, dict]:
    """One run; returns (result record, detail record)."""
    import inputs
    import procstat
    import layers as tr
    import workloads

    size = inputs.SIZES[profile]
    t_gen = time.perf_counter()
    inp = inputs.ensure_inputs(ROOT, profile, seed)
    t_gen = time.perf_counter() - t_gen
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    master = master or f"local[{os.cpu_count()}]"
    load0 = os.getloadavg()
    rss = procstat.PeakRss()
    part_names = workloads.WORKLOADS[name]
    parts = [workloads.PARTS[p] for p in part_names]

    def pass_fn(ctx):
        for part, (run_part, _, _) in zip(part_names, parts):
            ctx.tracer.parent = part
            run_part(ctx)

    def check_fn(ctx):
        out = []
        for _, check_part, _ in parts:
            out += check_part(ctx)
        return out

    failed, checks, spark = 0, [], None
    try:
        t0, c0 = time.perf_counter(), procstat.cpu_seconds()
        spark = start_session(f"perfbench-{name}", master, work, trace,
                              streaming=True)
        tracer = tr.Tracer(spark, trace)
        ctx = Ctx(spark, tracer, inp, work, size)
        # CPU seconds, not wall: the JVM start is CPU-bound (JIT threads
        # on every core), and its wall time follows the host's load
        setup_s = procstat.cpu_seconds() - c0
        setup_wall_s = time.perf_counter() - t0
        walls, cpus, errors = [], [], []
        t_meas = time.perf_counter()
        while not walls or time.perf_counter() - t_meas < seconds:
            tracer.pass_no = len(walls)
            c0 = procstat.cpu_seconds()
            rss.reset()
            rss.active = True
            w0 = time.perf_counter()
            try:
                pass_fn(ctx)
            except Exception as e:  # a failed call fails its pass
                errors.append(f"{type(e).__name__}: {e}"[:2000])
            walls.append(time.perf_counter() - w0)
            rss.active = False
            cpus.append(procstat.cpu_seconds() - c0)
            spark.catalog.clearCache()
            if errors:
                break
        failed += len(errors)
        peak, peak_parts = rss.peak, rss.parts
        t_check = time.perf_counter()
        try:
            found = check_fn(ctx)
        except Exception as e:  # a check that cannot run has failed
            found = [(f"{name}.checks", False, f"{type(e).__name__}: {e}")]
        for label, ok, msg in found:
            checks.append({"check": label, "ok": bool(ok), "detail": msg})
            failed += not ok
        t_check = time.perf_counter() - t_check
        rows = sum(n_rows(inp) for _, _, n_rows in parts)
        e2e = {
            "rows_per_s": (rows / statistics.median(walls), "rows/s"),
            "cpu_s": (statistics.median(cpus), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak / 1e6, "MB"),
        }
        metrics = e2e
        if trace:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            keep = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(keep, exist_ok=True)
            tracer.dump(os.path.join(keep, f"{name}-s{seed}-{profile}.json"))
            _stop(spark)
            spark = None
            metrics = _all_layers(tr.layer_metrics(
                tracer, os.path.join(work, "events"), len(walls)))
        attempted = ctx.ops + len(checks)
    finally:
        if spark is not None:
            _stop(spark)
        rss.close()
        shutil.rmtree(work, ignore_errors=True)
    detail = {
        "workload": name, "seed": seed, "profile": profile,
        "master": master, "heap": HEAP, "trace": trace,
        "passes": len(walls), "pass_s": walls, "pass_cpu_s": cpus,
        "input_gen_s": t_gen, "setup_wall_s": setup_wall_s,
        "check_s": t_check, "errors": errors,
        "load_start": load0, "load_end": os.getloadavg(),
        "peak_rss_by_process": peak_parts,
        "checks": checks,
        "end_to_end": {k: v[0] for k, v in e2e.items()},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    return result, detail


def _all_layers(found: dict) -> dict:
    """Every per-layer metric of the catalogue; a layer that does not
    run on this workload reads 0."""
    import layers as tr

    return {m["name"]: found.get(m["name"], (0.0, m["unit"]))
            for m in tr.metric_catalog()}


def selftest(master: str | None, names=BENCH_WORKLOADS) -> int:
    """Every workload's operations and checks on tiny inputs."""
    bad = 0
    for name in names:
        t = time.perf_counter()
        res, det = run_workload(name, seed=1, seconds=0, trace=True,
                                profile="tiny", master=master)
        fails = [c for c in det["checks"] if not c["ok"]]
        bad += bool(fails) or not res["correct"]
        print(f"{name:9s} {'ok' if res['correct'] else 'FAILED'} "
              f"{time.perf_counter() - t:6.1f}s  "
              f"{res['attempted']} ops, {len(det['checks'])} checks")
        for c in fails:
            print(f"    {c['check']}: {c['detail']}")
        for e in det["errors"]:
            print(f"    pass failed: {e}")
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=BENCH_WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default=None,
                    help="Spark master (default local[<nproc>])")
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload once on tiny inputs")
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "xclim_spark")):
        _fail(f"no xclim_spark package under {ROOT}: run from the root "
              "of a checkout of the repository")
    sys.path[:0] = [HERE, ROOT]
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.selftest:
        return selftest(a.master, [a.workload] if a.workload
                        else BENCH_WORKLOADS)
    if not a.workload:
        _fail("--workload is required")
    res, det = run_workload(a.workload, a.seed, a.seconds, bool(a.trace),
                            master=a.master)
    print(json.dumps(det))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
