"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload points_bulk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The Spark session is ``local[nproc]``.
Inputs come from ``--seed``; the timed loop is closed (one operation at a
time) and lasts ``--seconds``; every operation's output is checked after
the loop. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The line
before it carries the run's context: host load, burn rate, error rate and
the tail latency with its sample count. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import measure
from measure import median

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPEATS = 3            # prepare() runs per process; setup_s takes the median

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s"}
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.jobs_wall_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.python_bytes_sent": "bytes", "spark.python_bytes_returned": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "session.start_s": "s", "regions.load_s": "s",
    "cells.encode_s": "s", "cells.points": "count",
    "geometry.pip_s": "s", "geometry.pip_tests": "count",
    "geometry.dist_s": "s", "geometry.dist_evals": "count",
    "reverse_geocode.s": "s", "reverse_geocode.multi_s": "s",
    "reverse_geocode.hit_ratio": "ratio", "reverse_geocode.knn_rows": "count",
    "forward_geocode.s": "s", "forward_geocode.dims_s": "s",
    "forward_geocode.match_ratio": "ratio",
    "pipeline.extract_s": "s", "pipeline.mentions": "count",
    "sources.read_s": "s", "sources.write_s": "s",
    "lineage.commit_s": "s", "lineage.resume_s": "s",
    "lineage.bytes_written": "bytes",
    "geocoder.create_df_s": "s", "geocoder.plan_s": "s",
    "geocoder.collect_s": "s",
    "trace.op_wall_s": "s", "trace.overhead_s": "s",
}
SPARK_KEYS = [k.split(".", 1)[1] for k in PER_LAYER if k.startswith("spark.")
              and k not in ("spark.driver_gap_s", "spark.jobs_wall_s")]


class Ctx:
    """What a workload needs: the session, its paths and the seed."""

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.fix = str(ROOT / "fixtures")
        self.prepared = str(ROOT / "fixtures" / "prepared")


def _isolate(work: Path, event_dir: Path | None) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    run's work directory; turn the uncompressed event log on when traced."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # no hsperfdata file: the JVM writes it to /tmp whatever java.io.tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if event_dir is not None:
        event_dir.mkdir()
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{event_dir} "
            "--conf spark.eventLog.compress=false pyspark-shell")


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _trace_metrics(tracer, traced_ops, lat_traced, lat_plain, event_dir,
                   out_path):
    """Fold the event log into the traced ops, add Spark jobs as child
    spans, write all spans out and return the engine-level metrics."""
    fold = measure.fold_event_log(measure.read_event_log(str(event_dir)))
    ops = [s for s in tracer.spans if s.name == "op"]
    for s in ops:
        for a, b in fold.get(f"pb:op:{s.attrs['i']}", {}).get("intervals", []):
            tracer.spans.append(measure.Span(len(tracer.spans), "spark.job",
                                             s.id, a, b))
    self_t = measure.self_times(tracer.spans)
    n = max(len(traced_ops), 1)
    m = {f"spark.{k}": sum(fold.get(f"pb:op:{i}", {}).get(k, 0.0)
                           for i in traced_ops) / n for k in SPARK_KEYS}
    # per traced op: wall = driver gap (its self time) + time under jobs
    k = max(len(ops), 1)
    m["trace.op_wall_s"] = sum(s.duration for s in ops) / k
    m["spark.driver_gap_s"] = sum(self_t[s.id] for s in ops) / k
    m["spark.jobs_wall_s"] = m["trace.op_wall_s"] - m["spark.driver_gap_s"]
    m["trace.overhead_s"] = (median(lat_traced) - median(lat_plain)
                             if lat_traced and lat_plain else 0.0)
    with open(out_path, "w") as f:
        json.dump({"spans": [dict(s.__dict__, self_s=self_t[s.id])
                             for s in tracer.spans],
                   "jobs_by_description": fold}, f)
    return m


def main(argv=None) -> int:
    from workloads import WORKLOADS, describe, timed

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)

    missing = [d for d in ("geocode_spark", "fixtures/prepared", "bench.py")
               if not (ROOT / d).exists()]
    if missing:
        print(f"perfbench: not a geocode_spark checkout, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import bench  # the repository's raw-CPU probe kernel

    nproc = os.cpu_count() or 1
    load_before = os.getloadavg()
    # fork the probe pool before any JVM or gateway thread exists
    hw = bench._hw_probe((1, nproc), n=500_000)

    base = ROOT / ".perfbench_work"
    work = base / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    event_dir = work / "eventlog" if a.trace else None
    _isolate(work, event_dir)
    tracer = measure.Tracer()

    with measure.RssSampler() as rss:
        t0 = time.perf_counter()
        from geocode_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{a.workload}",
                          master=f"local[{nproc}]")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[a.workload](Ctx(spark, work, a.seed))
            prep_s = [timed(wl.prepare)[0] for _ in range(SETUP_REPEATS)]
            warm_s, _ = timed(wl.warm)
            setup_s = session_s + median(prep_s) + warm_s

            lat, rows, failed = {}, {}, set()
            lat_traced, lat_plain, traced_ops = [], [], []
            start, i = time.perf_counter(), 0
            while time.perf_counter() - start < a.seconds:
                # traced runs alternate traced and plain operations so the
                # tracing overhead is measured within one process
                traced = bool(a.trace) and i % 2 == 0
                label = f"pb:op:{i}" if traced else "pb:op"
                t = time.perf_counter()
                try:
                    with (tracer.span("op", i=i) if traced
                          else contextlib.nullcontext()), \
                            describe(spark, label):
                        rows[i] = wl.op(i)
                    lat[i] = time.perf_counter() - t
                    (lat_traced if traced else lat_plain).append(lat[i])
                    if traced:
                        traced_ops.append(i)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failed.add(i)
                i += 1
            attempted = i
            for k in list(lat):
                try:
                    if wl.check(k):
                        failed.add(k)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failed.add(k)
            layer = wl.stages(tracer) if a.trace else {}
        finally:
            _stop(spark)
    ok = [k for k in lat if k not in failed]
    lat_ok = [lat[k] for k in ok]
    tail_v, tail_p, tail_n = measure.tail(lat_ok)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": median([rows[k] / lat[k] for k in ok]) if ok else 0.0,
    }
    info = {
        "workload": a.workload, "seed": a.seed, "nproc": nproc,
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
        "hw_miters_per_s": hw, "ops": attempted,
        "error_rate": len(failed) / attempted if attempted else 1.0,
        "latency_p50_s": median(lat_ok) if ok else None,
        "peak_rss_mb": rss.peak_mb,
        "latency_tail_s": tail_v, "latency_tail_pct": tail_p,
        "latency_samples": tail_n, "session_s": session_s,
        "prepare_s": prep_s, "warm_s": warm_s,
        "op_latencies_s": [lat[k] for k in sorted(lat)],
    }
    if a.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        layer.update(_trace_metrics(
            tracer, traced_ops, lat_traced, lat_plain, event_dir,
            out_dir / f"trace-{a.workload}-{a.seed}.json"))
        layer["session.start_s"] = session_s
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    if base.exists() and not any(base.iterdir()):
        base.rmdir()
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": attempted > 0 and not failed,
                      "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
