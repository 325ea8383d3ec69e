#!/usr/bin/env python3
"""Benchmark of the pdf2pdfocr_spark jobs, one workload per invocation.

    python3 perfbench/run.py --workload extract_corpus --seed 1 \\
        --seconds 10 --trace 0

Load model: a closed loop with one client. Each rep is one job submission
(``jobs.run_extraction_job`` or ``jobs.run_dedup_job`` on a
``local[<nproc>]`` session) that starts after the previous one has finished
and its output has been checked; reps start until ``--seconds`` have passed
(at least one). The end-to-end metrics come from the first rep: a cold
submission into a fresh session, as one ``spark-submit`` of the job pays it
(plan compilation, JIT warm-up and Python worker start included). Later reps
are warm; their walls are reported on the ``summary`` line.
Inputs are generated from ``--seed`` by ``perfbench/gen.py`` and handed to
the program as parquet files only. Everything the run writes (inputs,
outputs, Spark local dirs, temp files, event log) lives under
``.perfbench_work/`` in the repository root; only the oracle cache and the
span traces are kept after the run.

``--trace 0`` prints the end-to-end metrics: setup_s (``build_spark`` plus
the workload's own set-up, if any), wall_s (the first rep's job call),
docs_per_s, peak_rss_mb (this process, the driver JVM and its Python
workers) and out_bytes_per_doc. ``--trace 1`` runs the same loop, then one
traced call in which every layer's public function is wrapped (see
``trace.py``), and prints the per-layer metrics read from Spark's event log.
The last line of standard output is always one JSON object with the keys
correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
DRIVER_MEMORY = "2g"       # the package default (48g) does not fit a 15 GB host
REP_TIMEOUT_S = 120        # a rep still running after this is cancelled

LAYERS = (
    "lineage.resume_filter", "pipeline.apply_gates", "pipeline.explode_pages",
    "pipeline.run_ocr", "pipeline.reassemble", "lineage.write_checkpointed",
    "operators.dedup.signatures", "operators.dedup.pairs",
    "operators.dedup.duplicate_clusters", "operators.sampling.pack_shards",
    "jobs",
)
LAYER_STATS = ("task_s", "cpu_s", "gc_s", "shuffle_bytes", "spill_bytes",
               "task_skew", "jobs")
LAYER_COUNTS = (
    "pipeline.apply_gates.rows_in", "pipeline.apply_gates.quarantined",
    "pipeline.explode_pages.pages", "pipeline.run_ocr.pages_in",
    "pipeline.run_ocr.pages_err", "lineage.write_checkpointed.bytes",
    "lineage.write_checkpointed.files", "lineage.resume_filter.done_rows",
    "lineage.resume_filter.admitted_rows", "operators.dedup.signatures.rows",
    "operators.dedup.pairs.pairs", "operators.sampling.pack_shards.bytes",
)


def _parse_args(argv):
    from perfbench.workloads import SIZES, WORKLOADS

    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full",
                   help="input size profile ('tiny' is for smoke tests)")
    return p.parse_args(argv)


def _isolate(run_dir: str, trace: bool) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark into
    ``run_dir``; enable the event log for traced runs. Spark settings go
    through PYSPARK_SUBMIT_ARGS because ``build_spark`` owns the builder."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _timed_rep(spark, wl, tag, rss) -> dict:
    """One closed-loop rep: untimed output prep, the timed job call under
    its own job group, then the untimed output check."""
    from perfbench import trace

    sc = spark.sparkContext
    out = wl.before_rep(tag)
    group = f"perfbench-{tag}"
    sc.setJobGroup(group, f"perfbench timed call {tag}")
    timer = threading.Timer(REP_TIMEOUT_S, sc.cancelJobGroup, [group])
    rep = {"tag": tag, "ok": False}
    rss.peak = 0
    rss.active.set()
    timer.start()
    t0 = time.perf_counter()
    try:
        res = wl.call(spark, out, f"run-{tag}")
        rep["wall_s"] = time.perf_counter() - t0
    except Exception as exc:  # noqa: BLE001 — a failed call is a failed rep
        rep["wall_s"] = time.perf_counter() - t0
        rep["error"] = f"{type(exc).__name__}: {exc}"[:300]
        res = None
    finally:
        timer.cancel()
        timer.join()
        rss.active.clear()
        rep["peak_rss_mb"] = rss.peak / 2**20
        trace.clear_job_group(sc)
    rep["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
    if res is not None:
        try:
            rep.update(wl.check(spark, out, f"run-{tag}", res))
            rep["ok"] = True
        except Exception as exc:  # noqa: BLE001 — includes CheckFailed
            rep["error"] = f"check: {type(exc).__name__}: {exc}"[:300]
    wl.after_rep(tag)
    return rep


def _traced_rep(spark, wl, trace_dir: str, seed: int) -> tuple:
    """One call with every layer wrapped; returns (rep, spans, counts)."""
    from perfbench.trace import LayerPatch, Tracer, check_tree

    sc = spark.sparkContext
    out = wl.before_rep("traced")
    run_id = "run-traced"
    tracer = Tracer(f"{wl.__class__.__name__}-seed{seed}", sc)
    rep = {"tag": "traced", "ok": False}
    with LayerPatch(tracer, wl.layer_specs(spark, out)) as patch:
        try:
            with tracer.span(wl.root_name, "jobs"):
                res = wl.call(spark, out, run_id)
            rep.update(wl.check(spark, out, run_id, res))
            rep["ok"] = True
        except Exception as exc:  # noqa: BLE001
            rep["error"] = f"{type(exc).__name__}: {exc}"[:300]
    counts = dict(patch.counts)
    if rep["ok"]:
        counts.update(wl.after_trace(out))
    wl.after_rep("traced")
    check_tree(tracer.spans)
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{tracer.run_id}.json"), "w") as f:
        json.dump(tracer.spans, f)
    return rep, tracer.spans, counts


def _layer_metrics(spans, counts, groups, kernel, untraced_wall,
                   jobs_per_call):
    from perfbench.trace import self_times

    st = self_times(spans)
    layer_s: dict = {}
    for s in spans:
        layer_s[s["layer"]] = layer_s.get(s["layer"], 0.0) + st[s["id"]]
    m = {}
    for layer in LAYERS:
        m[f"{layer}.s"] = (layer_s.get(layer, 0.0), "s")
        g = groups.get(layer, {})
        for k in LAYER_STATS:
            unit = ("s" if k.endswith("_s") else "B" if k.endswith("bytes")
                    else "ratio" if k == "task_skew" else "count")
            m[f"{layer}.{k}"] = (g.get(k, 0), unit)
    for k in LAYER_COUNTS:
        m[k] = (counts.get(k, 0), "B" if k.endswith("bytes") else "count")
    for k, v in kernel.items():
        m[k] = (v, "us")
    ocr_task = groups.get("pipeline.run_ocr", {}).get("task_s", 0.0)
    pages = counts.get("pipeline.run_ocr.pages_in", 0)
    m["pipeline.run_ocr.boundary_share"] = (
        1 - pages * kernel["ocr_engine.page_us"] * 1e-6 / ocr_task
        if ocr_task > 0 else 0.0, "ratio")
    m["jobs.spark_jobs"] = (jobs_per_call, "count")
    root = next(s for s in spans if s["parent"] is None)
    total = root["end"] - root["start"]
    m["trace.total_s"] = (total, "s")
    m["trace.untraced_wall_s"] = (untraced_wall, "s")
    m["trace.overhead_s"] = (total - untraced_wall, "s")
    m["trace.counters_s"] = (layer_s.get("trace.counters", 0.0), "s")
    return m


def _stop_gateway() -> None:
    """End the py4j gateway JVM and wait for it: it exits on stdin EOF."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so that
    descendants orphaned by their parent's exit (PySpark's worker daemon and
    its forks outlive the JVM by a moment) are reparented here and can be
    waited for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_all(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has ended: let them exit
    on their own for ``grace_s``, then SIGTERM, then SIGKILL, reaping each.
    multiprocessing's resource tracker (started by the oracle's process
    pool) only exits when told to, so it is stopped first."""
    from multiprocessing import resource_tracker

    from perfbench.trace import descendants

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    signals = [signal.SIGTERM, signal.SIGKILL, None]
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signals.pop(0)
            if sig is None:
                print(f"perfbench: processes {sorted(left)} did not end",
                      file=sys.stderr)
                return
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def run(args) -> tuple:
    """Returns (result dict for the JSON line, report lines)."""
    from perfbench import checks, trace
    from perfbench.workloads import SIZES, WORKLOADS, kernel_bench

    t_run = time.perf_counter()
    ncores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        _isolate(run_dir, bool(args.trace))
        probe_before = trace.cpu_probe()
        wl = WORKLOADS[args.workload](
            args.seed, SIZES[args.size], run_dir,
            os.path.join(WORK, "oracle", checks.program_version(REPO)),
            ncores)
        t_prep = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t_prep
        # the in-process kernel is timed before the JVM starts, so neither
        # Spark's threads nor its Python workers compete with it
        kernel = kernel_bench(wl.kernel_refs()) if args.trace else None

        from pdf2pdfocr_spark.pipeline import build_spark

        t0 = time.perf_counter()
        spark = build_spark(app=f"perfbench-{args.workload}",
                            master=f"local[{ncores}]", cores=ncores,
                            driver_memory=DRIVER_MEMORY)
        spark.sparkContext.setLogLevel("ERROR")
        try:
            wl.set_up(spark)
            setup_s = time.perf_counter() - t0
            reps, setup_failed = [], []
            try:
                wl.check_set_up(spark)
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                setup_failed.append({"tag": "setup", "ok": False,
                                     "error": f"check: {exc}"[:300]})
            jvm = spark.sparkContext._gateway.proc.pid
            with trace.RssSampler(jvm) as rss:
                start = time.perf_counter()
                while not reps or time.perf_counter() - start < args.seconds:
                    reps.append(_timed_rep(spark, wl, len(reps), rss))
            loop_s = time.perf_counter() - start
            traced = None
            if args.trace:
                # the traced call is warm, so it is compared with a warm
                # untraced one
                if len(reps) == 1:
                    with trace.RssSampler(jvm) as rss:
                        reps.append(_timed_rep(spark, wl, 1, rss))
                rep, spans, counts = _traced_rep(
                    spark, wl, os.path.join(WORK, "traces"), args.seed)
                reps.append(rep)
                traced = (spans, counts)
            app_id = spark.sparkContext.applicationId
        finally:
            t_stop = time.perf_counter()
            spark.stop()
            _stop_gateway()
            stop_s = time.perf_counter() - t_stop
        probe_after = trace.cpu_probe()

        timed = [r for r in reps if r["tag"] != "traced"]
        cold, warm = timed[0], timed[1:]
        reps = setup_failed + reps
        failed = sum(1 for r in reps if not r["ok"])
        if args.trace:
            groups = trace.read_event_log(
                os.path.join(run_dir, "eventlog", app_id))
            spans, counts = traced
            metrics = _layer_metrics(
                spans, counts, groups, kernel,
                _median([r["wall_s"] for r in warm]), cold["spark_jobs"])
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (cold["wall_s"], "s"),
                "docs_per_s": (cold.get("docs", 0) / cold["wall_s"],
                               "docs/s"),
                "peak_rss_mb": (cold["peak_rss_mb"], "MB"),
                "out_bytes_per_doc": (cold.get("bytes", 0)
                                      / max(cold.get("docs", 0), 1), "B/doc"),
            }
        report = [
            f"perfbench workload={args.workload} seed={args.seed} "
            f"size={args.size} cores={ncores} input={wl.input_digest}",
            f"host cpu probe (md5 MB/s, single thread): before="
            f"{probe_before:.1f} after={probe_after:.1f}",
        ]
        for r in reps:
            report.append("rep " + json.dumps(r, sort_keys=True))
        extra = {
            "failed_frac": failed / len(reps),
            "pages_per_s": cold.get("pages", 0) / cold["wall_s"],
            "spark_jobs_per_call": cold["spark_jobs"],
            "warm_wall_s": _median([r["wall_s"] for r in warm]) or None,
            "reps": len(timed),
            # where the invocation's time went (untimed phases included)
            "phases_s": {"prepare": prepare_s, "setup": setup_s,
                         "timed_loop": loop_s, "stop": stop_s,
                         "total": time.perf_counter() - t_run},
        }
        extra.update(getattr(wl, "quality", {}))
        report.append("summary " + json.dumps(extra, sort_keys=True))
        result = {
            "correct": failed == 0,
            "attempted": len(reps),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        return result, report
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(REPO, "pdf2pdfocr_spark")):
        print("perfbench: the pdf2pdfocr_spark package is not next to the "
              "benchmark; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    args = _parse_args(argv)
    _adopt_orphans()
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        result, report = run(args)
    finally:
        _reap_all()
    for line in report:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
