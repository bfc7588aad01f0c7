#!/usr/bin/env python3
"""Clinical-pipeline benchmark for edsnlp_spark.

    python3 perfbench/run.py --workload corpus_qualify --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The workload's corpus is generated from
``--seed`` and written to parquet; the program only sees that parquet.
One run is one batch job in a fresh Spark session: set-up (session
start, pipeline construction) is timed, then passes of read_parquet ->
``nlp.pipe`` -> write_parquet repeat until ``--seconds`` have passed
(at least one), with Spark's cache cleared between passes.  The first
pass is cold: a batch job pays plan building, code generation and JIT
warm-up on every run.  Every pass's output is checked against the
planted truth.  The end-to-end times are wall-clock times net of
hypervisor steal, scaled to a quiet reference host's speed by a sampler
that times a small fixed unit of work while the program runs
(``perfbench/host.py``).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` adds one warm
untraced pass and one traced pass and prints the per-layer metrics,
writing the spans to ``.perfbench/traces/``.  The last line of standard
output is one JSON object: correct, attempted, failed, metrics.  Scratch
files go to ``.perfbench/run-*/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import types

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Counts and times per traced layer.
SPAN_METRICS = (("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                ("tasks", "count"), ("failed_tasks", "count"),
                ("rows_out", "rows"))
DEFECTS = ("covid_unqualified", "inline_section_history",
           "mai_in_mais_date", "dotted_form_missed", "quote_end_form_missed")


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--notes", type=int, default=None,
                   help="corpus size (default: the workload's own)")
    return p.parse_args(argv)


def start_session(work: str):
    """Spark with the library's defaults on local[nproc]; every file
    Spark, the JVM and Python workers write goes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import edsnlp_spark (eds.covid runs in mapInPandas).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import edsnlp_spark as es

    nproc = len(os.sched_getaffinity(0))
    return es.get_spark(app_name="perfbench", master=f"local[{nproc}]",
                        extra_conf={
                            "spark.ui.showConsoleProgress": "false",
                            "spark.sql.warehouse.dir":
                                os.path.join(work, "warehouse"),
                            "spark.local.dir": os.path.join(work, "local"),
                            "spark.driver.extraJavaOptions":
                                f"-Djava.io.tmpdir={tmp} "
                                f"-Dderby.system.home={work} "
                                "-XX:-UsePerfData",
                        })


def _descendants(pid: int) -> list[int]:
    parents = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parents[int(entry)] = int(f.read().rsplit(")", 1)[1]
                                              .split()[1])
            except OSError:
                continue
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        kids = [c for c, p in parents.items() if p == parent]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    workers = _descendants(
        spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits at end of stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(map(_alive, workers)) and time.monotonic() < deadline:
        time.sleep(0.1)   # workers exit once the JVM is gone


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's peak resident memory (``VmHWM``)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def build_pipeline(wl):
    import edsnlp_spark as es

    nlp = es.blank()
    layers = []
    for factory, config, span in wl.pipes:
        pipe = es.create(factory, **config)
        nlp.add_pipe(pipe)
        layers.append((span, pipe))
    return nlp, layers


def run_pass(spark, nlp, in_path: str, out_path: str, read=None,
             write=None) -> None:
    """read_parquet -> ``nlp.pipe`` -> write_parquet, then clear Spark's
    cache; the traced pass passes traced ``read`` / ``write``."""
    from edsnlp_spark.sources.io import read_parquet, write_parquet

    notes = (read or read_parquet)(spark, in_path)
    (write or write_parquet)(nlp.pipe(notes), out_path, mode="overwrite")
    spark.catalog.clearCache()


def traced_pipeline(nlp, layers, tracer):
    """A facade over the same pipe objects in which ``prepare`` and each
    pipe's ``entities`` / ``qualify`` call is one layer span (see
    ``Tracer.layer``); ``pipe`` wires them as it does for ``nlp``."""
    import edsnlp_spark as es

    traced = es.blank()
    for span, pipe in layers:
        method = "qualify" if hasattr(pipe, "qualify") else "entities"
        traced.add_pipe(types.SimpleNamespace(
            name=getattr(pipe, "name", span),
            **{method: tracer.layer(span, getattr(pipe, method))}))
    traced.prepare = tracer.layer("prepare", nlp.prepare)
    return traced


def traced_pass(spark, nlp, layers, in_path: str, out_path: str,
                tracer) -> None:
    """``run_pass`` with one span per layer call, io included."""
    from edsnlp_spark.sources.io import read_parquet, write_parquet

    def write(df, path, **kw):
        with tracer.layer_span("io.write") as s:
            with tracer.span("io.write.plan"):
                pass                      # the plane is already built
            with tracer.span("io.write.exec"):
                write_parquet(df, path, **kw)
        tracer.sc.setJobGroup(f"{tracer.trace_id}:check", "check")
        s.rows_out = spark.read.parquet(path).count()

    with tracer.span("pass"):
        run_pass(spark, traced_pipeline(nlp, layers, tracer), in_path,
                 out_path, read=tracer.layer("io.read", read_parquet),
                 write=write)


def check_output(wl, corpus, out_path: str) -> dict:
    import pyarrow.parquet as pq
    from perfbench import check

    rows = pq.read_table(out_path).to_pylist()
    errors = check.find_errors(corpus.mentions, rows, wl.flags)
    texts = {nid: text for nid, text, _ in corpus.notes}
    return check.summarize(errors, texts, len(corpus.notes))


def layer_metrics(spark, tracer) -> dict:
    from perfbench.trace import job_counts
    from perfbench.workloads import SPANS

    sc = spark.sparkContext
    out = {}
    for name in SPANS:
        spans = tracer.find(name)
        vals = dict.fromkeys((k for k, _ in SPAN_METRICS), 0)
        if spans:     # a layer that raised lacks later steps: zeros
            s = spans[0]
            for key, step in (("plan_s", ".plan"), ("exec_s", ".exec")):
                vals[key] = sum(x.duration for x in tracer.find(name + step))
            vals.update(job_counts(sc, s.job_group))
            vals["rows_out"] = s.rows_out or 0
        for key, unit in SPAN_METRICS:
            out[f"{name}.{key}"] = (vals[key], unit)
    return out


def run(args, work: str) -> dict:
    from perfbench import host
    from perfbench.workloads import WORKLOADS, write_notes

    wl = WORKLOADS[args.workload]
    n_notes = args.notes or wl.n_notes
    corpus = wl.make(args.seed, n_notes, ROOT)
    in_path = os.path.join(work, "notes")
    write_notes(corpus, in_path)
    out_dir = os.path.join(work, "out")

    spark = None
    # (start, wall s, net of steal s, output path or None if it raised)
    passes = []
    failures = []
    tracer = None
    sampler = host.Sampler()
    try:
        watch = host.Stopwatch()
        spark = start_session(work)
        t1 = watch.stop()[1]
        nlp, layers = build_pipeline(wl)
        setup = watch.stop()

        def timed_pass():
            path = os.path.join(out_dir, f"pass-{len(passes)}")
            watch = host.Stopwatch()
            try:
                run_pass(spark, nlp, in_path, path)
            except Exception as e:  # a raising pass fails all its notes
                failures.append(f"pass {len(passes)}: "
                                f"{type(e).__name__}: {e}"[:500])
                path = None
            passes.append((*watch.stop(), path))

        start = time.perf_counter()
        while not passes or time.perf_counter() - start < args.seconds:
            timed_pass()
        # a pass that raised did not annotate its notes
        n_timed = len(passes)

        if args.trace:
            from edsnlp_spark.core.caching import tracked_scopes
            from perfbench.trace import Tracer

            timed_pass()    # warm and untraced, the reference for overhead
            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                            spark.sparkContext)
            path = os.path.join(out_dir, "traced")
            watch = host.Stopwatch()
            try:
                traced_pass(spark, nlp, layers, in_path, path, tracer)
            except Exception as e:
                failures.append(f"traced: {type(e).__name__}: {e}"[:500])
                path = None
            passes.append((*watch.stop(), path))
            tracked = sum(tracked_scopes().values())
            per_layer = layer_metrics(spark, tracer)
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        samples = sampler.stop()
        if spark is not None:
            stop_session(spark)
    # times at the reference host's speed: net of steal, over slowdown
    slow = [host.slowdown(samples, p[0], p[1]) for p in passes]
    setup_slow = host.slowdown(samples, setup[0], setup[1])
    # a pass that raised did not annotate its notes
    measured = [p[2] / f for p, f in zip(passes[:n_timed], slow) if p[-1]]

    # correctness of every pass
    checks = [check_output(wl, corpus, p[-1]) if p[-1] else None
              for p in passes]
    attempted = n_notes * len(passes)
    failed = n_notes * sum(c is None for c in checks)
    ok = [c for c in checks if c]
    wrong = sum(c["failed_notes"] for c in ok) + failed
    defects = {d: sum(c["defects"].get(d, 0) for c in ok) for d in DEFECTS}
    unknown = [e for c in ok for e in c["unknown_errors"]]
    report = {
        "notes": n_notes, "pass_s": [p[1] for p in passes],
        "setup_wall_s": setup[1], "slowdown": slow,
        "setup_slowdown": setup_slow, "samples": len(samples),
        "steal_share": 1 - sum(p[2] for p in passes) / sum(
            p[1] for p in passes),
        "peak_rss_mb": peak_rss, "error_rate": wrong / attempted,
        "known_defect_errors": defects, "unknown_errors": unknown,
        "raised": failures,
    }
    if tracer is None:
        metrics = {
            "notes_per_s": (n_notes / statistics.median(measured)
                            if measured else 0.0, "notes/s"),
            "setup_s": (setup[2] / setup_slow, "s"),
        }
    else:
        metrics = {"session.start_s": (t1, "s"),
                   "facade.build_s": (setup[1] - t1, "s"),
                   "facade.first_call_s": (passes[0][1], "s")}
        metrics.update(per_layer)
        metrics["caching.tracked_planes"] = (tracked, "count")
        metrics["jvm.peak_rss_mb"] = (peak_rss, "MB")
        metrics["trace.overhead_s"] = (passes[-1][1] - passes[-2][1], "s")
        metrics["host.slowdown"] = (statistics.median(slow), "ratio")
        metrics["check.error_rate"] = (wrong / attempted, "share")
        for d in DEFECTS:
            metrics[f"check.{d}"] = (defects[d], "count")
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{tracer.trace_id}.json"),
                    extra={"metrics": {k: v for k, (v, _) in metrics.items()}})
    return {"report": report, "correct": failed == 0 and not unknown,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "edsnlp_spark", "__init__.py")):
        print("perfbench: edsnlp_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-",
                            dir=os.path.join(ROOT, ".perfbench"))
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report = res.pop("report")
    print(f"workload {args.workload} seed {args.seed}: {report['notes']} "
          f"notes, passes {[round(t, 3) for t in report['pass_s']]} s wall, "
          f"set-up {report['setup_wall_s']:.3f} s wall; host slowdown "
          f"{report['setup_slowdown']:.3f} in set-up, "
          f"{[round(x, 3) for x in report['slowdown']]} in passes "
          f"({report['samples']} samples); {report['steal_share']:.1%} of "
          f"pass time stolen")
    for name, (value, unit) in res["metrics"].items():
        print(f"{name} {value:.6g} {unit}")
    if not args.trace:
        print(f"peak_rss_mb {report['peak_rss_mb']:.6g} MB")
    print(f"error_rate {report['error_rate']:.6g} share "
          f"(known defects: {report['known_defect_errors']})")
    for line in report["unknown_errors"][:10]:
        print(f"unexplained error: {line}")
    for line in report["raised"]:
        print(f"raised: {line}")
    print(f"correct {res['correct']}")
    res["metrics"] = {k: {"value": v, "unit": u}
                      for k, (v, u) in res["metrics"].items()}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
