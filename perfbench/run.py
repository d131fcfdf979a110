"""Benchmark of the KG-construction lifecycle (learn -> extract ->
snapshot commit -> resume -> read), one workload per run.

    python3 perfbench/run.py --workload wiki_anchors --seed 1 --seconds 20 \
        --trace 0

Run from the root of a checkout. Each run generates its inputs from
``--seed`` in its own session, under ``perfbench/.work``. With ``--trace 0``
the run times whole lifecycles for at least ``--seconds`` and reports the
end-to-end metrics; with ``--trace 1`` it runs one untimed warm-up
lifecycle over the thin pages, then alternates an untraced and a traced
lifecycle, the traced one with a resume commit, and reports the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
records the host, the settings and every raw measurement. Every process
the run starts has ended before it prints. Exits non-zero without a result
when the program is not next to ``perfbench/``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import dataclasses  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import hostinfo  # noqa: E402
import inputs  # noqa: E402
import lifecycle  # noqa: E402
import reaper  # noqa: E402
from sparksession import Session  # noqa: E402

DEFAULT_PERSONS = 300
DEFAULT_FAT_KB = 128

E2E_UNITS = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "pages/s",
    "gt_precision": "ratio", "gt_recall": "ratio",
    "retained_heap_mb": "MB", "driver_peak_rss_mb": "MB", "ok_share": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(lifecycle.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--persons", type=int, default=DEFAULT_PERSONS,
                   help="persons in the generated corpus")
    p.add_argument("--fat-kb", type=int, default=DEFAULT_FAT_KB,
                   help="KiB of filler per person page in web_fat")
    return p.parse_args(argv)


def _median(xs):
    return statistics.median(xs) if xs else None


def set_up(sess, wl, args, out: str, info: dict):
    """Start the session, generate the inputs under ``out``, open them and
    make the untimed warm-up pass. Returns the inputs and the set-up time:
    from process start, less input generation."""
    spark = sess.start()
    t_gen = time.perf_counter()
    thin, fat_pages = inputs.generate(
        spark, out, args.seed, args.persons,
        args.fat_kb if wl.pages == "fat" else None)
    t_open = time.perf_counter()
    info["input_gen_s"] = t_open - t_gen
    inp = lifecycle.open_inputs(spark, thin, fat_pages)
    lifecycle.warm_up(spark, inp)
    return inp, (t_gen - _T0) + (time.perf_counter() - t_open)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "fact_extraction_spark")):
        print("perfbench: fact_extraction_spark/ not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # every process started below, and every orphan of theirs, is this
    # process's child: it waits for them all before it reports
    reaper.become_subreaper()
    reaper.exit_on_sigterm()
    wl = lifecycle.WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work")
    run_dir = os.path.join(work, "runs", f"{args.workload}-s{args.seed}-"
                                         f"{os.getpid()}")
    info = {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "persons": args.persons, "fat_kb": args.fat_kb,
            "loadavg_before": hostinfo.loadavg()}
    sess = Session(work, wl.spark_conf)
    ledger = checks.Ledger()
    metrics: dict[str, float] = {}
    try:
        inp, setup_s = set_up(sess, wl, args,
                              os.path.join(run_dir, "inputs"), info)
        info["setup_s"] = setup_s
        if not args.trace:
            metrics["setup_s"] = setup_s
        info["pages"], info["html_mb"] = inp.n_pages, inp.html_mb
        info["host"] = hostinfo.host_record(
            sess.spark.version, sess.cpus, sess.heap_mb)
        if args.trace:
            measure_traced(sess, inp, wl, run_dir, args, ledger, info,
                           metrics)
        else:
            measure_timed(sess, inp, wl, run_dir, args, ledger, info,
                          metrics)
        digests = set(info["digests"])
        ledger.check("digest equal across lifecycles of the run",
                     len(digests) == 1, f"{digests}")
        # runs of this code on the same pages must agree, whatever the
        # mention mode: a traced run's warm-up reads the thin pages in the
        # workload's own mode, the same pages wiki_anchors reads in anchors
        # mode. Padded pages only meet other runs on padded pages, since
        # the scorer's position term depends on page length; what that
        # changes shows in gt_precision
        key = f"{checks.source_hash(ROOT)}-s{args.seed}-n{args.persons}"
        pages = f"fat{args.fat_kb}" if wl.pages == "fat" else "thin"
        found = [(pages, d) for d in digests]
        if "warm_digest" in info:
            found.append(("thin", info["warm_digest"]))
        for pages, d in found:
            checks.check_digest(ledger, os.path.join(work, "digests"),
                                f"{key}-{pages}", f"{args.workload} "
                                f"{pages} (seed {args.seed})", d)
    except Exception:  # the run boundary: report, never hang
        if not ledger.errors:
            ledger.attempted += 1
            ledger.failed += 1
        ledger.errors.append(f"run: {traceback.format_exc(limit=5)}")
    finally:
        sess.stop()
        left = reaper.reap_children()
        ledger.check("every process the run started has ended", not left,
                     f"still running: {left}")
        shutil.rmtree(run_dir, ignore_errors=True)

    info["loadavg_after"] = hostinfo.loadavg()
    info["elapsed_s"] = time.perf_counter() - _T0
    info["errors"] = ledger.errors
    # every path above attempted at least one operation
    metrics["ok_share"] = 1.0 - ledger.failed / ledger.attempted
    units = (lifecycle.per_layer_units() if args.trace else E2E_UNITS)
    out = {name: {"value": metrics[name], "unit": unit}
           for name, unit in units.items() if name in metrics}
    correct = ledger.failed == 0 and len(out) == len(units)
    print(json.dumps({"perfbench": info}))
    print(json.dumps({"correct": correct, "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": out}))
    return 0


def measure_timed(sess, inp, wl, run_dir, args, ledger, info, metrics):
    """Whole lifecycles for at least ``--seconds``."""
    hostinfo.reset_peak_rss()
    runs = []
    heaps = []
    t0 = time.perf_counter()
    while not runs or time.perf_counter() - t0 < args.seconds:
        base = os.path.join(run_dir, f"lc{len(runs)}")
        runs.append(lifecycle.run_timed(sess.spark, inp, wl, base, ledger))
        heaps.append(lifecycle.retained_heap_mb(sess.spark))
    metrics["driver_peak_rss_mb"] = hostinfo.peak_rss_mb()
    info["lifecycles"] = [
        {"learn_s": r.learn_s, "extract_commit_s": r.extract_commit_s,
         "job_s": r.job_s, "wall_s": r.wall_s, "committed_rows": r.committed_rows,
         "precision": r.precision, "recall": r.recall,
         "retained_heap_mb": h} for r, h in zip(runs, heaps)]
    info["digests"] = [r.digest for r in runs]
    metrics["job_s"] = _median([r.job_s for r in runs])
    metrics["docs_per_s"] = _median(
        [inp.n_pages / r.extract_commit_s for r in runs])
    metrics["gt_precision"] = _median([r.precision for r in runs])
    metrics["gt_recall"] = _median([r.recall for r in runs])
    metrics["retained_heap_mb"] = _median(heaps)


def measure_traced(sess, inp, wl, run_dir, args, ledger, info, metrics):
    """Pairs of an untraced and a traced lifecycle for at least
    ``--seconds``."""
    # one untimed lifecycle of the workload first, over the thin pages to
    # keep a traced run under 180 s: the first lifecycle in a JVM runs far
    # slower than the next, which would bias both comparisons below
    thin = dataclasses.replace(inp, run_pages=inp.pages)
    t = time.perf_counter()
    info["warm_digest"] = lifecycle.run_timed(
        sess.spark, thin, wl, os.path.join(run_dir, "warm"), ledger,
        evaluate_pr=False).digest
    info["warm_s"] = time.perf_counter() - t
    plain, traced = [], []
    cpu = sess.jvm_cpu_seconds()
    t0 = time.perf_counter()
    while not traced or time.perf_counter() - t0 < args.seconds:
        i = len(plain)
        plain.append(lifecycle.run_timed(
            sess.spark, inp, wl, os.path.join(run_dir, f"plain{i}"), ledger,
            evaluate_pr=False))
        traced.append(lifecycle.run_traced(
            sess.spark, inp, wl, os.path.join(run_dir, f"traced{i}"),
            ledger, cpu, args.seed))
    info["digests"] = [r.digest for r in plain + traced]
    info["lifecycles"] = [
        {"plain_wall_s": p.wall_s, "traced_wall_s": t.wall_s,
         "plain_extract_commit_s": p.extract_commit_s,
         "traced_segments_s": t.segments_s}
        for p, t in zip(plain, traced)]
    names = set().union(*(t.layers for t in traced))
    for name in names:
        metrics[name] = _median([t.layers[name] for t in traced
                                 if name in t.layers])
    metrics["pipeline.extract.segment_ratio"] = (
        _median([t.segments_s for t in traced])
        / _median([p.extract_commit_s for p in plain]))
    plain_wall = _median([p.wall_s for p in plain])
    metrics["trace.overhead_share"] = (
        (_median([t.wall_s for t in traced]) - plain_wall) / plain_wall)
    # layers this workload never runs are reported as zero: every
    # per-layer metric BENCHMARK.json lists must be printed
    for name in lifecycle.per_layer_units():
        metrics.setdefault(name, 0.0)
    spans_dir = os.path.join(sess.work, "traces")
    os.makedirs(spans_dir, exist_ok=True)
    with open(os.path.join(spans_dir, f"{args.workload}-s{args.seed}-"
                                      f"{os.getpid()}.json"), "w") as f:
        json.dump([t.spans for t in traced], f)


if __name__ == "__main__":
    sys.exit(main())
