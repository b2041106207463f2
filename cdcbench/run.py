"""CDC benchmark: one workload, one seed, one timed run.

    python3 cdcbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The program under test is the
``binlog_spark`` package beside this directory; it is driven through its
public drivers with their default arguments on ``local[nproc]``.

Prints a report, then as its last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer ones with ``--trace 1``).  Exits 1 when any
operation failed or mismatched its golden, 2 when the program is missing.
See README.md in this directory for the workloads and metric definitions.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".cdcbench")

#: every end-to-end metric the report prints, with its unit
END_TO_END = {
    "setup_s": "s",
    "apply_changes_per_s": "changes/s",
    "cpu_us_per_change": "us",
    "batch_latency_p50_s": "s",
    "batch_latency_tail_s": "s",
    "freshness_p50_s": "s",
    "freshness_tail_s": "s",
    "lake_write_bytes_per_binlog_byte": "ratio",
    "peak_rss_mb": "MB",
}
#: the ones BENCHMARK.json bounds, printed on the result line.  The
#: tails rest on too few samples per run, and the JVM's heap growth makes
#: peak RSS swing by a third between runs; both stay in the report.
GATED = ("setup_s", "apply_changes_per_s", "cpu_us_per_change",
         "batch_latency_p50_s", "freshness_p50_s",
         "lake_write_bytes_per_binlog_byte")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launcher_env(scratch: str, event_log: str | None) -> None:
    """Keep every temp file inside the checkout and, for the traced run,
    switch on Spark's own event log.  Set before the JVM starts;
    ``session.py`` is left as users run it."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    conf = ["spark.ui.showConsoleProgress=false"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf += ["spark.eventLog.enabled=true",
                 f"spark.eventLog.dir=file://{event_log}",
                 "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"


def end_to_end(wl, setup_s: float, peak_rss: int) -> tuple[dict, dict]:
    from cdcbench.measure import median, tail
    s = wl.samples
    rates = [n / w for n, w in s.applies if w > 0]
    lat, fresh = tail(s.batch_latency), tail(s.freshness)
    values = {
        "setup_s": setup_s,
        "apply_changes_per_s": median(rates),
        "cpu_us_per_change": (s.cpu_s / s.cpu_changes * 1e6
                              if s.cpu_changes else 0.0),
        "batch_latency_p50_s": median(s.batch_latency),
        "batch_latency_tail_s": lat["value"],
        "freshness_p50_s": median(s.freshness),
        "freshness_tail_s": fresh["value"],
        "lake_write_bytes_per_binlog_byte": (wl.lake_bytes / wl.binlog_bytes
                                             if wl.binlog_bytes else 0.0),
        "peak_rss_mb": peak_rss / 2**20,
    }
    detail = {"batch_latency_tail": lat, "freshness_tail": fresh,
              "batches": s.batches, "applies": s.applies,
              "batch_latency": s.batch_latency, "freshness": s.freshness}
    return values, detail


def stream_layers(wl) -> dict:
    from cdcbench.measure import median
    x = wl.samples.extra
    prog = x.get("progress", [])

    def ms(p, k):
        return p.get("durationMs", {}).get(k, 0) / 1000.0
    return {
        "stream.batches": wl.samples.batches,
        "stream.files_per_batch": x.get("files_per_batch", 0),
        "stream.add_batch_s": median([ms(p, "addBatch") for p in prog]),
        "stream.trigger_overhead_s": median(
            [ms(p, "triggerExecution") - ms(p, "addBatch") for p in prog]),
        "stream.backlog_max_files": x.get("backlog_max_files", 0),
        "generator.lateness_s": x.get("generator_lateness_max_s", 0),
    }


def run_probes(spark, wl) -> tuple[dict, float, bool, bool]:
    """One batch's input through the isolated layer probes.  Returns
    (probe results, changes in that batch, kernel on path, generic on
    path)."""
    from binlog_spark.decoder.chunks import read_manifest

    from cdcbench.trace import Probes
    probes = Probes(spark)
    chunks = [(wl.dump, f, int(o), int(n))
              for f, o, n in read_manifest(wl.dump)["chunks"]]
    d = wl.descriptors
    if wl.name == "multi_minimal_catchup":
        probes.chunks(wl.dump)
        probes.generic(chunks[:wl.cpb])
        return probes.out, d["changes"] / d["batches"], False, True
    if wl.name == "repo_bulk_replay":
        from binlog_spark.cdc.pipeline import BROADCAST_WINNERS_MIN_BYTES
        from binlog_spark.decoder.chunks import decode_parallelism
        probes.chunks(wl.dump)
        # replay's own per-batch choices
        probes.kernel(chunks, parts=decode_parallelism(spark, chunks),
                      broadcast_winners=sum(c[3] for c in chunks)
                      >= BROADCAST_WINNERS_MIN_BYTES)
        return probes.out, d["changes"], True, False
    # the tail reads whole files, not chunk spans: probe the spans of one
    # mean micro-batch's files, with stream_apply's (default) arguments
    k = max(1, round(wl.samples.extra.get("files_per_batch") or 1))
    names = set(wl.files[wl.WARM_FILES:wl.WARM_FILES + k])
    probes.kernel([c for c in chunks if c[1] in names], parts=None,
                  broadcast_winners=None)
    per_file = d["changes_per_file"]
    return probes.out, sum(per_file[n] for n in names), True, False


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "binlog_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "bench_extra.py")):
        print(f"cdcbench: no binlog_spark package beside {HERE}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from cdcbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    event_log = os.path.join(scratch, "eventlog") if args.trace else None
    launcher_env(scratch, event_log)

    from cdcbench.measure import RssSampler, Tally
    tally = Tally()
    spark = None
    wl = None
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace}
    try:
        with RssSampler() as rss:
            t = time.time()
            wl_cls = WORKLOADS[args.workload]
            # fixtures are cached per seed; their generation is the
            # benchmark's own work and stays out of setup_s
            wl = wl_cls(None, WORK, args.seed, args.seconds, tally)
            wl.prepare()
            gen_s = time.time() - t

            t = time.time()
            from binlog_spark.session import get_spark, ship_package
            spark = get_spark("cdcbench")
            spark.sparkContext.setLogLevel("ERROR")
            start_s = time.time() - t
            t = time.time()
            ship_package(spark)
            ship_s = time.time() - t
            wl.spark = spark
            wl.warmup()
            settle(spark)
            timing_begins = time.time()
            setup_s = timing_begins - PROCESS_START - gen_s

            tracer = None
            if args.trace:
                from cdcbench.trace import Tracer
                tracer = Tracer(spark)
                tracer.install()
                wl.attach(tracer)
            wl.measure()
            wl.finish()
            wl.stop()
            if tracer:
                tracer.enable(False)
                tracer.unwrap()
                probes = run_probes(spark, wl)
        values, detail = end_to_end(wl, setup_s, rss.peak)
        report.update({
            "master": spark.sparkContext.master,
            "fixture_s": round(gen_s, 3),
            "session": {"session.start_s": start_s,
                        "session.ship_s": ship_s,
                        "warmup.first_apply_s": wl.first_apply_s},
            "end_to_end": values, "detail": detail,
            "error_rate": tally.error_rate,
            "descriptors": {k: v for k, v in wl.descriptors.items()
                            if k != "changes_per_file"},
            "stream": wl.samples.extra and {
                k: v for k, v in wl.samples.extra.items()
                if k != "progress"},
        })
        stop_spark(spark)
        spark = None
        if args.trace:
            report["per_layer"] = per_layer(wl, report["session"], tracer,
                                            probes, event_log)
            report["spans"] = tracer.spans
            report["windows"] = wl.samples.windows
    except Exception:
        tally.record("run", False, traceback.format_exc(limit=6))
        print(traceback.format_exc(), file=sys.stderr)
        report["failures"] = tally.failures
        return 1
    finally:
        if wl is not None:
            wl.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    report["failures"] = tally.failures
    print_report(report)
    if args.trace:
        from cdcbench.trace import unit_of
        metrics = report["per_layer"]
        units = {k: unit_of(k) for k in metrics}
    else:
        metrics = {k: report["end_to_end"][k] for k in GATED}
        units = END_TO_END
    correct = tally.failed == 0 and tally.attempted > 0
    print(json.dumps({
        "correct": correct, "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0 if correct else 1


def settle(spark) -> None:
    """Collect garbage in the JVM and here before timing begins, so a
    collection the warm-up left pending does not land in the timed
    region of one run but not of another."""
    import gc
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and the Python workers
    under it, and wait until every one has exited."""
    from pyspark import SparkContext

    from cdcbench.measure import descendants, wait_gone
    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits at EOF on its stdin
        proc.stdin.close()
        proc.wait(timeout=60)
    left = wait_gone(pids, 30.0)
    if left:
        raise RuntimeError(f"processes still running after stop: {left}")


def per_layer(wl, session: dict, tracer, probes, event_log: str) -> dict:
    from cdcbench.trace import fold_event_log, layer_metrics, read_event_log
    out, changes_per_batch, kernel, generic = probes
    s = wl.samples
    per_window = (wl.descriptors["batches"]
                  if wl.name == "multi_minimal_catchup" else 1)
    folded = fold_event_log(read_event_log(event_log),
                            [(a, b) for a, b, t in s.windows if t])
    return layer_metrics(
        session=session, spans=tracer.spans, windows=s.windows,
        batches_per_window=per_window, probes=out, kernel=kernel,
        generic=generic, changes_per_batch=changes_per_batch,
        folded=folded,
        stream=stream_layers(wl) if wl.name == "repo_stream_tail" else {})


def print_report(report: dict) -> None:
    """Human-readable lines before the JSON result line."""
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(
        WORK, f"report-{report['workload']}-seed{report['seed']}"
              f"-trace{report['trace']}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"# {report['workload']} seed={report['seed']} "
          f"seconds={report['seconds']} master={report.get('master')}")
    for k, v in report.get("end_to_end", {}).items():
        print(f"{k:34s} {v:14.4f} {END_TO_END[k]}")
    print(f"{'error_rate':34s} {report.get('error_rate', 1.0):14.4f} ratio")
    d = report.get("detail", {})
    for k in ("batch_latency_tail", "freshness_tail"):
        t = d.get(k, {})
        print(f"# {k}: p{t.get('percentile')} of n={t.get('n')} "
              f"({t.get('beyond')} beyond, rule met: {t.get('rule_met')})")
    for k, v in report.get("session", {}).items():
        print(f"# {k} {v:.3f}")
    print("# inputs " + json.dumps(report.get("descriptors", {})))
    if report.get("stream"):
        print("# stream " + json.dumps(report["stream"]))
    if report.get("per_layer"):
        from cdcbench.trace import unit_of
        for k, v in report["per_layer"].items():
            print(f"{k:34s} {v:14.4f} {unit_of(k)}")
    for f in report.get("failures", []):
        print(f"# FAILED {f}")
    print(f"# full report: {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
