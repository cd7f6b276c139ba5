"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 12 --trace 0

Run from the repository root.  One client drives the program as a
closed loop (the next request is sent when the previous one returned)
on ``local[<cpus>]`` Spark, for whole request cycles lasting about
``--seconds``, or for exactly ``--requests`` requests.
Results are checked against the oracles after the timed loop.  The
last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import SparkProbe, Tracer, mean, median, plan_ops, scan_rows  # noqa: E402

SETUP_REPS = 3
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

# per-type medians: request kind -> metric
KIND_P50 = {
    "point": "point_p50_ms",
    "join": "join_p50_ms",
    "gql": "gql_p50_ms",
    "anchored": "anchored_p50_ms",
    "bounded": "bounded_p50_ms",
    "commit": "commit_p50_ms",
    "asof": "asof_read_p50_ms",
    "delta": "delta_p50_ms",
    "diff": "diff_p50_ms",
}

SELF_LAYERS = ("woql", "gql", "path", "checkpoint", "layers", "triples", "spark", "client")

PER_LAYER = {
    "woql.compile_ms": "ms",
    "woql.plan_ops": "count",
    "spark.plan_ms": "ms",
    "spark.exec_ms": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.gc_ms_per_op": "ms",
    "triples.scan_rows_per_row_out": "rows/row",
    "triples.store_build_ms": "ms",
    "gql.parse_ms": "ms",
    "gql.build_ms": "ms",
    "path.loop_ms": "ms",
    "path.jobs_per_op": "count",
    "path.rows_out": "rows",
    "checkpoint.storage_peak_mb": "MB",
    "checkpoint.blocks_leaked": "count",
    "layers.update_build_ms": "ms",
    "layers.write_ms": "ms",
    "layers.write_bytes_per_triple": "B/triple",
    "layers.materialize_ms": "ms",
    "layers.diff_ms": "ms",
    "layers.diff_rows_scanned_per_row_out": "rows/row",
    "layers.pool_rows_end": "rows",
    "layers.space_amp": "ratio",
    "session.start_ms": "ms",
    "bench.input_gen_ms": "ms",
    "bench.warmup_ms": "ms",
    "client.check_ms": "ms",
    **{name: "ms" for name in KIND_P50.values()},
    "error_rate": "ratio",
    **{f"self.{layer}_ms": "ms" for layer in SELF_LAYERS},
    "trace.overhead_ms": "ms",
    "trace.spans_per_op": "count",
}


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--requests", type=int, default=0,
                    help="serve exactly this many requests instead of the cycles --seconds gives")
    ap.add_argument("--dump", help="write requests, result checksums and job counts here (JSON)")
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """The same Spark sizing on every run: one core per CPU this process
    may use, a driver heap that leaves most of a shared host free, and
    every scratch file under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def quantile(values, q: float) -> float:
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def serve(wl, spark, tracer, args) -> tuple[list[dict], float]:
    """The timed closed loop over whole request cycles.

    The number of cycles is ``--seconds`` divided by the workload's
    nominal cycle time (at least one), so a run lasts about ``--seconds``
    on the commit that fixed the nominal times, and every run of a
    workload -- parent or change, any speed -- serves the same requests.
    With tracing, alternate cycles run traced and untraced (an even
    number of cycles, at least two), so both halves carry the same mix."""
    sc = spark.sparkContext
    probe = SparkProbe(spark) if args.trace else None
    group = [""]
    if probe:
        tracer.job_counter = lambda: probe.job_count(group[0])
    cycles = max(1, round(args.seconds / wl.cycle_seconds))
    if args.trace:
        cycles = max(2, cycles + cycles % 2)
    n = args.requests or cycles * len(wl.cycle)
    records = []
    t_loop = time.perf_counter()
    for i, req in enumerate(wl.requests[:n]):
        cycle = i // len(wl.cycle)
        group[0] = f"r{i}"
        sc.setJobGroup(group[0], req[0])
        traced = bool(args.trace) and cycle % 2 == 0
        tracer.enabled, tracer.request = traced, i
        wl.last_qe = None
        if probe:
            gc0, (held0, _) = probe.gc_ms(), probe.persisted()
        t0 = time.perf_counter()
        try:
            with tracer.span("client.request"):
                rows, error = wl.execute(req), None
        except Exception as e:  # a failed request counts in `failed`; the loop goes on
            rows, error = None, f"{type(e).__name__}: {e}"[:400]
        ms = (time.perf_counter() - t0) * 1e3
        tracer.enabled = False
        rec = {"i": i, "kind": req[0], "ms": ms, "rows": rows, "error": error,
               "traced": traced}
        if probe:
            probe.settle()
            rec["jobs"], rec["stages"], rec["tasks"] = probe.jobs(group[0])
            held1, rec["storage_mb"] = probe.persisted()
            rec["leaked"] = held1 - held0
            rec["gc_ms"] = probe.gc_ms() - gc0
            if wl.last_qe is not None and error is None:
                rec["scan_rows"] = scan_rows(wl.last_qe)
                rec["plan_ops"] = plan_ops(wl.last_qe)
        records.append(rec)
    return records, time.perf_counter() - t_loop


def check_all(wl, records) -> int:
    """Check every result against the oracle, in request order; returns
    the number of failed requests (errors or wrong results)."""
    failed = 0
    for rec in records:
        req = wl.requests[rec["i"]]
        try:
            ok = wl.check(req, rec["rows"]) and rec["error"] is None
        except Exception as e:  # an oracle crash marks the request failed
            ok, rec["error"] = False, rec["error"] or f"check: {type(e).__name__}: {e}"
        rec["ok"] = ok
        if not ok:
            failed += 1
            if failed <= 5:
                print(f"# FAILED request {rec['i']} {req!r:.300}: {rec['error'] or 'wrong result'}",
                      file=sys.stderr)
    return failed


def kind_medians(records) -> dict[str, float]:
    return {metric: median(r["ms"] for r in records if r["kind"] == kind)
            for kind, metric in KIND_P50.items()}


def layer_metrics(wl, tracer, records, info) -> dict[str, float]:
    """Per-layer numbers of a traced run (0 where a layer does no work)."""
    traced = [r for r in records if r["traced"]]
    spans = tracer.by_request()
    names = {s[1]: s[3] for s in tracer.spans}
    child_ms: dict[int, float] = {}
    for s in tracer.spans:
        if s[2] is not None:
            child_ms[s[2]] = child_ms.get(s[2], 0.0) + (s[5] - s[4]) * 1e3

    def dur(s):
        return (s[5] - s[4]) * 1e3

    def per_request(pick, value, reduce=median):
        """Reduce, over traced requests with a span ``pick`` accepts, the
        per-request sum of ``value`` over those spans."""
        out = []
        for r in traced:
            chosen = [s for s in spans.get(r["i"], ()) if pick(s)]
            if chosen:
                out.append(sum(value(s) for s in chosen))
        return reduce(out)

    def named(*wanted):
        return lambda s: s[3] in wanted

    def top_path(s):
        return s[3].startswith("path.") and not names.get(s[2], "").startswith("path.")

    def ratio(recs):
        scanned = sum(r.get("scan_rows", 0) for r in recs)
        out = sum(len(r["rows"]) for r in recs if "scan_rows" in r)
        return scanned / max(1, out)

    diffs = [r for r in traced if r["kind"] == "diff"]
    path_reqs = [r for r in traced if any(top_path(s) for s in spans.get(r["i"], ()))]
    self_ms = tracer.self_times()
    m = {
        "woql.compile_ms": per_request(
            named("woql.run", "woql.run_update"), lambda s: dur(s) - child_ms.get(s[1], 0.0)),
        "woql.plan_ops": median(r["plan_ops"] for r in records
                                if "plan_ops" in r and r["kind"] not in ("gql", "diff")),
        "spark.plan_ms": per_request(named("spark.plan"), dur),
        "spark.exec_ms": per_request(named("spark.exec"), dur),
        "spark.jobs_per_op": mean(r["jobs"] for r in records),
        "spark.stages_per_op": mean(r["stages"] for r in records),
        "spark.tasks_per_op": mean(r["tasks"] for r in records),
        "spark.gc_ms_per_op": mean(r["gc_ms"] for r in records),
        "triples.scan_rows_per_row_out": ratio(records),
        "gql.parse_ms": per_request(named("gql.parse"), dur),
        "gql.build_ms": per_request(
            named("gql.execute"), lambda s: dur(s) - child_ms.get(s[1], 0.0)),
        "path.loop_ms": per_request(top_path, dur),
        "path.jobs_per_op": per_request(top_path, lambda s: s[7] - s[6], mean),
        "path.rows_out": median(len(r["rows"]) for r in path_reqs if r["rows"] is not None),
        "checkpoint.storage_peak_mb": max((r["storage_mb"] for r in records), default=0.0),
        "checkpoint.blocks_leaked": mean(r["leaked"] for r in records),
        "layers.update_build_ms": per_request(named("woql.run_update"), dur),
        "layers.write_ms": per_request(named("layers.write"), dur),
        "layers.materialize_ms": per_request(
            lambda s: s[3] == "layers.materialize" and names.get(s[2]) != "layers.diff", dur),
        "layers.diff_ms": median(
            sum(dur(s) for s in spans.get(r["i"], ())
                if s[3] in ("layers.diff", "spark.plan", "spark.exec"))
            for r in diffs),
        "layers.diff_rows_scanned_per_row_out": ratio([r for r in records if r["kind"] == "diff"]),
        "layers.pool_rows_end": 0,
        "layers.space_amp": 0.0,
        "layers.write_bytes_per_triple": 0.0,
        **{f"self.{layer}_ms": self_ms.get(layer, 0.0) * 1e3 / max(1, len(traced))
           for layer in SELF_LAYERS},
        "trace.overhead_ms": (
            median(r["ms"] for r in traced) - median(r["ms"] for r in records if not r["traced"])
            if traced and len(traced) < len(records) else 0.0),
        "trace.spans_per_op": len(tracer.spans) / max(1, len(traced)),
    }
    m.update(wl.extra_metrics())
    m.update(info)
    m.update(kind_medians(records))
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)  # the program's package sits at the repository root
    from terminus_server_spark.session import get_spark
    from workloads import WORKLOADS

    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    pin_environment(work)
    spark = None
    wl = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0

        tracer = Tracer()
        if args.trace:
            tracer.install_layer_spans()
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        # the warm-up runs on the next-to-last set-up's state, so it may
        # write (commits); the timed loop serves the last one's
        reps = []
        for rep in range(SETUP_REPS):
            if rep:
                wl.close()
            t0 = time.perf_counter()
            parts = wl.setup(os.path.join(work, f"rep{rep}"))
            parts["total"] = time.perf_counter() - t0
            reps.append(parts)
            if rep == SETUP_REPS - 2:
                t0 = time.perf_counter()
                for req in wl.warmup_requests():
                    wl.execute(req)
                warmup_s = time.perf_counter() - t0
        setup_s = session_s + median(r["total"] for r in reps) + warmup_s
        print(f"# setup: session {session_s:.2f} s, set-ups "
              f"{[round(r['total'], 2) for r in reps]} s, warm-up {warmup_s:.2f} s",
              file=sys.stderr)

        records, loop_s = serve(wl, spark, tracer, args)

        t0 = time.perf_counter()
        failed = check_all(wl, records)
        check_s = time.perf_counter() - t0

        lat = [r["ms"] for r in records]
        if args.trace:
            info = {
                "session.start_ms": session_s * 1e3,
                "bench.input_gen_ms": median(r["input_gen"] for r in reps) * 1e3,
                "triples.store_build_ms": median(r["store_build"] for r in reps) * 1e3,
                "bench.warmup_ms": warmup_s * 1e3,
                "client.check_ms": check_s * 1e3,
                "error_rate": failed / max(1, len(records)),
            }
            metrics = layer_metrics(wl, tracer, records, info)
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.jsonl"))
            units = PER_LAYER
        else:
            metrics = {
                "setup_s": setup_s,
                "ops_per_s": len(records) / loop_s,
                "latency_p50_ms": median(lat),
                "latency_p90_ms": quantile(lat, 0.9),
            }
            units = END_TO_END
            # the per-type medians and error rate, for reading only
            for name, value in kind_medians(records).items():
                print(f"{name} {value:.3f} ms")
            print(f"error_rate {failed / max(1, len(records)):.4f} ratio")
        if args.dump:
            from oracles import checksum

            with open(args.dump, "w") as f:
                json.dump({
                    "requests": [repr(wl.requests[r["i"]]) for r in records],
                    "checksums": [checksum(r["rows"] or []) for r in records],
                    "jobs": [r.get("jobs") for r in records],
                    "latency_ms": [r["ms"] for r in records],
                }, f)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    print(f"requests {len(records)} in {loop_s:.2f} s; checked in {check_s:.2f} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
