"""Seeded closed-loop benchmark of pysemantic_spark.

    python3 perfbench/run.py --workload {validate_resume,corpus_neardup} \\
        --seed N --seconds S --trace {0,1}

Run from the repo root. Inputs are generated from ``--seed`` (cached under
``perfbench/.work/inputs``), one Spark session is started on this host,
the workload runs one cold pass (part of set-up), then loops until
``--seconds`` have been measured and the workload's ``min_samples`` passes
are done, checking every output against the seed's oracle. Every metric is
printed with its unit; the last stdout line is one JSON object: the
end-to-end metrics with ``--trace 0``, the per-layer metrics (with Spark
stage metrics per layer span) with ``--trace 1``. The full record, with
host facts and spans, goes to ``perfbench/.work/results``. Exit code 0
only when every operation succeeded and matched its oracle.
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

END_TO_END = [
    ("setup_s", "s"),
    ("job_s", "s"),
    ("rows_per_s", "rows/s"),
    ("ok_frac", "ratio"),
]
VALUE_METRICS = [
    ("jvm.peak_rss_gb", "GB"),
    ("runner.execute_s", "s"),
    ("runner.turns_per_s", "rows/s"),
    ("runner.plan_s", "s"),
    ("runner.pass1_s", "s"),
    ("runner.pass2_s", "s"),
    ("runner.rest_s", "s"),
    ("runner.clean_export_s", "s"),
    ("runner.violation_rows", "count"),
    ("runner.dup_keys", "count"),
    ("runner.violations_bytes", "B/B"),
    ("runner.clean_rows", "count"),
    ("runner.clean_bytes", "B/B"),
    ("drift.baseline_s", "s"),
    ("tableio.bucketize_s", "s"),
    ("tableio.bucketize_bytes", "B"),
    ("tableio.bucketize_files", "count"),
    ("tableio.killed_s", "s"),
    ("tableio.resume_s", "s"),
    ("tableio.turns_per_s", "rows/s"),
    ("tableio.chunk_s", "s"),
    ("tableio.chunk_plan_s", "s"),
    ("tableio.chunk_pass1_s", "s"),
    ("tableio.chunk_pass2_s", "s"),
    ("tableio.chunks", "count"),
    ("tableio.skipped_buckets", "count"),
    ("tableio.redo_buckets", "count"),
    ("tableio.manifest_bytes", "B"),
    ("dedup.minhash_s", "s"),
    ("dedup.minhash_pairs", "count"),
    ("dedup.simhash_s", "s"),
    ("dedup.simhash_pairs", "count"),
    ("dedup.ngram_s", "s"),
    ("dedup.ngram_pairs", "count"),
    ("similarity.emb_lsh_s", "s"),
    ("similarity.emb_lsh_pairs", "count"),
    ("similarity.emb_exact_s", "s"),
    ("similarity.emb_exact_pairs", "count"),
    ("similarity.emb_recall", "ratio"),
    ("trace.job_s", "s"),
]


def per_layer_catalog() -> list[tuple[str, str]]:
    from tracing import LAYER_SPANS, SPAN_METRICS

    return VALUE_METRICS + [
        (f"{span}.{m}", unit) for span in LAYER_SPANS for m, unit in SPAN_METRICS
    ]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["validate_resume", "corpus_neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--inject-oracle-error", action="store_true",
                    help="self-test: corrupt one expected answer, which must "
                    "then count as a failed operation")
    return ap.parse_args(argv)


def _children(pid: int) -> list[int]:
    """All live descendants of pid (from /proc)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers; wait for all."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    procs = _children(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def corrupt(kind: str, oracle: dict) -> None:
    if kind == "transcripts":
        oracle["n_dup_keys"] += 1
    else:
        oracle["simhash"] = oracle["simhash"][1:]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pysemantic_spark")):
        print(f"perfbench: package pysemantic_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import host
    import inputs
    import tracing
    import workloads

    wl_cls = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(inputs.WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    host.configure_env(ROOT, run_dir)

    data_dir, oracle, cost = inputs.prepare(wl_cls.kind, args.seed, args.size)
    if args.inject_oracle_error:
        corrupt(wl_cls.kind, oracle)

    tracer = tracing.Tracer()
    loop = workloads.Loop(tracer)
    t0 = time.perf_counter()
    spark = host.start_session(run_dir, event_log=bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        facts = host.record(spark)
        pid = host.jvm_pid(spark)
        wl = wl_cls(spark, loop, data_dir, oracle, run_dir)
        # set-up: session start + drift baseline + the cold first pass
        setup_s = session_s + wl.setup()
        tracer.iteration = 0
        cold = wl.iteration()
        setup_s += wl.job_s(cold)
        samples = []
        t_measure = time.perf_counter()
        while (len(samples) < wl.min_samples
               or time.perf_counter() - t_measure < args.seconds):
            tracer.iteration = len(samples) + 1
            samples.append(wl.iteration())
        measured_s = time.perf_counter() - t_measure
        rss = host.peak_rss_gb(pid)
    finally:
        stop_session(spark)

    jobs = [wl.job_s(s) for s in samples]
    e2e = {
        "setup_s": setup_s,
        "job_s": statistics.median(jobs),
        "rows_per_s": wl.input_rows() / statistics.median(jobs),
        "ok_frac": 1.0 - loop.failed / loop.attempted,
    }
    measured = wl.summarize(samples)
    measured["jvm.peak_rss_gb"] = rss
    if args.trace:
        measured["trace.job_s"] = e2e["job_s"]
        stages = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
        spans = tracing.attribute(tracer.spans, stages, host.spark_threads())
        for span, vals in spans.items():
            for m, v in vals.items():
                measured[f"{span}.{m}"] = v
    layer = dict.fromkeys((n for n, _ in per_layer_catalog()), 0.0)
    layer.update(measured)

    units = dict(END_TO_END + per_layer_catalog())
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"host={json.dumps(facts, sort_keys=True)}")
    print(f"# inputs: gen_s={cost['gen_s']:.3f} oracle_s={cost['oracle_s']:.3f} "
          f"cached={cost['cached']} (not in setup_s); session_s={session_s:.3f}; "
          f"{len(samples)} measured iterations in {measured_s:.1f} s; "
          f"attempted={loop.attempted} failed={loop.failed} "
          f"fail_frac={loop.failed / loop.attempted:.4f}")
    print(f"# job_s samples: {[round(j, 3) for j in jobs]}")
    for name, val in list(e2e.items()) + list(measured.items()):
        print(f"{name:44s} {val:16.6f} {units[name]}")
    for p in loop.problems:
        print(f"# FAILED {p}")

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "host": facts, "cost": cost, "session_s": session_s,
        "attempted": loop.attempted, "failed": loop.failed,
        "problems": loop.problems, "cold": cold, "samples": samples,
        "end_to_end": e2e, "per_layer": layer, "spans": tracer.spans,
    }
    res_dir = os.path.join(inputs.WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(
        res_dir, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
    ), "w") as f:
        json.dump(record, f, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)

    shown = layer if args.trace else e2e
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
    }))
    return 0 if loop.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
