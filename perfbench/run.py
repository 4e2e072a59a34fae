"""Layer-resolved benchmark for the extraction job and the operators.

    python3 perfbench/run.py --workload html_mix --seed 42 --seconds 10 --trace 0

Runs one workload in a closed loop with one client on local[nproc],
checks every output, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}.  With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, measured in a separate
traced run.  Spans and per-repetition evidence (host steal%, a
before-run memory-bandwidth probe) are written under .perfbench/out/.
Everything the run writes stays under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("html_mix", "curate_ops")
DRIVER_MEMORY = "2g"


def _declared(trace: bool) -> list[dict]:
    """The metrics BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the engine must be importable before anything starts
    import document_extraction_service_spark  # noqa: F401

    from perfbench import procs
    from perfbench import workloads as wl

    # every process this run starts, however deep, is waited for before
    # it exits; SIGTERM unwinds through the same clean-up
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "tmp", str(os.getpid()))
    out_dir = os.path.join(base, "out")
    cache_dir = os.path.join(base, "cache")
    for d in (work, out_dir, cache_dir):
        os.makedirs(d, exist_ok=True)
    # keep every temporary file of this process, the JVM and the Python
    # workers inside the checkout
    os.environ["TMPDIR"] = work
    tempfile.tempdir = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    res = wl.Result()
    spark = None
    try:
        if args.workload != "curate_ops":
            rows, hashes = wl.generate(args.seed, cores)
        from document_extraction_service_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session(
            master=f"local[{cores}]", app_name=f"perfbench-{args.workload}",
            driver_memory=DRIVER_MEMORY,
            # -XX:-UsePerfData: else the JVM writes a perf-data file outside the
            # checkout
            extra={"spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={work} -XX:-UsePerfData"},
        )
        build_s = time.perf_counter() - t0
        if args.workload == "curate_ops":
            wl.run_curate(spark, args.seconds, bool(args.trace), cache_dir, build_s, res)
        else:
            wl.run_extraction(spark, args.seconds, bool(args.trace), cores, work,
                              rows, hashes, build_s, res)
    finally:
        try:
            procs.stop_spark(spark)
            procs.stop_resource_tracker()
        finally:
            killed = procs.reap_children()
            shutil.rmtree(work, ignore_errors=True)
    if killed:
        res.notes.append(f"killed {len(killed)} process(es) still running at exit")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    res.evidence.update({"workload": args.workload, "seed": args.seed, "cores": cores,
                         "e2e": res.e2e, "layers": res.layers})
    with open(os.path.join(out_dir, f"evidence-{tag}.json"), "w") as f:
        json.dump(res.evidence, f, indent=1, default=str)
    if args.trace:
        res.tracer.write(os.path.join(out_dir, f"spans-{tag}.jsonl"))

    for line in res.notes:
        print(f"{args.workload} seed={args.seed}: {line}")
    res.layers["failed_frac"] = res.failed / max(res.attempted, 1)
    # a layer this workload does not run did no work: it reads 0
    values = res.layers if args.trace else res.e2e
    print(json.dumps({
        "correct": res.checks_ok and res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]}
                    for m in _declared(bool(args.trace))},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
