"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process: generate the
workload's inputs from the seed, start a ``local[4]`` session with
``session.get_spark``, run one pass in the fresh session, then steady
passes for ``--seconds``; check every pass against the workload's
independent reference. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the
per-layer metrics, from traced passes interleaved with untraced ones.
Everything the run writes stays under ``.bench_work/`` in the
checkout; the run record and the spans of a traced run are kept in
``.bench_work/records/``.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def isolate(work: str) -> None:
    """Keep every file the run (and the JVM and Python workers it
    starts) writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def main() -> int:
    args = parse_args()
    # a terminated run still stops the JVM it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    records = os.path.join(ROOT, ".bench_work", "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(records, exist_ok=True)
    isolate(work)

    import harness  # imports the package; fails outside a full checkout

    cls = harness.workload_class(args.workload)
    t_imported = time.time()
    wl = cls(os.path.join(work, "data"), args.seed)
    t0 = time.time()
    props = wl.generate()
    gen_s = time.time() - t0

    t0 = time.time()
    session = harness.Session(work, listen=bool(args.trace))
    setup_s = (t_imported - T_PROCESS) + (time.time() - t0)
    try:
        run = harness.Run(session, wl, os.path.join(work, "out"))
        run.measure(args.seconds, traced=bool(args.trace))
        record = run.record(
            workload=args.workload,
            seed=args.seed,
            mode="trace" if args.trace else "plain",
            cpus=CPUS,
            seconds=args.seconds,
            props=props,
            gen_s=gen_s,
            setup_s=setup_s,
        )
    finally:
        session.close()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        harness.write_spans(os.path.join(records, f"{tag}-spans.json"), run, record)
    shutil.rmtree(work, ignore_errors=True)

    metrics = record["per_layer"] if args.trace else record["end_to_end"]
    print(
        json.dumps(
            {
                "correct": record["failed"] == 0,
                "attempted": record["attempted"],
                "failed": record["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
