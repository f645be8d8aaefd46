"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root, as bench.py is run: the engine's
Python workers import the package from the working directory, and the
benchmark records that directory rather than patching PYTHONPATH.

One process: generate the seeded inputs, start one ``local[4]``
session, set up the workload (warm-up and artifact warm-up), time it
for ``--seconds``, check its outputs, stop every process it started,
and print one JSON line last. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns on Spark's event log and reports the
per-layer metrics instead (see perfbench/README.md). Every run's full
record, noise record included, is kept under ``.perfbench/results``
for ``perfbench/report.py``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import procs  # noqa: E402

CORES = 4
WORKLOADS = ("llm_artifacts", "live_ticks")


def start_session(run_dir: Path, trace: bool):
    from zcode_iceberg_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(run_dir / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    if trace:
        (run_dir / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(run_dir / "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t = time.time()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    start_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, then wait for every descendant."""
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    procs.reap(os.getpid())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    noise = procs.noise_start()
    work = ROOT / ".perfbench"
    run_dir = work / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # every scratch path the engine derives from tempfile lands here
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"

    if args.workload == "llm_artifacts":
        import wl_llm as wl
    else:
        import wl_live as wl

    try:
        with procs.Sampler() as sampler:
            wl.make_inputs(run_dir / "data", args.seed, args.seconds)
            spark, start_s = start_session(run_dir, bool(args.trace))
            try:
                res = wl.run(spark, run_dir, args.seed, args.seconds, bool(args.trace))
            finally:
                stop_session(spark)
        if args.trace:
            import eventlog

            layers = wl.trace_layers(res, eventlog.load(run_dir / "eventlog"))
            # task time per unit of work over the wall time of that work
            layers["exec.core_util"] = layers["exec.task_run_s"] / (res["e2e"]["wall_s"] * CORES)
            res["layers"].update(layers)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    setup_s = res["t_timed"] - T_START
    e2e = dict(res["e2e"], setup_s=setup_s)
    layers = dict(res["layers"], **{"session.start_s": start_s, "peak_rss_mb": sampler.peak_rss_mb})
    noise.update(res["noise"], loadavg_after=procs.loadavg(), steal_s=procs.steal_s() - noise["steal_s"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "failures": res["failures"],
        "ops": res.get("ops", []),
        "end_to_end": e2e,
        "per_layer": layers,
        "noise": noise,
    }
    (work / "results").mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-t{args.trace}-s{args.seed}-p{os.getpid()}.json"
    (work / "results" / name).write_text(json.dumps(record, indent=1) + "\n")
    print(json.dumps(noise), file=sys.stderr)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    # the workload-level wall figures are in every run's record; the
    # spec decides which print: bounded end-to-end ones untraced, the
    # rest with the layers in a traced run
    chosen = e2e if not args.trace else dict(layers, **e2e)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    # a layer a workload does not exercise reads 0
                    k: {"value": chosen[k] if not args.trace else chosen.get(k, 0.0), "unit": u}
                    for k, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
