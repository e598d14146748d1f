"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,update} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates its inputs from the seed into
``.perfbench_work/`` (removed at exit), drives the engine through its
public API, checks every answer against an exhaustive scorer that does
not use the engine, and prints one JSON object as the last line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` prints the per-layer
metrics and writes the spans to ``.perfbench_work/traces/``.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query", "update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # the engine must come from this checkout; fail before any work
    # (and before printing anything) when it is absent
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import documentindex_spark  # noqa: F401

    import workloads
    from tracing import NullTracer, Tracer

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    # every JVM Spark starts (launcher and driver) writes a perf-data
    # file under /tmp whatever its temp dir; switch that file off
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    # Spark's Python workers import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    tracer = Tracer() if args.trace else NullTracer()
    run = workloads.Run(args.workload, args.seed, args.seconds, tracer, work,
                        T_START, cpus)
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        except workloads.Aborted:
            pass  # the failed write is counted and recorded
        except Exception as e:
            # an operation outside the counted ones raised: count it,
            # and still print a result, with the metrics it did not
            # reach as 0
            run.attempted += 1
            run.failed += 1
            run.errors.append(f"workload raised {type(e).__name__}: {e}")
            traceback.print_exc()
        # a traced run reports the layers its workload does not run as
        # 0 (README.md), and a run with a failure the metrics it did
        # not reach
        if tracer.enabled or run.failed:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                spec = json.load(f)
            table, key = ((run.layer, "per_layer") if tracer.enabled
                          else (run.e2e, "end_to_end"))
            for m in spec[key]:
                table.setdefault(m["name"], (0.0, m["unit"]))
        for err in run.errors[:20]:
            print(f"CHECK FAILED: {err}", file=sys.stderr)
        if tracer.enabled:
            # the end-to-end figures of the traced run, to measure the
            # tracing overhead against an untraced run
            tracer.write(os.path.join(
                base, "traces", f"{args.workload}-{args.seed}.json"),
                {"end_to_end": run.e2e})
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(run.result()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
