"""perfbench: end-to-end and per-layer benchmark of squirtle_spark.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record (provenance stamp, details and, when
traced, every span) goes to perfbench/out/records/. See README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.path.insert(1, os.path.dirname(BENCH_DIR))

WORKLOADS = ("batch", "nexmark-stream")


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        return json.load(f)


def _result_line(res: dict, spec: dict, trace: bool) -> dict:
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    if trace:
        values = {n: (float(res["layer"].get(n, 0.0)), units[n]) for n in names}
    else:
        values = {n: res["metrics"][n] for n in names}
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(v), "unit": u} for n, (v, u) in values.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import squirtle_spark  # noqa: F401
        import tools.randgen  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in this checkout: {exc}", file=sys.stderr)
        return 2

    from pbench.env import OUT_DIR

    spec = _spec()
    if args.workload == "batch":
        from pbench import batch as mod
    else:
        from pbench import stream as mod
    res = mod.run(args.seed, args.seconds, bool(args.trace), T_START)
    line = _result_line(res, spec, bool(args.trace))

    rec_dir = os.path.join(OUT_DIR, "records")
    os.makedirs(rec_dir, exist_ok=True)
    tracer = res.pop("tracer")
    record = {
        **line,
        "stamp": res["stamp"],
        "end_to_end": {n: v for n, (v, _) in res["metrics"].items()},
        "per_layer": res["layer"] if args.trace else None,
        "detail": res["detail"],
        "spans": tracer.spans if args.trace else None,
        "self_time_s": tracer.self_time_by_name() if args.trace else None,
    }
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
