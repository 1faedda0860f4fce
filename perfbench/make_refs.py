"""Write perfbench/refs.json: the checksum of every stage of every
workload, per seed, that the benchmark compares its outputs with.

    python3 perfbench/make_refs.py --seeds 1-20,7919

Runs from the root of a source checkout, in one Spark session. Per
workload and seed it generates the inputs, records the references that
come from another code path (see workloads.py), runs one pass checked
against them and keeps every stage's checksum. It writes nothing if any
call fails or disagrees with such a reference. Existing entries for
other seeds are kept. Rerun it only when a change is meant to change an
answer.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 1-20,7919")
    ap.add_argument("--workloads", default="",
                    help="comma-separated; default all")
    args = ap.parse_args(argv)
    run.setup_env()
    from layers import Spans
    from workloads import WORKLOADS

    names = args.workloads.split(",") if args.workloads else sorted(WORKLOADS)
    with open(run.REFS) as f:
        refs = json.load(f)
    work = run.ROOT / ".perfbench_work" / f"refs-{os.getpid()}"
    for d in ("local", "warehouse", "tmp"):
        (work / d).mkdir(parents=True)
    failed = []
    spark = run._spark(work, len(os.sched_getaffinity(0)), False)
    try:
        for name in names:
            for seed in _seeds(args.seeds):
                w = WORKLOADS[name](spark, seed, str(work / f"{name}-{seed}"))
                w.generate()
                r = run.Runner(Spans(), False, w.references())
                w.run_pass(r)
                w.drop_inputs()
                if r.failed:
                    failed.append((name, seed, r.errors))
                refs.setdefault(name, {})[str(seed)] = {
                    k: list(v) for k, v in sorted(r.refs.items())}
                print(name, seed, "failed" if r.failed else "ok",
                      file=sys.stderr, flush=True)
    finally:
        run._stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if failed:
        for f in failed:
            print("error:", *f, file=sys.stderr)
        return 1
    refs = {name: dict(sorted(by_seed.items(), key=lambda kv: int(kv[0])))
            for name, by_seed in sorted(refs.items())}
    with open(run.REFS, "w") as f:
        json.dump(refs, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
