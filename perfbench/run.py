#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run builds graft and the client
with sbt (``perfbench/build.sbt``); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from ``--seed``, sets
up three times, measures for ``--seconds``, checks every op's output and
prints a report followed by one JSON line: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from graftbench import checks, gen, jvm, stats  # noqa: E402

WORKLOADS = ["warehouse", "operators"]
SETUPS = 3          # set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 150


def _same_as_earlier_runs(work, workload, seed, inputs, verdicts):
    """LSH pair sets must not change between runs with one seed: compare
    their digests with the ones an earlier run in this checkout recorded
    over the same inputs (``inputs`` is their tree digest)."""
    path = os.path.join(work, "digests.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    for op, d in verdicts["facts"].get("digests", {}).items():
        k = f"{workload}/{seed}/{inputs[:16]}/{op}"
        if known.setdefault(k, d) != d:
            verdicts["ops"][op] = {"ok": False, "why": "pair set differs from an earlier run"}
    with open(path, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=1,
                    help="measure whole passes until this much time has gone by")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run unwinds, so the JVM it started is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.dirname(HERE)
    work = os.path.join(root, ".bench_build", "perfbench")
    archive = os.path.join(work, "classes.jsa")

    def train(classpath, archive_path):
        d = os.path.join(work, "train")
        shutil.rmtree(d, ignore_errors=True)
        gen.generate("warehouse", 0, os.path.join(d, "in"))
        jvm.run(classpath, d, os.path.join(d, "in"), 0, 0, 1, JVM_TIMEOUT_S, archive_path,
                record=True)
        shutil.rmtree(d, ignore_errors=True)

    try:
        classpath = jvm.build(root, HERE, work, train)
        run_dir = os.path.join(work, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        in_dir = os.path.join(run_dir, "in")

        # set-up, part 1: seeded input generation, once per set-up round;
        # every round must write the same bytes
        gen_s, digests = [], set()
        for _ in range(SETUPS):
            shutil.rmtree(in_dir, ignore_errors=True)
            t, c = time.perf_counter(), time.process_time()
            manifest = gen.generate(args.workload, args.seed, in_dir)
            gen_s.append({"wall_s": time.perf_counter() - t, "cpu_s": time.process_time() - c})
            digests.add(checks.tree_digest(in_dir))
        if len(digests) != 1:
            raise jvm.BenchError("input generation is not deterministic")

        # set-up, part 2 (session, preparation, warm-up) and measurement
        t_jvm = time.perf_counter()
        jvm.run(classpath, run_dir, in_dir, args.seconds, args.trace, SETUPS,
                JVM_TIMEOUT_S, archive)
        t_jvm = time.perf_counter() - t_jvm
        with open(os.path.join(in_dir, "result.json")) as f:
            result = json.load(f)
    except jvm.BenchError as e:
        jvm.fail(str(e))

    t_check = time.perf_counter()
    verdicts = checks.check(args.workload, in_dir, manifest, result)
    t_check = time.perf_counter() - t_check
    _same_as_earlier_runs(work, args.workload, args.seed, digests.pop(), verdicts)
    report = stats.summarize(args.workload, manifest, result, verdicts, gen_s)
    for line in stats.report_lines(args.workload, args.seed, report, args.trace):
        print(line)
    print(f"  harness: generate {sum(g['wall_s'] for g in gen_s):.1f} s, jvm {t_jvm:.1f} s, "
          f"checks {t_check:.1f} s")
    with open(os.path.join(work, f"last-{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    names = stats.PER_LAYER if args.trace else stats.END_TO_END
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {n: {"value": report["metrics"][n], "unit": u} for n, u in names.items()},
    }))


if __name__ == "__main__":
    main()
