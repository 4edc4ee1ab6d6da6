"""Repeat the benchmark over seeds and check that its figures are steady.

Run from the root of the repository::

    python3 perfbench/repeat.py --workload chain_batch --seeds 1-10 --out a.jsonl
    python3 perfbench/repeat.py --workload chain_batch --seeds 11-20 --out b.jsonl
    python3 perfbench/repeat.py --compare a.jsonl b.jsonl

The first form runs ``run.py`` once per seed with ``BENCHMARK.json``'s
``run_seconds``, appends each run's JSON result to ``--out`` and prints,
for every end-to-end metric, the median, the quartiles and their distance
as a share of the median. ``--compare`` checks that the second set's
median is no worse than the first's by more than each metric's bound."""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def summarise(runs: list[dict]) -> None:
    bench = _bench()
    for w in sorted({r["workload"] for r in runs}):
        mine = [r for r in runs if r["workload"] == w]
        print(f"{w}: {len(mine)} runs, wall per run median {stats.median([r['wall_s'] for r in mine]):.1f} s")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in mine]
            q1, q2, q3 = stats.quartiles(vals)
            s = stats.spread(vals)
            flag = "" if m["name"] == "setup_s" or s <= m["bound"] / 3 else "  SPREAD > bound/3"
            print(f"  {m['name']:<16} median {q2:<12.6g} q1 {q1:<12.6g} q3 {q3:<12.6g} spread {s:.4f} (bound {m['bound']}){flag}")


def compare(first: list[dict], second: list[dict]) -> bool:
    ok = True
    for w in sorted({r["workload"] for r in first}):
        for m in _bench()["end_to_end"]:
            a = [r["metrics"][m["name"]]["value"] for r in first if r["workload"] == w]
            b = [r["metrics"][m["name"]]["value"] for r in second if r["workload"] == w]
            agreed = stats.agree(a, b, m["better"], m["bound"])
            ok &= agreed
            worse = stats.worse_by(stats.median(a), stats.median(b), m["better"])
            print(f"{w} {m['name']:<16} {stats.median(a):.6g} -> {stats.median(b):.6g} worse by {worse:+.4f} (bound {m['bound']}) {'ok' if agreed else 'DISAGREE'}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar="JSONL")
    args = ap.parse_args()
    if args.compare:
        return 0 if compare(_load(args.compare[0]), _load(args.compare[1])) else 1
    if not (args.workload and args.out):
        ap.error("--workload and --out are required unless --compare is given")
    lo, hi = (int(x) for x in args.seeds.split("-"))
    for seed in range(lo, hi + 1):
        t = time.monotonic()
        cmd = _bench()["command"] + [
            "--workload", args.workload, "--seed", str(seed), "--seconds", str(_bench()["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, check=False)
        if proc.returncode != 0:
            print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        ops = [json.loads(x.split(" ", 2)[2]) for x in lines if x.startswith("operation seconds ")]
        result.update(workload=args.workload, seed=seed, wall_s=time.monotonic() - t, op_s=ops[0] if ops else None)
        with open(args.out, "a") as fh:
            fh.write(json.dumps(result) + "\n")
        print(f"seed {seed}: {time.monotonic() - t:.1f} s", flush=True)
    summarise(_load(args.out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
