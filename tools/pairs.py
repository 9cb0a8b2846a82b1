"""Paired perfbench runs: a parent checkout against a change checkout.

    python3 tools/pairs.py --parent ../parent --change . --workload tile_join \
        --seeds 1801-1810 --seconds 12 --trace 0 --log pairs.jsonl
    python3 tools/pairs.py --report pairs.jsonl       # summarise a log again

For each seed the two checkouts run `python3 perfbench/run.py` one after the
other, the order alternating from seed to seed so that drift on a shared host
favours neither side. Each run is appended to the log as one JSON line, so a
cut session keeps what it measured. The report gives, per metric of
BENCHMARK.json's list for the trace mode: the parent's median and quartiles,
the change's median, the median change in percent and in how many pairs the
change was better. It lists each run's CPU steal (the time the hypervisor
took, from the run record's `host_before`/`host_after`) and flags the runs
that lost more than 1 s to it, to be run again. Nothing under perfbench/ is
touched; runs write only where perfbench/run.py writes.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

STEAL_LIMIT_S = 1.0


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, trace):
    """One perfbench run: (metric -> value, steal seconds or None, ok)."""
    before = set(glob.glob(os.path.join(checkout, ".bench_out", "*.json")))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        return {}, None, False
    result = json.loads(lines[-1])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    steal = None
    new = sorted(set(glob.glob(os.path.join(checkout, ".bench_out", "*.json"))) - before,
                 key=os.path.getmtime)
    if new:
        with open(new[-1]) as f:
            record = json.load(f)
        a = record.get("host_before", {}).get("cpu_steal_s")
        b = record.get("host_after", {}).get("cpu_steal_s")
        if a is not None and b is not None:
            steal = b - a
    return metrics, steal, result["correct"] and result["failed"] == 0


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(runs, spec):
    by_seed = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [(s, p["parent"], p["change"]) for s, p in sorted(by_seed.items())
             if "parent" in p and "change" in p]
    print(f"{len(pairs)} pairs")
    for s, a, b in pairs:
        flags = [f"{side} steal {r['steal_s']:.1f} s: run again" for side, r in
                 (("parent", a), ("change", b))
                 if r["steal_s"] is not None and r["steal_s"] > STEAL_LIMIT_S]
        flags += [f"{side} failed" for side, r in (("parent", a), ("change", b)) if not r["ok"]]
        steals = "/".join("-" if r["steal_s"] is None else f"{r['steal_s']:.2f}" for r in (a, b))
        print(f"  seed {s}: steal parent/change {steals} s  {'; '.join(flags)}")
    mode = "per_layer" if runs and runs[0]["trace"] else "end_to_end"
    print(f"{'metric':32} {'parent med':>12} {'q1':>12} {'q3':>12} {'change med':>12} "
          f"{'delta':>8} {'wins':>7}")
    for m in spec[mode]:
        name = m["name"]
        got = [(a["metrics"][name], b["metrics"][name]) for _, a, b in pairs
               if name in a["metrics"] and name in b["metrics"]]
        if not got:
            continue
        ps, cs = [p for p, _ in got], [c for _, c in got]
        pm, cm = statistics.median(ps), statistics.median(cs)
        q1, q3 = quartiles(ps)
        better = (lambda p, c: c > p) if m["better"] == "higher" else (lambda p, c: c < p)
        wins = sum(better(p, c) for p, c in got)
        delta = f"{100 * (cm - pm) / pm:+.1f}%" if pm else "-"
        print(f"{name:32} {pm:12.4g} {q1:12.4g} {q3:12.4g} {cm:12.4g} {delta:>8} "
              f"{wins:>3}/{len(got):<3}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", default="tile_join")
    ap.add_argument("--seeds", help="e.g. 1801-1810 or 5,9,12")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="JSON-lines file each run is appended to")
    ap.add_argument("--report", help="summarise this log and run nothing")
    args = ap.parse_args()

    if args.report:
        with open(args.report) as f:
            runs = [json.loads(line) for line in f if line.strip()]
        spec_dir = runs[0]["change_dir"] if runs else "."
    else:
        if not (args.parent and args.change and args.seeds):
            ap.error("--parent, --change and --seeds are required unless --report is given")
        runs = []
        spec_dir = args.change
        sides = [("parent", os.path.abspath(args.parent)), ("change", os.path.abspath(args.change))]
        for i, seed in enumerate(seeds_of(args.seeds)):
            for side, checkout in (sides if i % 2 == 0 else sides[::-1]):
                metrics, steal, ok = run_one(checkout, args.workload, seed, args.seconds,
                                             args.trace)
                run = {"seed": seed, "side": side, "workload": args.workload,
                       "trace": args.trace, "metrics": metrics, "steal_s": steal, "ok": ok,
                       "change_dir": os.path.abspath(args.change)}
                runs.append(run)
                print(f"seed {seed} {side}: {'ok' if ok else 'FAILED'}", flush=True)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(json.dumps(run) + "\n")
    with open(os.path.join(spec_dir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    report(runs, spec)


if __name__ == "__main__":
    main()
