"""Self-test of the benchmark: a tiny-size run of every workload, untraced and
traced, asserting that every metric BENCHMARK.json names is printed with its
unit and that every correctness check passes. Also asserts that a directory
holding only the benchmark (no graft sources) fails without a result.

    python3 perfbench/selftest.py        # from the root of a graft checkout
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=900)


def check_run(spec, workload, trace):
    p = run(ROOT, workload, trace)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}"
    lines = p.stdout.splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        assert any(l.startswith(f"metric {workload}.{m['name']} = ") and l.endswith(" " + m["unit"])
                   for l in lines), f"{m['name']} not printed with its unit"
    checks = [l for l in lines if l.startswith("check ")]
    assert checks and all(": ok (" in l for l in checks), checks
    if not trace:
        for m in wanted:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    print(f"ok  {workload} trace={trace}: {len(wanted)} metrics, {len(checks)} checks")


def check_bare_dir(workload):
    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, workload, 0)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok  a directory without graft sources fails without a result")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_run(spec, w["name"], trace)
    check_bare_dir(spec["workloads"][0]["name"])


if __name__ == "__main__":
    main()
