"""Self-test of the benchmark at tiny ("smoke") input sizes.

    python3 perfbench/selftest.py [workload ...]

For each workload: an untraced and a traced run must print, as their last
line, exactly the keys correct/attempted/failed/metrics, with every metric
BENCHMARK.json names (end-to-end resp. per-layer) present, numeric and in
its declared unit; a run against a deliberately corrupted reference must
report failed > 0. Finally, a copy holding only BENCHMARK.json and the
benchmark's own directories must exit non-zero without a result line.
Takes a few minutes; everything it writes stays under .perfbench_work/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 300


def _run(args: list[str], cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=TIMEOUT_S,
    )
    return p.returncode, p.stdout


def _result(out: str) -> dict:
    lines = out.strip().splitlines()
    if not lines:
        raise AssertionError("no output")
    return json.loads(lines[-1])


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


def check_workload(spec: dict, name: str) -> None:
    base = ["--workload", name, "--seed", "4000000007", "--seconds", "1", "--size", "smoke"]
    for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
        code, out = _run(base + ["--trace", str(trace)])
        _expect(code == 0, f"{name} trace={trace}: exit {code}")
        res = _result(out)
        _expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{name}: keys {sorted(res)}")
        _expect(res["correct"] is True and res["failed"] == 0, f"{name} trace={trace}: {res}")
        _expect(isinstance(res["attempted"], int) and res["attempted"] >= 1, f"{name}: attempted")
        for m in declared:
            got = res["metrics"].get(m["name"])
            _expect(got is not None, f"{name} trace={trace}: metric {m['name']} missing")
            _expect(got["unit"] == m["unit"], f"{name}: {m['name']} unit {got['unit']} != {m['unit']}")
            _expect(isinstance(got["value"], (int, float)), f"{name}: {m['name']} not a number")
            if trace == 0:
                _expect(got["value"] > 0, f"{name}: end-to-end {m['name']} is {got['value']}")
        print(f"ok  {name} trace={trace}: {len(declared)} metrics")
    code, out = _run(base + ["--trace", "0", "--corrupt-reference"])
    res = _result(out)
    _expect(code == 0 and res["failed"] > 0 and res["correct"] is False, f"{name} corrupt: {res}")
    print(f"ok  {name} corrupted reference: failed_ratio {res['failed'] / res['attempted']:.2f}")


def check_bare_copy(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p), ignore=shutil.ignore_patterns("__pycache__"))
    code, out = _run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    _expect(code != 0 and not out.strip(), f"bare copy: exit {code}, stdout {out!r}")
    print(f"ok  bare copy refused with exit {code}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or [w["name"] for w in spec["workloads"]]
    for name in names:
        check_workload(spec, name)
    check_bare_copy(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
