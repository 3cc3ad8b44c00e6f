"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Run from the root of a checkout.  For every workload in
``BENCHMARK.json`` it makes one untraced and one traced run on tiny
inputs and asserts that every declared metric is printed with its unit.
It then asserts that the correctness gate trips, with a non-zero exit
and no result, when the oracle's input is corrupted, and that the
benchmark fails the same way in a directory holding only
``BENCHMARK.json`` and the benchmark's own files.  Exits non-zero on
the first failed assertion.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def run(args: list[str], cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run(
        RUN + args, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300,
    )
    return p.returncode, p.stdout


def result(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"smoke: FAILED: {what}")
    print(f"smoke: ok: {what}")


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base = ["--seed", "1", "--seconds", "1", "--size", "tiny"]
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, declared in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            code, out = run(["--workload", wl, "--trace", trace] + base)
            res = result(out)
            check(code == 0 and res is not None, f"{wl} trace={trace} exits 0 with a result")
            check(
                set(res) == {"correct", "attempted", "failed", "metrics"}
                and res["correct"] is True and res["attempted"] >= 1,
                f"{wl} trace={trace} result shape",
            )
            for m in declared:
                got = res["metrics"].get(m["name"])
                check(
                    got is not None and got["unit"] == m["unit"]
                    and isinstance(got["value"], (int, float)),
                    f"{wl} trace={trace} prints {m['name']} [{m['unit']}]",
                )

    wl = bench["workloads"][0]["name"]
    code, out = run(["--workload", wl, "--trace", "0", "--corrupt-oracle"] + base)
    check(code != 0 and result(out) is None, f"{wl} gate trips on a corrupted oracle input")

    bare = os.path.join(ROOT, ".bench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, out = run(["--workload", wl, "--trace", "0", "--seed", "1", "--seconds", "1"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(code != 0 and result(out) is None, "fails without a result when the engine is absent")


if __name__ == "__main__":
    main()
