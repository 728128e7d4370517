"""The benchmark's own test, at tiny input sizes.

    python3 perfbench/smoke.py

For every workload it checks that an untraced run prints exactly the
end-to-end metrics of BENCHMARK.json with no failed operation, that a
traced run prints exactly the per-layer metrics, and that a run whose
expected values were deliberately corrupted reports failed
operations.  It also checks that the benchmark exits non-zero without
a result in a directory holding only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def result(*args: str) -> dict:
    code, lines = run(*args)
    if code != 0 or not lines:
        raise AssertionError(f"run {args} exited {code}")
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layer = {m["name"] for m in spec["per_layer"]}
    for w in (x["name"] for x in spec["workloads"]):
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--smoke"]
        r = result(*base, "--trace", "0")
        assert set(r["metrics"]) == e2e, (w, sorted(r["metrics"]))
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, (w, r)
        assert all(v["value"] > 0 for v in r["metrics"].values()), (w, r)
        r = result(*base, "--trace", "1")
        assert set(r["metrics"]) == layer, (w, sorted(set(r["metrics"]) ^ layer))
        assert r["correct"], (w, r)
        r = result(*base, "--trace", "0", "--corrupt-expected")
        assert not r["correct"] and r["failed"] > 0, (w, r)
        print(f"{w}: ok", flush=True)

    bare = os.path.join(HERE, ".work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            shutil.copy(os.path.join(HERE, f), os.path.join(bare, "perfbench"))
    code, lines = run("--workload", "featurize_asof", "--seed", "7",
                      "--seconds", "1", "--trace", "0", "--smoke", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and not any(x.startswith('{"correct"') for x in lines), (code, lines)
    print("bare checkout: exits", code)
    print("smoke: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
