"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py [workload ...]

Checks, for each workload (default: all three):
  1. an untraced run prints every end-to-end metric of BENCHMARK.json with
     its unit, and passes its output checks;
  2. a traced run prints every per-layer metric with its unit and writes a
     spans file that parses, whose parent links all resolve, and whose
     children lie inside their parents and share their request id;
  3. a run with a planted wrong expected answer reports failed > 0.
Also checks that the input generators are deterministic: the same seed gives
the same digests, another seed different ones. Exits 1 on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
from run import WORKLOADS  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def fail(msg):
    print(f"selftest: FAIL {msg}")
    sys.exit(1)


def bench(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "60", "--trace", str(trace), "--scale", "tiny", *extra]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                         cwd=ROOT)
    if out.returncode != 0:
        fail(f"{' '.join(cmd[1:])} exited {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(workload, result, specs):
    for m in specs:
        got = result["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
            fail(f"{workload}: metric {m['name']} missing or without unit {m['unit']}: {got}")
    extra = set(result["metrics"]) - {m["name"] for m in specs}
    if extra:
        fail(f"{workload}: unexpected metrics {sorted(extra)}")


def check_spans(workload):
    path = os.path.join(build.BUILD_DIR, "trace", f"{workload}-seed7.spans.json")
    spans = json.load(open(path))["spans"]
    if not spans:
        fail(f"{workload}: empty spans file")
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] == 0:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            fail(f"{workload}: span {s['id']} ({s['name']}) has a dangling parent {s['parent']}")
        if p["request"] != s["request"]:
            fail(f"{workload}: span {s['id']} request differs from its parent's")
        if s["start_ms"] < p["start_ms"] - 1e-3 or s["end_ms"] > p["end_ms"] + 1e-3:
            fail(f"{workload}: span {s['id']} ({s['name']}) lies outside its parent {p['name']}")
    print(f"selftest: {workload}: {len(spans)} spans, parent links intact")


def check_determinism():
    cp = build.build(quiet=True)
    def digests(seed):
        return subprocess.run(["java", "-cp", os.pathsep.join(cp), "perfbench.Gen", str(seed),
                               "tiny"], stdout=subprocess.PIPE, text=True, check=True).stdout
    a, b, c = digests(7), digests(7), digests(8)
    if a != b:
        fail(f"generator not deterministic:\n{a}\n{b}")
    if any(x == y for x, y in zip(a.splitlines(), c.splitlines())):
        fail(f"seeds 7 and 8 gave an identical input digest:\n{a}\n{c}")
    print("selftest: generators deterministic per seed")


def main(workloads):
    check_determinism()
    for w in workloads:
        r = bench(w, 0)
        expect_metrics(w, r, SPEC["end_to_end"])
        if not r["correct"] or r["failed"] != 0:
            fail(f"{w}: output checks failed on a correct program: {r}")
        r = bench(w, 1)
        expect_metrics(w, r, SPEC["per_layer"])
        check_spans(w)
        r = bench(w, 0, "--plant-wrong")
        if r["failed"] == 0 or r["correct"]:
            fail(f"{w}: a planted wrong answer was not detected: {r}")
        print(f"selftest: {w}: metrics, trace and planted-wrong detection ok")
    print("selftest: PASS")


if __name__ == "__main__":
    main(sys.argv[1:] or list(WORKLOADS))
