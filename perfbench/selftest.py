#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny corpus.

Run from the root of the repository:

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs the benchmark end to end,
untraced and traced, at the tiny scale, and checks that the result line holds
exactly the metrics BENCHMARK.json names, each with its unit. Then it runs
once with a deliberately altered reference digest and checks that the failure
is reported: correct is false, failed is at least 1, and the exit code is not
0. Exits 0 when every check holds.
"""
import json
import subprocess
import sys


def run(workload, trace, corrupt=0):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "4", "--trace", str(trace), "--scale", "tiny",
           "--corrupt-reference", str(corrupt)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    if result is None:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result


def main():
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            rc, r = run(w, trace)
            tag = f"{w} --trace {trace}"
            check(rc == 0 and r is not None and r["correct"], f"{tag}: exit 0, correct")
            if r is None:
                continue
            check(isinstance(r["attempted"], int) and r["attempted"] >= 1
                  and r["failed"] == 0, f"{tag}: attempted {r['attempted']}, failed {r['failed']}")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = r["metrics"]
            check(set(got) == set(want),
                  f"{tag}: metric names (missing {sorted(set(want) - set(got))}, "
                  f"extra {sorted(set(got) - set(want))})")
            for name, unit in want.items():
                m = got.get(name, {})
                ok = m.get("unit") == unit and (
                    isinstance(m.get("value"), (int, float)) or
                    (m.get("value") is None and m.get("reason")))
                check(ok, f"{tag}: {name} = {m.get('value')} {m.get('unit')}")

    rc, r = run("mixed", 0, corrupt=1)
    check(rc != 0 and r is not None and not r["correct"] and r["failed"] >= 1,
          f"altered reference digest is reported: exit {rc}, "
          f"correct {r and r['correct']}, failed {r and r['failed']}")

    print(f"{len(problems)} problem(s)")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
