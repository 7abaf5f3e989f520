#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001, one pass per workload.

Usage (from the repository root): python3 pipebench/selftest.py [base dir]
(default: the sf0.001 tables under ~/testdata)

Runs every workload of workloads.json once, traced, on inputs derived
from the sf0.001 tables, and checks that

- every end-to-end and per-layer metric of BENCHMARK.json prints, by
  name, with its unit;
- every op list resolves against graft.SparkEntry.ops and every op runs
  and passes its output check;
- the input generator is deterministic for a seed and varies with it;
- the spans nest: one run id, op spans inside their pass span, pass
  spans inside the workload span, every job and batch under a span of
  the run.

Exits 0 when all checks pass.
"""
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def check_generator(base, failures):
    tmp = os.path.join(run.WORK, "selftest-gen")
    digests = []
    for seed in (7, 7, 8):
        gen.make_dir(base, tmp, seed, "night-01")
        digests.append(gen.digest(tmp))
    shutil.rmtree(tmp, ignore_errors=True)
    if digests[0] != digests[1]:
        failures.append("generator: one seed gave two different inputs")
    if digests[0] == digests[2]:
        failures.append("generator: two seeds gave the same inputs")


def check_metrics(name, got, declared, failures):
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            failures.append(f"{name}: metric {m['name']} missing")
        elif v["unit"] != m["unit"] or not isinstance(v["value"], (int, float)):
            failures.append(f"{name}: metric {m['name']} printed as {v}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        failures.append(f"{name}: undeclared metrics {sorted(extra)}")


def check_spans(name, path, ops, failures):
    spans = [json.loads(l) for l in open(path) if l.strip()]
    by_id = {s["id"]: s for s in spans}
    if len({s["run"] for s in spans}) != 1:
        failures.append(f"{name}: spans carry more than one run id")
    roots = [s for s in spans if s["kind"] == "workload"]
    if len(roots) != 1 or roots[0]["parent"] != -1:
        failures.append(f"{name}: expected one workload span at the root")
        return
    want_parent = {"pass": {"workload"}, "op": {"pass"},
                   "job": {"op", "pass", "workload"},
                   "batch": {"op", "pass", "workload"}}
    for s in spans:
        if s["kind"] == "workload":
            continue
        p = by_id.get(s["parent"])
        if p is None or p["kind"] not in want_parent[s["kind"]]:
            failures.append(f"{name}: span {s['id']} ({s['kind']}) has "
                            f"parent {p and p['kind']}")
            continue
        if s["kind"] in ("pass", "op") and not (
                p["start_ms"] <= s["start_ms"] <= s["end_ms"] <= p["end_ms"]):
            failures.append(f"{name}: {s['kind']} span {s['name']} is not "
                            f"inside its {p['kind']} span")
    called = [s["name"] for s in spans if s["kind"] == "op"]
    if called != ops:
        failures.append(f"{name}: op spans {called} differ from the op list")


def main(argv):
    base = argv[0] if argv else os.path.expanduser("~/testdata/sf0.001")
    failures = []
    check_generator(base, failures)
    for name in run.SPEC["workloads"]:
        try:
            r = run.run(name, 1, BENCH["run_seconds"], 1, base=base, passes=1)
        except Exception as e:  # a crash is a failure
            failures.append(f"{name}: run failed: {e}")
            continue
        failures += [f"{name}: {p}" for p in r["problems"]]
        check_metrics(name, run.report(r, 0, []), BENCH["end_to_end"], failures)
        check_metrics(name, run.report(r, 1, []), BENCH["per_layer"], failures)
        check_spans(name, os.path.join(run.WORK, name, "spans.jsonl"),
                    run.SPEC["workloads"][name]["ops"], failures)
        print(f"{name}: {r['attempted']} calls, metrics "
              f"{json.dumps(r['metrics'])}", flush=True)
    for f in failures:
        print(f"FAIL {f}")
    print("selftest: " + ("ok" if not failures else f"{len(failures)} failures"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
