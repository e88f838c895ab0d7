#!/usr/bin/env python3
"""Self-tests of the benchmark itself. Run from the root of a checkout:

    python3 benchmark/selftest.py

1. The same seed generates identical inputs (byte-identical NYT feed files,
   a row-identical ten-table corpus), another seed other ones.
2. Every workload passes a tiny-size smoke run, untraced and traced.
3. Every emitted record names exactly the metrics BENCHMARK.json declares,
   with allowed name characters and a unit on every metric.

Exits 1 on the first failure.
"""
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check(ok, what):
    if not ok:
        print(f"FAIL {what}")
        sys.exit(1)
    print(f"ok   {what}")


def generate(cp, kind, seed):
    """Content hashes of one generator's files, as the generator prints them
    (its output directory is removed with the run)."""
    rc, lines = run.jvm(cp, ["--gen", kind, "--seed", str(seed), "--tiny"], run.RUN_LIMIT_S)
    check(rc == 0, f"generator {kind} seed {seed} ran")
    return [l for l in lines if l.startswith("hash ")]


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    cp = run.build()

    for kind in ["nyt", "corpus"]:
        a, b, c = generate(cp, kind, 7), generate(cp, kind, 7), generate(cp, kind, 8)
        check(a and a == b, f"{kind}: same seed, identical inputs ({len(a)} files)")
        check(a != c, f"{kind}: another seed, other inputs")

    for w in run.WORKLOADS:
        for trace, want in [(0, e2e), (1, layers)]:
            lines, rec = run.run_one(cp, w, 3, 2, trace, tiny=True)
            check(rec["correct"] and rec["failed"] == 0 and rec["attempted"] >= 1,
                  f"{w} trace={trace}: smoke run correct ({rec['attempted']} operations)")
            m = rec["metrics"]
            check(set(m) == set(want), f"{w} trace={trace}: metric names as declared")
            check(all(NAME.match(k) and UNIT.match(v["unit"]) and v["unit"] == want[k]
                      and isinstance(v["value"], (int, float)) for k, v in m.items()),
                  f"{w} trace={trace}: names, units and values well-formed")


if __name__ == "__main__":
    main()
