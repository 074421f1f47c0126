#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. The seeded generator: one seed writes byte-identical inputs twice,
   and two seeds write different inputs.
2. A tiny-size run of every workload, untraced and traced: each exits 0
   with `correct` true, the untraced result carries every end-to-end
   metric of BENCHMARK.json with its unit, and the traced result every
   per-layer metric.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def generated(seed, work):
    d = tempfile.mkdtemp(prefix=f"gen-{seed}-", dir=work)
    subprocess.run(RUN + ["--workload", "jmx_poll", "--seed", str(seed), "--seconds", "1",
                          "--gen-only", d], check=True, stdout=subprocess.DEVNULL)
    return digest(d)


def result(workload, trace):
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "3", "--seconds", "2",
                              "--trace", str(trace), "--scale", "tiny"],
                       stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    assert p.returncode == 0 and lines, f"{workload} trace={trace}: exit {p.returncode}\n{p.stdout}"
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".bench_build")
    os.makedirs(work, exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=work)
    try:
        a, b, c = generated(11, work), generated(11, work), generated(12, work)
        assert a == b, "one seed generated different inputs"
        assert a != c, "two seeds generated the same inputs"
        print("ok generator: seed 11 twice identical, seed 12 differs", flush=True)
    finally:
        shutil.rmtree(work)

    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = result(w["name"], trace)
            assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics {sorted(set(got) ^ set(want))}"
            assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, "
                  f"{r['attempted']} operations checked", flush=True)


if __name__ == "__main__":
    main()
