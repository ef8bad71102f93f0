#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload for a few seconds on a small corpus, untraced and
traced, and checks that each run succeeds, prints a result line of the
shape BENCHMARK.json promises (every end-to-end metric untraced, every
per-layer metric traced, each with its unit), writes its spans when traced,
and that one seed always generates the same data while another does not.
"""
import json
import re
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DOCS = "300"
SECONDS = "3"


def run(workload, seed, trace):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", SECONDS, "--trace", str(trace), "--docs", DOCS]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    where = f"{workload} seed {seed} trace {trace}"
    assert r.returncode == 0, f"{where}: exit {r.returncode}\n{r.stderr[-4000:]}"
    result = json.loads(r.stdout.strip().splitlines()[-1])
    fp = re.search(r"data fingerprint ([0-9a-f]+)", r.stderr)
    assert fp, f"{where}: no data fingerprint on stderr"
    return where, result, fp.group(1)


def check(where, result, expected):
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {sorted(result)}"
    assert result["correct"] is True and result["failed"] == 0, f"{where}: {result}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, f"{where}: {result}"
    got = result["metrics"]
    assert set(got) == set(expected), f"{where}: metrics {sorted(set(got) ^ set(expected))} differ"
    for name, unit in expected.items():
        m = got[name]
        assert m["unit"] == unit, f"{where}: {name} unit {m['unit']} != {unit}"
        assert isinstance(m["value"], (int, float)), f"{where}: {name} value {m['value']}"


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    fingerprints = {}
    for w in spec["workloads"]:
        for trace, expected in ((0, end_to_end), (1, per_layer)):
            where, result, fp = run(w["name"], 7, trace)
            check(where, result, expected)
            fingerprints[where] = fp
            if trace:
                spans = BENCH / ".work" / "traces" / f"spans-{w['name']}-7.jsonl"
                assert spans.is_file() and spans.stat().st_size > 0, f"{where}: no spans at {spans}"
            print(f"ok  {where}", flush=True)
    assert len(set(fingerprints.values())) == 1, f"seed 7 fingerprints differ: {fingerprints}"
    _, _, other = run(spec["workloads"][0]["name"], 8, 0)
    assert other not in fingerprints.values(), "seeds 7 and 8 generated the same data"
    print("ok  seed 7 reproduces its data fingerprint; seed 8 differs")


if __name__ == "__main__":
    main()
