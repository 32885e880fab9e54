#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload at the tiny size
(sf0.001, a few pages, three queries), untraced and traced. It asserts
that the run passes its correctness check, prints every metric that
BENCHMARK.json names with that unit, writes spans when traced, and that
staging is a pure function of the seed.

    python3 perfbench/smoke_test.py
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import run

BENCH = run.BENCH


def bench(workload, trace):
    out = subprocess.run([sys.executable, str(run.HERE / "run.py"), "--workload", workload,
                          "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                         cwd=run.REPO, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}"
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    assert last["correct"] is True, out.stdout
    assert last["attempted"] >= 1 and last["failed"] == 0, last
    spec = BENCH["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in spec}, set(last["metrics"]) ^ {m["name"] for m in spec}
    for m in spec:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m["name"], got)
        assert isinstance(got["value"], (int, float)), (m["name"], got)
        if not trace:
            assert got["value"] > 0, (m["name"], got)
    report = json.loads((run.WORK / "run" / "out" / "report.json").read_text())
    if trace:
        spans = (run.WORK / "run" / "out" / "spans.jsonl").read_text().splitlines()
        assert spans and all({"trace", "id", "parent", "name", "start_ms", "end_ms"} <= set(json.loads(s))
                              for s in spans[:50])
    return report["input_sha256"]


def staging_is_seeded():
    with tempfile.TemporaryDirectory(dir=run.WORK) as tmp:
        hashes = []
        for i, seed in enumerate((7, 7, 8)):
            d = Path(tmp) / str(i)
            d.mkdir()
            run.stage("etl_hourly", run.SPEC["sizes"]["tiny"], seed, d)
            hashes.append(run.digest(run.files(d), d))
        a, b, c = hashes
        assert a == b, "same seed staged different bytes"
        assert a != c, "different seeds staged the same bytes"


def main():
    run.WORK.mkdir(parents=True, exist_ok=True)
    staging_is_seeded()
    print("ok staging is a function of the seed")
    for w in sorted(run.SPEC["workloads"]):
        h0 = bench(w, 0)
        h1 = bench(w, 1)
        assert h0 == h1, f"{w}: same seed, different inputs"
        print(f"ok {w}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
