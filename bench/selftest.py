#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 bench/selftest.py

1. A short run of each workload passes its checks and reports every
   end-to-end metric of BENCHMARK.json, each with its unit.
2. A short traced run reports every per-layer metric, each with its unit.
3. A corrupted output is counted as failed and kept out of the timings:
   a wrong recorded fingerprint (query_sweep) and a dropped url
   (stream_ingest).
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
SECONDS = 2


def run(workload, trace=0, corrupt=None, seed=7):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(SECONDS), "--trace", str(trace)]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, f"{cmd} exited {r.returncode}:\n{r.stderr[-3000:]}"
    result = json.loads(r.stdout.strip().splitlines()[-1])
    context = {}
    for line in r.stderr.splitlines():
        if line.startswith('{"context"'):
            context = json.loads(line)["context"]
    return result, context


def expect_metrics(result, specs):
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}, " \
                        f"units {[(k, got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]]}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{k} is not a number"


def test_short_runs():
    for w in SPEC["workloads"]:
        result, _ = run(w["name"])
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
        expect_metrics(result, SPEC["end_to_end"])
        for k, v in result["metrics"].items():
            assert v["value"] > 0, f"{w['name']}: {k} is {v['value']}"


def test_traced_run():
    result, context = run("batch_extract", trace=1)
    assert result["correct"], result
    expect_metrics(result, SPEC["per_layer"])


def test_wrong_fingerprint_fails_untimed():
    result, context = run("query_sweep", corrupt="fingerprint")
    queries = result["attempted"] - 1  # one attempt is the kernel golden check
    sweeps = queries // 6              # timed sweeps of six queries
    assert not result["correct"]
    assert result["failed"] == sweeps, result  # the corrupted query fails in every sweep
    assert context["query_sweep.timed_ok"]["value"] == 5 * sweeps, context


def test_dropped_url_fails_untimed():
    result, context = run("stream_ingest", corrupt="drop-url")
    files = result["attempted"] - 1
    assert not result["correct"]
    assert result["failed"] == 1, result
    assert context["stream_ingest.latency_samples"]["value"] == files - 1, context


if __name__ == "__main__":
    tests = [v for k, v in sorted(globals().items()) if k.startswith("test_")]
    failed = 0
    for t in tests:
        try:
            t()
            print(f"PASS {t.__name__}")
        except AssertionError as e:
            failed += 1
            print(f"FAIL {t.__name__}: {e}")
    sys.exit(1 if failed else 0)
