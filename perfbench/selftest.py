"""Self-test of the benchmark at a tiny generated scale.

    python3 perfbench/selftest.py

Checks that
- the same seed generates byte-identical inputs (and the same delta batches);
- a clean run prints every end-to-end metric of BENCHMARK.json with its unit;
- a traced run prints every per-layer metric with its unit;
- a deliberately corrupted output is counted as failed, in ``failed``,
  ``correct`` and ``fail_ratio``.
Runs three short benchmark processes, about three minutes in all.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.1"  # generator scale factors x 0.1: sf0.001, e.g. 50 documents


def run_bench(workload: str, trace: int, corrupt: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf-scale", SCALE]
    if corrupt:
        cmd += ["--corrupt", corrupt]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise AssertionError(f"{workload}: exit code {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect_metrics(result: dict, specs: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metrics {sorted(got)} != BENCHMARK.json {sorted(want)}"
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def check_inputs_repeat() -> None:
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]
    import run
    import workloads

    tmp = tempfile.mkdtemp(prefix="perfbench-selftest-", dir=ROOT)
    try:
        for name in run.WORKLOADS:
            a, b = os.path.join(tmp, f"{name}-a"), os.path.join(tmp, f"{name}-b")
            run.generate(name, 7, a, float(SCALE))
            run.generate(name, 7, b, float(SCALE))
            files = sorted(f for f in os.listdir(a) if f.endswith(".parquet"))
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            assert not mismatch and not errors, f"{name}: inputs differ: {mismatch + errors}"
        assert workloads.make_batches(7, 1000, 2, 120) == workloads.make_batches(7, 1000, 2, 120)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_inputs_repeat()
    print("ok: same seed, byte-identical inputs")

    clean = run_bench("tpch", trace=0)
    expect_metrics(clean, spec["end_to_end"])
    assert clean["correct"] and clean["failed"] == 0, clean
    print("ok: tpch prints every end-to-end metric and passes its checks")

    bad = run_bench("curation", trace=1, corrupt="bpe_tokenize")
    expect_metrics(bad, spec["per_layer"])
    assert not bad["correct"] and bad["failed"] == 1, bad
    ratio = bad["metrics"]["fail_ratio"]["value"]
    assert abs(ratio - 1 / bad["attempted"]) < 1e-12, ratio
    print("ok: curation traced run prints every per-layer metric; corruption counted")

    bad = run_bench("ingest", trace=0, corrupt="base")
    assert not bad["correct"] and bad["failed"] >= 1, bad
    print("ok: a corrupted ingest base is counted as failed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
