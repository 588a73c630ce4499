"""MinHash-LSH growth trend WITH in-data candidate attribution (VERDICT
r8 item 2, mirroring edit_trend.py): time `dedup_minhash_lsh` and
`near_dedup_curation` at each generated tier AND record the
candidate/verified pair counts from `minhash_lsh_candidate_stats`, so
the superlinear last-decade wall ratios observed at sf100 in round 8
(11.8x / 14.6x on the 10x into sf100) are attributable to duplicate-pair
density in the synthetic corpus vs a plan regression. Both queries use
the same LSH parameters (tau=0.8, 32 hashes, 16 bands — the default
bands=None resolves to 16), so one stats pass attributes both.

Each tier runs in a fresh JVM (same rationale as scale_trend.py: a
session at the tail of many queries overstates the biggest tier).

Usage: python scripts/lsh_trend.py [--tiers sf0.01,sf0.1,...] > SCALE_TREND_R9_LSH.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

import evidence_lock  # noqa: E402  (scripts/ is sys.path[0] when run as a file)
TIERS = [
    ("sf0.01", os.path.join(REPO, ".scaledata", "sf0.01"), 1),
    ("sf0.1", os.path.join(REPO, ".scaledata", "sf0.1"), 10),
    ("sf1", os.path.join(REPO, ".scaledata", "sf1"), 100),
    ("sf10", os.path.join(REPO, ".scaledata", "sf10"), 1000),
    ("sf100", os.path.join(REPO, ".scaledata", "sf100"), 10000),
]
LSH_KWARGS = dict(threshold=0.8, n_hashes=32, bands=16)


def run_tier(sf_dir: str) -> dict:
    from epic_pandas_spark.extensions.dedup import minhash_lsh_candidate_stats
    from epic_pandas_spark.plans import registry
    from epic_pandas_spark.session import get_spark, load_table

    spark = get_spark(app_name="lsh_trend")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()  # warm footers

    out: dict = {}
    t0 = time.monotonic()
    out["n_lsh_pairs"] = registry.REGISTRY["dedup_minhash_lsh"][0](spark, sf_dir).count()
    out["wall_lsh_sec"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    [row] = registry.REGISTRY["near_dedup_curation"][0](spark, sf_dir).collect()
    out["wall_curation_sec"] = round(time.monotonic() - t0, 3)
    out["n_surviving"] = row["n_surviving"]
    out["n_clusters"] = row["n_clusters"]

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.monotonic()
    stats = minhash_lsh_candidate_stats(docs, "text", "doc_id", **LSH_KWARGS)
    out["wall_stats_sec"] = round(time.monotonic() - t0, 3)
    out.update(stats)
    return out


def _last_json(stdout: str) -> dict:
    """Parse the child's result line: the JVM can print warnings to stdout
    (e.g. incubator-module notices under a larger heap), so take the LAST
    line that parses as a JSON object."""
    for line in reversed(stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except ValueError:
                continue
    raise ValueError(f"no JSON line in child stdout: {stdout[-500:]!r}")


def main() -> None:
    evidence_lock.acquire("lsh_trend")
    if len(sys.argv) > 2 and sys.argv[1] == "--tier":
        print(json.dumps(run_tier(sys.argv[2])))
        return
    only = None
    if len(sys.argv) > 2 and sys.argv[1] == "--tiers":
        only = set(sys.argv[2].split(","))
    tiers: dict[str, dict] = {}
    for label, sf_dir, mult in TIERS:
        if only is not None and label not in only:
            continue
        if not os.path.isdir(sf_dir):
            print(f"skip {label}: {sf_dir} missing", file=sys.stderr)
            continue
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--tier", sf_dir],
            capture_output=True, text=True, check=True,
        )
        tiers[label] = {"rows_multiplier": mult, **_last_json(proc.stdout)}
        print(f"{label}: {tiers[label]}", file=sys.stderr)
    base = next(iter(tiers.values()), None)
    base_label = next(iter(tiers), None)
    report = {
        "queries": ["dedup_minhash_lsh", "near_dedup_curation"],
        "lsh_kwargs": LSH_KWARGS,
        "tiers": tiers,
        "note": (
            "wall ratios must track the candidate-pair ratio, not the row "
            "ratio (in-data attribution, VERDICT r8 item 2): the synthetic "
            "corpus injects duplicate clusters whose pair count grows "
            "faster than rows, so a superlinear wall decade with a "
            "matching candidate decade is corpus density, not a plan "
            "regression. n_candidate_pairs is the distinct banded pair "
            "set the verification stage pays for; n_verified_pairs the "
            "exact-Jaccard >= tau survivors."
        ),
    }
    if base:
        for label, t in tiers.items():
            if label == base_label:
                continue
            t[f"wall_lsh_ratio_vs_{base_label}"] = round(
                t["wall_lsh_sec"] / base["wall_lsh_sec"], 2
            )
            t[f"wall_curation_ratio_vs_{base_label}"] = round(
                t["wall_curation_sec"] / base["wall_curation_sec"], 2
            )
            if base["n_candidate_pairs"]:
                t[f"candidate_ratio_vs_{base_label}"] = round(
                    t["n_candidate_pairs"] / base["n_candidate_pairs"], 2
                )
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
