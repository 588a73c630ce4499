"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed end-to-end including the action: a write to Spark's
built-in `noop` sink, which materializes EVERY output column without
collecting to the driver. A plain `df.count()` would let Catalyst prune
projection-only queries down to a parquet row count (e.g. the regex/CASE
chains of q_lang_id / q_pii_scrub would never execute); the noop sink
forces the full plan.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from epic_pandas_spark.session import get_spark, reset_session_state
    from epic_pandas_spark.plans.registry import REGISTRY

    spark = get_spark(app_name="epic_pandas_spark_bench")

    # warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # headline numbers for the self-witnessing approx queries measure the
    # SCALE path (HLL / GK sketch) alone; the exact-witness variants are
    # timed separately below as "<name>_witness"
    os.environ["EPS_SKIP_WITNESS"] = "1"
    witnessed = ("n_distinct_approx", "quantiles_approx")

    def run(fn, name: str) -> float | None:
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            # noop sink: full evaluation of all output columns, zero I/O,
            # nothing collected to the driver; immune to count-pruning
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - t0, 4)
        except Exception as e:  # keep the bench line parseable even on a failure
            print(f"bench: query {name} failed: {e}", file=sys.stderr)
            elapsed = None
        # Session hygiene AFTER the clock stops, charged to no query: a
        # finished query's leaked state (persisted localCheckpoint blocks,
        # shuffle files, broadcasts — only reclaimed when the driver JVM
        # happens to GC) otherwise accumulates across the session and is
        # redistributed into later queries' timings as block-manager
        # pressure and GC pauses — the same query measured 3-6x slower
        # mid-session than solo, with the slow set differing run to run,
        # i.e. query N's number partly measured queries 1..N-1.
        # reset_session_state makes the cleanup deterministic: blocking
        # unpersist, then GC + ContextCleaner drain, so neither leaked
        # state nor a removal storm bleeds into the next query.
        reset_session_state(spark)
        return elapsed

    # optional comma-separated subset (debugging / incremental artifact
    # top-ups); default runs the whole registry
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    subset = {q for q in only.split(",") if q} if only else None

    # repeat>1 reruns each selected query and reports the LAST timing —
    # the warm-session number. A single solo query otherwise pays the
    # session's lazy init (codegen compile, Arrow runtime, Python worker
    # spawn) that a 150-query session amortizes away, which inflates
    # sub-second queries ~3-5x and would masquerade as a regression in
    # solo-confirmation runs (scripts/bench_map.py sets this to 2).
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))

    timings: dict[str, float] = {}
    failed: list[str] = []
    for name, (fn, _sql) in sorted(REGISTRY.items()):
        if subset is not None and name not in subset:
            continue
        for _ in range(repeat):
            t = run(fn, name)
        if t is None:
            failed.append(name)
        else:
            timings[name] = t
    os.environ.pop("EPS_SKIP_WITNESS", None)
    for name in witnessed:
        if name in timings:
            t = run(REGISTRY[name][0], f"{name}_witness")
            if t is not None:
                timings[f"{name}_witness"] = t

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "registry_total_runtime",
        # total covers the registry queries; the two *_witness diagnostics
        # are reported per-query but not double-counted into the total
        "value": round(
            sum(t for n, t in timings.items() if not n.endswith("_witness")), 4
        ),
        "unit": "sec",
        "queries": timings,
        "failed": failed,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # defensive duplicate (round 12): the full per-query line is ~6 KB and a
    # log capture that keeps only a short tail can cut its FRONT, making the
    # artifact unparseable (round 10's driver bench artifact). A compact
    # summary line FIRST gives any truncated capture a second chance; the
    # full line stays LAST and unchanged — additions only, contract intact.
    print(
        json.dumps(
            {
                "metric": "registry_total_runtime_compact",
                "value": out["value"],
                "unit": "sec",
                "sf": out["sf"],
                "n": len(timings),
                "n_failed": len(failed),
            }
        )
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
