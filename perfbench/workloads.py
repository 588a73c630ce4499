"""The three workloads: what one pass runs, and how its results are checked.

A pass is the workload's whole operation list, issued one at a time by a
single client (closed loop), followed by ``reset_session_state``. The
benchmark times passes; checking happens after the clock stops.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import oracle as orc

# The TPC-H registry queries one pass runs: a shape-covering subset of the
# 22, sized so set-up, a cold warm-up and a warm pass fit one run's time
# budget (see README.md, "Sizing").
TPCH_OPS = ["tpch_q1", "tpch_q3", "tpch_q6", "tpch_q11"]

# curation query -> the per-layer metric its build+action time counts to
CURATION_OPS = {
    "bpe_tokenize": "functions.text_s",
    "dedup_exact": "extensions.dedup_s",
    "near_dedup_curation": "extensions.curation_s",
}


@dataclass
class PassResult:
    wall_s: float = 0.0
    op_s: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    rows_read: int = 0
    check_s: float = 0.0
    errors: list[str] = field(default_factory=list)

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {why}"[:300])


def _reset(spark, tracer) -> None:
    from epic_pandas_spark.session import reset_session_state

    with tracer.span("session.reset_s"):
        reset_session_state(spark)


class QueryWorkload:
    """Registry queries forced through the ``noop`` sink, as bench.py does.
    The warm-up pass collects each result instead and checks it against
    the query's ``oracle_sql()`` twin in DuckDB."""

    def __init__(self, spark, tracer, data_dir, work, ops, table_rows,
                 first_table, corrupt=None):
        from epic_pandas_spark.plans import registry

        self.spark, self.tracer, self.data_dir = spark, tracer, data_dir
        self.first_table = first_table
        self.ops = ops  # name -> per-layer metric for build+action, or None
        self.fns = {n: registry.REGISTRY[n][0] for n in ops}
        self.sql = {n: registry.REGISTRY[n][1] for n in ops}
        self.oracle = orc.Oracle(data_dir, table_rows, os.path.join(work, "duckdb"))
        self.rows = {n: sum(table_rows[t] for t in orc.tables_in(
            self.sql[n] or orc.REFERENCE_TABLES[n], table_rows)) for n in ops}
        self.corrupt = corrupt  # self-test hook: an op whose result is damaged

    def prepare(self) -> None:
        pass

    def run_pass(self, pass_id: int, warmup: bool) -> PassResult:
        """The warm-up pass collects every result and checks it in a
        background thread while the next query warms up; timed passes
        write to ``noop`` and are not checked."""
        res = PassResult()
        checks = {}
        pool = ThreadPoolExecutor(max_workers=1) if warmup else None
        t_pass = time.perf_counter()
        for name, layer in self.ops.items():
            res.attempted += 1
            res.rows_read += self.rows[name]
            op_id = f"p{pass_id}:{name}"
            self.tracer.begin_op(op_id, name)
            t0 = time.perf_counter()
            try:
                with self.tracer.span(layer or "op_s", name):
                    with self.tracer.span("plans.build_s", name):
                        df = self.fns[name](self.spark, self.data_dir)
                    self.tracer.count_build_jobs(op_id)
                    with self.tracer.span("spark.action_s", name):
                        if warmup:
                            pdf = df.toPandas()
                        else:
                            df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
                res.fail(name, f"{type(e).__name__}: {e}")
                continue
            res.op_s[name] = time.perf_counter() - t0
            self.tracer.collect_spark(op_id)
            if warmup:
                if name == self.corrupt and len(pdf):
                    pdf = pdf.iloc[1:]
                checks[name] = pool.submit(self._check, name, pdf)
        _reset(self.spark, self.tracer)
        res.wall_s = time.perf_counter() - t_pass
        if pool is not None:
            t_check = time.perf_counter()
            for name, fut in checks.items():
                try:
                    why = fut.result()
                except Exception as e:  # noqa: BLE001 - a check that cannot run is a failure
                    why = f"check raised {type(e).__name__}: {e}"
                if why:
                    res.fail(name, why)
            pool.shutdown()
            res.check_s = time.perf_counter() - t_check
        return res

    def _check(self, name: str, pdf) -> str | None:
        if self.sql[name]:
            return self.oracle.check_sql(pdf, self.sql[name])
        return orc.check_reference(name, pdf, self.data_dir)


EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
BATCH_SPACING_H = 6  # batch i's event times lie in [T0 + 6h*i, T0 + 6h*i + 3h)
BATCH_SPAN_H = 3


def make_batches(seed: int, n_base: int, n_batches: int, batch_rows: int):
    """Seeded delta batches of ``(event_id, record)`` pairs: half updates
    of existing base keys, half new keys. Event times increase from batch
    to batch, so the stream never sees late data."""
    rng = np.random.default_rng([seed, 1])
    t0 = dt.datetime(2024, 2, 1, tzinfo=dt.timezone.utc)
    n_upd = batch_rows // 2
    next_key = n_base
    batches = []
    for i in range(n_batches):
        keys = np.concatenate([
            rng.choice(n_base, n_upd, replace=False),
            np.arange(next_key, next_key + batch_rows - n_upd),
        ])
        next_key += batch_rows - n_upd
        offs_us = rng.integers(0, BATCH_SPAN_H * 3_600_000_000, batch_rows)
        users = rng.integers(0, 1_000, batch_rows)
        etypes = rng.integers(0, len(EVENT_TYPES), batch_rows)
        values = np.round(rng.exponential(60.0, batch_rows), 2)
        props = rng.integers(0, 100, batch_rows)
        start = t0 + dt.timedelta(hours=BATCH_SPACING_H * i)
        batches.append([
            (int(k), {
                "ts": start + dt.timedelta(microseconds=int(o)),
                "user_id": int(u),
                "event_type": EVENT_TYPES[e],
                "value": float(v),
                "props": f'{{"k": {p}}}',
            })
            for k, o, u, e, v, p in zip(keys, offs_us, users, etypes, values, props)
        ])
    return batches


def _batch_frame(batch):
    import pandas as pd

    pdf = pd.DataFrame([{"event_id": k, **r} for k, r in batch])
    pdf["ts"] = pdf["ts"].dt.tz_convert("UTC").dt.tz_localize(None).astype("datetime64[us]")
    return pdf


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


class IngestWorkload:
    """Seeded delta batches upserted into a parquet base, each new version
    read back, then the inbox of deltas streamed through a windowed
    aggregation into a parquet sink."""

    first_table = "events"

    def __init__(self, spark, tracer, data_dir, work, seed, table_rows,
                 n_batches, batch_rows, corrupt=None):
        self.spark, self.tracer, self.data_dir, self.work = spark, tracer, data_dir, work
        self.n_base = table_rows["events"]
        self.batches = make_batches(seed, self.n_base, n_batches, batch_rows)
        self.oracle = orc.Oracle(data_dir, ["events"], os.path.join(work, "duckdb"))
        self.oracle.replay_ingest([_batch_frame(b) for b in self.batches])
        self.base0 = os.path.join(work, "base_v0.parquet")
        self.corrupt = corrupt

    def prepare(self) -> None:
        """The versioned base starts as a copy of the generated events."""
        from epic_pandas_spark.session import load_table
        from epic_pandas_spark.sources import io

        io.dump(load_table(self.spark, self.data_dir, "events"), self.base0)

    def run_pass(self, pass_id: int, warmup: bool) -> PassResult:
        """Every timed pass is checked after its clock stops. The warm-up
        pass runs the first batch and the stream over it, unchecked: it
        only has to reach every code path once."""
        from epic_pandas_spark.operators.upsert import upsert
        from epic_pandas_spark.operators.value_counts import value_counts
        from epic_pandas_spark.sources import io
        from epic_pandas_spark.sources.ingest import df_from_iterable

        spark, tr = self.spark, self.tracer
        root = os.path.join(self.work, f"pass{pass_id}")
        inbox = os.path.join(root, "inbox")
        version, n_rows = self.base0, self.n_base
        res = PassResult()
        delta_bytes = written = 0
        counts = None
        t_pass = time.perf_counter()
        batches = self.batches[:1] if warmup else self.batches
        for i, batch in enumerate(batches):
            res.attempted += 1
            op_id = f"p{pass_id}:batch{i}"
            tr.begin_op(op_id, f"batch{i}")
            delta_path = os.path.join(inbox, f"batch{i:03d}.parquet")
            new_version = os.path.join(root, f"base_v{i + 1}.parquet")
            t0 = time.perf_counter()
            try:
                with tr.span("sources.ingest_s", op_id):
                    delta = df_from_iterable(spark, batch, key_col="event_id")
                with tr.span("sources.dump_s", "delta"):
                    io.dump(delta, delta_path)
                with tr.span("operators.upsert_s", op_id):
                    merged = upsert(io.load(spark, version), io.load(spark, delta_path),
                                    key="event_id")
                    with tr.span("sources.dump_s", "version"):
                        io.dump(merged, new_version)
                with tr.span("operators.value_counts_s", op_id):
                    counts = value_counts(io.load(spark, new_version), "event_type").toPandas()
            except Exception as e:  # noqa: BLE001 - the chain is broken: count the rest failed
                res.fail(op_id, f"{type(e).__name__}: {e}")
                res.attempted += len(batches) - i - 1
                res.failed += len(batches) - i - 1
                counts = None
                break
            res.op_s[f"batch{i}"] = time.perf_counter() - t0
            tr.collect_spark(op_id)
            b_delta, b_version = _parquet_bytes(delta_path), _parquet_bytes(new_version)
            delta_bytes += b_delta
            written += b_delta + b_version
            # records ingested, base + delta read by the upsert, new version read back
            res.rows_read += 2 * len(batch) + n_rows
            n_rows += len(batch) - len(batch) // 2
            res.rows_read += n_rows
            version = new_version

        res.attempted += 1
        stream_out = None
        if counts is not None:
            stream_out = self._stream(pass_id, inbox, root, res)
            res.rows_read += sum(len(b) for b in batches)
        else:
            res.fail("stream", "skipped: the batch chain failed")
        _reset(spark, tr)
        res.wall_s = time.perf_counter() - t_pass
        tr.add("sources.bytes_written_mb", written / 2**20)
        tr.add("sources.delta_mb", delta_bytes / 2**20)

        t_check = time.perf_counter()
        if counts is not None and not warmup:  # check the final state, untimed
            base_pdf = spark.read.parquet(version).toPandas()
            if self.corrupt == "base" and len(base_pdf):
                base_pdf = base_pdf.iloc[1:]
            for what, why in (("base", self.oracle.check_base(base_pdf)),
                              ("value_counts", self.oracle.check_value_counts(counts))):
                if why:
                    res.fail(what, why)
            if stream_out is not None:
                why = self.oracle.check_stream(spark.read.parquet(stream_out).toPandas())
                if why:
                    res.fail("stream", why)
        shutil.rmtree(root, ignore_errors=True)
        res.check_s = time.perf_counter() - t_check
        return res

    def _stream(self, pass_id, inbox, root, res) -> str | None:
        from epic_pandas_spark.streaming.windows import tumbling_agg

        spark, tr = self.spark, self.tracer
        op_id = f"p{pass_id}:stream"
        tr.begin_op(op_id, "stream")
        out = os.path.join(root, "stream_out.parquet")
        try:
            with tr.span("streaming.run_s", op_id):
                # each delta is a directory of part files
                files = os.path.join(inbox, "*")
                schema = spark.read.parquet(files).schema
                src = (spark.readStream.schema(schema)
                       .option("maxFilesPerTrigger", "1").parquet(files))
                q = (tumbling_agg(src).writeStream.format("parquet")
                     .outputMode("append")
                     .option("path", out)
                     .option("checkpointLocation", os.path.join(root, "stream_ckpt"))
                     .trigger(availableNow=True).start())
                q.awaitTermination()
            progress = q.recentProgress
        except Exception as e:  # noqa: BLE001
            res.fail("stream", f"{type(e).__name__}: {e}")
            return None
        tr.add("streaming.epochs", len(progress))
        if progress:
            durations = sorted(p["durationMs"].get("triggerExecution", 0) for p in progress)
            tr.add("streaming.batch_s", durations[len(durations) // 2] / 1e3)
        tr.collect_spark(op_id)
        return out
