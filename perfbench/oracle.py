"""Correctness checks in DuckDB, run outside every timed region.

A Spark result matches when it has the oracle's column set, row count and
value hash. Rows are normalised the way ``scripts/oracle_check.py`` does it
(order-insensitive, floats rounded to 6 places), so the benchmark and the
registry's oracle gate agree on what "equal" means.
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
from oracle_check import _norm_rows  # scripts/ is on sys.path (see run.py)

WINDOW_MS = 3_600_000  # streaming.windows.tumbling_agg defaults: 1 hour
WATERMARK_MS = 7_200_000  # ... with a 2 hour watermark


def digest(pdf) -> tuple[list[str], int, str]:
    """(sorted column names, row count, sha256 of the normalised rows)."""
    rows, cols = _norm_rows(pdf)
    return cols, len(rows), hashlib.sha256(repr(rows).encode()).hexdigest()


def compare(spark_pdf, oracle_pdf) -> str | None:
    """None when equal, otherwise a one-line reason."""
    s_cols, s_n, s_hash = digest(spark_pdf)
    o_cols, o_n, o_hash = digest(oracle_pdf)
    if s_cols != o_cols:
        return f"columns {s_cols} != oracle {o_cols}"
    if s_n != o_n:
        return f"{s_n} rows != oracle {o_n}"
    if s_hash != o_hash:
        return "value hash differs from oracle"
    return None


def tables_in(sql: str, tables) -> list[str]:
    """The generated tables an oracle query reads (used for rows_per_s)."""
    return [t for t in tables if re.search(rf"\b{t}\b", sql)]


def bpe_reference(data_dir: str):
    """``bpe_tokenize`` has no SQL twin: replay it in plain Python with the
    package's pure-Python training witness and the BPE inference rule."""
    import pandas as pd

    from epic_pandas_spark.functions.bpe import _merge_word, bpe_train_reference

    docs = pd.read_parquet(os.path.join(data_dir, "documents.parquet"),
                           columns=["doc_id", "text"])
    merges = bpe_train_reference(docs["text"].tolist(), 12)

    def n_tokens(text: str) -> int:
        n = 0
        for word in text.lower().strip().split():
            syms = list(word)
            for a, b in merges:
                if len(syms) < 2:
                    break
                syms = _merge_word(syms, a, b)
            n += len(syms)
        return n

    return pd.DataFrame({"doc_id": docs["doc_id"],
                         "n_tokens": docs["text"].map(n_tokens),
                         "n_merges": len(merges)})


# queries checked against a Python replay instead of oracle SQL
REFERENCES = {"bpe_tokenize": bpe_reference}
REFERENCE_TABLES = {"bpe_tokenize": "documents"}


def check_reference(name: str, spark_pdf, data_dir: str) -> str | None:
    return compare(spark_pdf, REFERENCES[name](data_dir))


class Oracle:
    """DuckDB views over the generated parquet files."""

    def __init__(self, data_dir: str, tables, tmp_dir: str):
        self.con = duckdb.connect()
        os.makedirs(tmp_dir, exist_ok=True)
        self.con.execute(f"SET temp_directory='{tmp_dir}'")
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )

    def check_sql(self, spark_pdf, sql: str) -> str | None:
        """Safe to call from one other thread: it uses its own cursor."""
        return compare(spark_pdf, self.con.cursor().sql(sql).df())

    def replay_ingest(self, batches) -> None:
        """Apply the seeded upsert chain to ``events`` and keep the final
        base (``ingest_base``) and the union of all deltas
        (``ingest_deltas``) for the checks below."""
        con = self.con
        con.execute("CREATE OR REPLACE TABLE ingest_base AS SELECT * FROM events")
        con.execute("CREATE OR REPLACE TABLE ingest_deltas AS "
                    "SELECT * FROM events LIMIT 0")
        for d in batches:
            con.register("delta", d)
            con.execute(
                "CREATE OR REPLACE TABLE ingest_base AS "
                "SELECT * FROM ingest_base WHERE event_id NOT IN "
                "(SELECT event_id FROM delta) "
                "UNION ALL BY NAME SELECT * FROM delta"
            )
            con.execute("INSERT INTO ingest_deltas BY NAME SELECT * FROM delta")
            con.unregister("delta")

    def check_base(self, spark_pdf) -> str | None:
        return compare(spark_pdf, self.con.sql("SELECT * FROM ingest_base").df())

    def check_value_counts(self, spark_pdf) -> str | None:
        return compare(spark_pdf, self.con.sql(
            "SELECT event_type AS value, COUNT(*) AS count, "
            "COUNT(*) / SUM(COUNT(*)) OVER () AS fraction "
            "FROM ingest_base GROUP BY event_type").df())

    def check_stream(self, spark_pdf) -> str | None:
        """The append-mode parquet sink holds exactly the windows that
        closed: window end <= final watermark (max event time - 2 h).
        Delta batches carry increasing event times, so no row is late."""
        return compare(spark_pdf, self.con.sql(f"""
            WITH w AS (
              SELECT time_bucket(INTERVAL 1 hour, ts) AS window_start,
                     event_type, COUNT(*) AS n_events, SUM(value) AS sum_value
              FROM ingest_deltas GROUP BY ALL)
            SELECT * FROM w
            WHERE epoch_ms(window_start) + {WINDOW_MS} <=
                  (SELECT epoch_ms(MAX(ts)) - {WATERMARK_MS} FROM ingest_deltas)
        """).df())
