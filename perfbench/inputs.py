"""Benchmark inputs, all generated from the workload seed.

- a pages corpus of ``corpus.generate_page`` records whose ids start at a
  seed-chosen multiple of 100 (so every corpus keeps the generator's
  per-100-id format mix), materialized as parquet;
- the four tables the corpus queries read (documents, events, orders,
  lineitem), shaped like the entry contract's test data, generated by a
  fixed-seed numpy generator so their oracle results can be cached;
- DuckDB oracle results for those queries, cached by the sha256 of the
  SQL text and the table files.
"""

from __future__ import annotations

import hashlib
import math
import random
from pathlib import Path

import numpy as np
import pandas as pd

CORPUS_SLICE = 100  # the generator's format mix repeats every 100 ids


def corpus_offset(seed: int) -> int:
    return CORPUS_SLICE * random.Random(seed).randrange(0, 100_000)


def materialize_pages(spark, path: Path, start: int, n_docs: int,
                      corrupt_golden_of: int | None = None) -> None:
    """Write pages ``[start, start + n_docs)`` to ``path`` as parquet.

    ``corrupt_golden_of`` flips one byte of that id's golden ``text``, so
    the output checks can be shown to catch a wrong document."""
    from doctor_spark.corpus import PAGES_SCHEMA_DDL, generate_page

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                row = generate_page(int(i))
                if int(i) == corrupt_golden_of:
                    row["text"] = "#" + row["text"][1:]
                rows.append(row)
            out = pd.DataFrame(rows)
            out["warc_ts"] = (
                pd.to_datetime(out["warc_ts"], utc=True).dt.tz_localize(None)
            )
            yield out

    parts = spark.sparkContext.defaultParallelism
    (
        spark.range(start, start + n_docs, numPartitions=parts)
        .mapInPandas(gen, schema=PAGES_SCHEMA_DDL)
        .write.mode("overwrite").parquet(str(path))
    )


# -- corpus-query tables ---------------------------------------------------

TABLES_SEED = 42
_WORDS = (
    "the a big small fast slow data table row column key value join merge "
    "sort hash scan filter group agg window stream batch spark query order "
    "line part customer vector"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_query_tables(out: Path, n_docs: int) -> None:
    """documents, events, orders and lineitem at ``n_docs`` documents (the
    other tables scale with it as in the contract's sf0.01 data)."""
    rng = np.random.default_rng(TABLES_SEED)
    out.mkdir(parents=True, exist_ok=True)

    # documents: word soup over a 30-word vocabulary; ~5% are a copy of
    # another document plus " dup", the near-duplicates the dedup family
    # looks for
    texts = [
        " ".join(rng.choice(_WORDS, size=int(rng.integers(8, 96))))
        for _ in range(n_docs)
    ]
    dup = rng.random(n_docs) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, size=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }).to_parquet(out / "documents.parquet", index=False)

    n_events = 20 * n_docs
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, size=n_events))
    pd.DataFrame({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _micros(pd.Timestamp("2024-01-01") + pd.to_timedelta(ts, unit="us")),
        "user_id": rng.integers(0, 150, size=n_events).astype("int64"),
        "event_type": rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=n_events
        ),
        "value": np.round(rng.exponential(60.0, size=n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }).to_parquet(out / "events.parquet", index=False)

    n_orders = 30 * n_docs
    day0 = pd.Timestamp("1995-01-01")
    pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, 1500, size=n_orders).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _micros(day0 + pd.to_timedelta(
            rng.integers(0, 2404, size=n_orders), unit="D")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_orders),
    }).to_parquet(out / "orders.parquet", index=False)

    n_lines = 4 * n_orders
    pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, size=n_lines).astype("int64"),
        "l_partkey": rng.integers(0, 2000, size=n_lines).astype("int64"),
        "l_suppkey": rng.integers(0, 100, size=n_lines).astype("int64"),
        "l_linenumber": rng.integers(1, 8, size=n_lines).astype("int32"),
        "l_quantity": rng.integers(1, 51, size=n_lines).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
        "l_discount": rng.integers(0, 11, size=n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n_lines),
        "l_linestatus": rng.choice(["F", "O"], size=n_lines),
        "l_shipdate": _micros(day0 + pd.to_timedelta(
            rng.integers(1, 2500, size=n_lines), unit="D")),
    }).to_parquet(out / "lineitem.parquet", index=False)


QUERY_TABLES = ("documents", "events", "orders", "lineitem")


def _micros(ts):
    # Spark reads parquet timestamps in micro-, not nanoseconds
    return ts.astype("datetime64[us]")


def tables_digest(tables_dir: Path) -> str:
    h = hashlib.sha256()
    for t in QUERY_TABLES:
        h.update((tables_dir / f"{t}.parquet").read_bytes())
    return h.hexdigest()


# -- oracle comparison (the entry contract test's rules) -------------------

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Order-insensitive equality of two normalized results."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    return all(
        _values_equal(a, b)
        for c in got.columns
        for a, b in zip(got[c].tolist(), want[c].tolist())
    )


class OracleCache:
    """Normalized DuckDB results of the oracle SQL over one tables
    directory, kept on disk under ``cache_dir`` by sha256(SQL, tables)."""

    def __init__(self, tables_dir: Path, cache_dir: Path):
        self._tables = tables_dir
        self._dir = cache_dir
        self._digest = tables_digest(tables_dir)
        self._dir.mkdir(parents=True, exist_ok=True)

    def result(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256(f"{self._digest}\n{sql}".encode()).hexdigest()
        path = self._dir / f"{key}.parquet"
        if path.exists():
            return pd.read_parquet(path)
        import duckdb

        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self._tables / t}.parquet')"
                )
            want = normalize(con.sql(sql).df())
        finally:
            con.close()
        tmp = path.with_suffix(".tmp")
        want.to_parquet(tmp, index=False)
        tmp.replace(path)
        return pd.read_parquet(path)
