"""Output checks. Each returns None for a correct operation, else a reason.

Ingest outputs are read back from Parquet and compared with the
generator's expectation and with ``convert()``'s ``ConversionCounters``.
Battery results are compared, by the value hash of
``tools/check_correctness.py``, with the entry's ``oracle_sql()`` run in
DuckDB over the same tables.
"""

from __future__ import annotations

import hashlib
import os

from fixtures import Fixture, leaf_digest


def output_files(out_dir: str) -> tuple[int, int]:
    """(bytes, count) of the Parquet part files a convert() wrote."""
    sizes = [
        os.path.getsize(os.path.join(out_dir, f))
        for f in os.listdir(out_dir)
        if f.endswith(".parquet")
    ]
    return sum(sizes), len(sizes)


def check_ingest(op: dict, fx: Fixture) -> str | None:
    import pyarrow.dataset as ds

    if "error" in op:
        return op["error"]
    want = (fx.kept_rows, fx.kept_bytes) if fx.holders else (fx.entries, fx.payload_bytes)
    if tuple(op["counters"]) != want:
        return f"ConversionCounters {tuple(op['counters'])} != expected {want}"
    rows = []
    for batch in ds.dataset(op["output"], format="parquet").to_batches(
        columns=["source", "path", "size", "hash", "content"], batch_size=256
    ):
        cols = batch.to_pydict()
        for s, p, n, h, c in zip(
            cols["source"], cols["path"], cols["size"], cols["hash"], cols["content"]
        ):
            if len(c) != n or hashlib.sha256(c).digest() != h:
                return f"row {s}:{p}: stored content does not match its size/hash"
            rows.append((s, p, n, h.hex()))
    if not fx.holders:
        if len(rows) != fx.entries or leaf_digest(rows) != fx.digest:
            return f"{len(rows)} rows; digest differs from the generator's"
        return None
    # dedup keeps one nondeterministic holder per hash: compare the
    # distinct (size, hash) set and require each kept row to hold its hash
    seen = set()
    for s, p, n, x in rows:
        entry = fx.holders.get(x)
        if entry is None or entry[0] != n:
            return f"row {s}:{p}: (size, hash) not expected after filters"
        if x in seen:
            return f"hash {x[:12]} kept twice"
        if [s, p] not in entry[1]:
            return f"row {s}:{p} does not hold hash {x[:12]}"
        seen.add(x)
    if len(seen) != len(fx.holders):
        return f"{len(seen)} distinct hashes kept, expected {len(fx.holders)}"
    return None


def oracle_hashes(data_dir: str, names) -> dict[str, str]:
    """Each entry's ``oracle_sql()`` run in DuckDB over every table in
    ``data_dir``, as a value hash."""
    import duckdb

    from archive_to_parquet_spark.queries import oracle_sql
    from check_correctness import value_hash

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            table = f.removesuffix(".parquet")
            path = os.path.join(data_dir, f)
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in names:
            res = con.sql(sql[name])
            out[name] = value_hash([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def check_battery(op: dict, oracle: dict[str, str]) -> str | None:
    if "error" in op:
        return op["error"]
    if op["value_hash"] != oracle[op["kind"]]:
        return f"value hash {op['value_hash']} != oracle {oracle[op['kind']]}"
    return None
