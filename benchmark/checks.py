"""Reference answers and reporting rules, independent of the engine.

The serving references are DuckDB queries over the bootstrapped
snapshot's ``om_keys`` parquet; the batch references are the registered
queries' ``oracle_sql`` twins over the source tables; the CDC reference
is a DuckDB latest-op-wins replay of the initial keys plus every landed
event.
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import pandas as pd

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
MIN_ABOVE = 10  # samples a reported percentile must have above it


def valid_metric_name(name: str) -> bool:
    return bool(METRIC_NAME.fullmatch(name)) and len(name) <= 64 and name[0].isalnum()


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` percentile, or None unless at least
    ``MIN_ABOVE`` samples lie above it."""
    xs = sorted(values)
    if not xs:
        return None
    idx = max(math.ceil(q * len(xs)) - 1, 0)
    if len(xs) - (idx + 1) < MIN_ABOVE:
        return None
    return xs[idx]


def median(values: list[float]) -> float:
    xs = sorted(values)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def keys_connection(om_keys_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB copy of a partitioned ``om_keys`` snapshot."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE keys AS SELECT * FROM read_parquet(?, hive_partitioning = true)",
        [f"{om_keys_dir}/**/*.parquet"],
    )
    return con


def ref_list_keys(con, volume: str, bucket: str, prefix: str | None,
                  start_key: str | None, max_keys: int) -> list[tuple]:
    sql = ("SELECT row_key, data_size FROM keys WHERE volume = ? AND bucket = ?"
           " AND starts_with(row_key, ?)")
    args = [volume, bucket, f"/{volume}/{bucket}/"]
    if prefix:
        sql += " AND starts_with(row_key, ?)"
        args.append(prefix)
    if start_key:
        sql += " AND row_key > ?"
        args.append(start_key)
    sql += " ORDER BY row_key LIMIT ?"
    return [tuple(r) for r in con.execute(sql, args + [max_keys]).fetchall()]


def ref_list_objects_v2(con, volume: str, bucket: str, prefix: str,
                        start_after: str | None, max_keys: int) -> list[tuple]:
    """S3 ListObjectsV2 with delimiter '/': one row per CommonPrefix or
    leaf key directly under ``prefix``, resuming after ``start_after``
    (a CommonPrefix token skips its whole subtree)."""
    where = "volume = ? AND bucket = ? AND starts_with(key, ?)"
    args: list = [volume, bucket, prefix]
    if start_after:
        where += " AND key > ?"
        args.append(start_after)
        if start_after.endswith("/"):
            where += " AND NOT starts_with(key, ?)"
            args.append(start_after)
    sql = f"""
      WITH t AS (
        SELECT key, data_size,
               CASE WHEN strpos(substr(key, {len(prefix) + 1}), '/') > 0
                    THEN ? || split_part(substr(key, {len(prefix) + 1}), '/', 1) || '/'
               END AS cp
        FROM keys WHERE {where})
      SELECT name, entry_type, size FROM (
        SELECT DISTINCT cp AS name, 'PREFIX' AS entry_type, 0::BIGINT AS size
        FROM t WHERE cp IS NOT NULL
        UNION ALL
        SELECT key, 'KEY', data_size FROM t WHERE cp IS NULL)
      ORDER BY name LIMIT ?"""
    return [tuple(r) for r in con.execute(sql, [prefix] + args + [max_keys]).fetchall()]


def ref_lookup(con, row_key: str) -> list[tuple]:
    return [tuple(r) for r in con.execute(
        "SELECT row_key, data_size, container_id FROM keys WHERE row_key = ?",
        [row_key]).fetchall()]


def ref_list_status(con, volume: str, bucket: str, dir_path: str) -> list[tuple]:
    """Non-recursive listStatus: one row per immediate child of
    ``dir_path``, a directory when deeper keys lie under it."""
    pfx = dir_path if dir_path.endswith("/") else dir_path + "/"
    sql = f"""
      SELECT ? || split_part(rel, '/', 1) AS name, max(strpos(rel, '/') > 0) AS is_dir,
             count(*) AS num_files, CAST(sum(data_size) AS BIGINT) AS total_size
      FROM (SELECT substr(key, {len(pfx) + 1}) AS rel, data_size FROM keys
            WHERE volume = ? AND bucket = ? AND starts_with(key, ?))
      GROUP BY 1 ORDER BY name"""
    return [tuple(r) for r in con.execute(sql, [pfx, volume, bucket, pfx]).fetchall()]


def ref_namespace_summary(con, volume: str, bucket: str) -> list[tuple]:
    """Recursive du: file count and bytes under every directory, each
    key counted in all of its ancestors."""
    sql = """
      SELECT volume, bucket, array_to_string(parts[1:i], '/') AS dir,
             count(*) AS num_files, CAST(sum(data_size) AS BIGINT) AS size_of_files
      FROM (SELECT volume, bucket, data_size, parts, unnest(range(1, len(parts))) AS i
            FROM (SELECT volume, bucket, data_size, string_split(key, '/') AS parts
                  FROM keys WHERE volume = ? AND bucket = ?))
      GROUP BY ALL"""
    return sorted(tuple(r) for r in con.execute(sql, [volume, bucket]).fetchall())


CHECKED_OPS = ("list_keys", "list_objects_v2", "lookup_key", "list_status", "namespace_summary")


def check_request(con, req: dict, pages: list[list[tuple]]) -> bool:
    """Whether every page a request in ``CHECKED_OPS`` received matches
    the reference."""
    op = req["op"]
    if op == "lookup_key":
        return sorted(pages[0]) == sorted(ref_lookup(con, req["row_key"]))
    if op == "list_status":
        return pages[0] == ref_list_status(con, req["volume"], req["bucket"], req["dir_path"])
    if op == "namespace_summary":
        return sorted(pages[0]) == ref_namespace_summary(con, req["volume"], req["bucket"])
    token = None
    for page in pages:
        if op == "list_keys":
            want = ref_list_keys(con, req["volume"], req["bucket"], req["prefix"],
                                 token, req["max_keys"])
        else:
            want = ref_list_objects_v2(con, req["volume"], req["bucket"], req["prefix"],
                                       token, req["max_keys"])
        if page != want:
            return False
        token = page[-1][0] if page else None
    return True


def _cell(v) -> str:
    """One value in an engine-neutral text form: floats to 6 decimals,
    timestamps to microseconds, NULL/NaN/NaT alike."""
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(round(v, 6))
    if isinstance(v, pd.Timestamp):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def frame_hash(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """Row count, sorted column names and an order-insensitive hash of
    the values of a result."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("\x1f".join(_cell(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256()
    for row in rows:
        h.update(row.encode() + b"\x1e")
    return len(df), tuple(df.columns), h.hexdigest()


def oracle_connection(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the generated source tables, for the registered
    queries' ``oracle_sql`` twins."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def replay_mismatches(initial_keys_dir: str, events_dir: str, final_dir: str) -> int:
    """Rows that differ, in either direction, between the engine's final
    snapshot and a latest-op-wins replay of the initial keys plus every
    event."""
    con = duckdb.connect()
    cols = "row_key, volume, bucket, key, data_size, container_id"
    con.execute(f"""
      CREATE TABLE ref AS
      WITH ev AS (SELECT * FROM read_parquet('{events_dir}/*.parquet')),
           latest AS (
             SELECT row_key, arg_max(op, seqno) AS op,
                    arg_max(volume, seqno) AS volume, arg_max(bucket, seqno) AS bucket,
                    arg_max(key, seqno) AS key, arg_max(data_size, seqno) AS data_size,
                    arg_max(container_id, seqno) AS container_id
             FROM ev GROUP BY row_key)
      SELECT {cols} FROM read_parquet('{initial_keys_dir}/**/*.parquet', hive_partitioning = true)
      WHERE row_key NOT IN (SELECT row_key FROM latest)
      UNION ALL
      SELECT {cols} FROM latest WHERE op <> 'DELETE'""")
    con.execute(f"""
      CREATE TABLE got AS SELECT {cols}
      FROM read_parquet('{final_dir}/**/*.parquet', hive_partitioning = true)""")
    return sum(
        con.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})")
        .fetchone()[0]
        for a, b in (("ref", "got"), ("got", "ref"))
    )
