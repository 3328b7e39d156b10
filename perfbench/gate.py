"""Correctness gate: compare the engine's outputs with DuckDB.

Query workloads use the compare rules of the repository's oracle check
(``tools/check.py``, imported from there): arrow types first, columns
sorted by name, rows sorted, values equal exactly. Queries without an
oracle must return rows, the law every rows-only query is held to.
``psx_daily`` is checked against DuckDB over the generated inputs.

Every function returns a list of failure causes; an empty list is a pass.
"""
import importlib.util
import json
import os

import duckdb

_spec = importlib.util.spec_from_file_location(
    "oracle_check", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                 "tools", "check.py"))
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)


def _canon(tbl):
    return oracle_check.canon([tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names)


def compare(spark_tbl, oracle_tbl):
    """Causes why ``spark_tbl`` does not match ``oracle_tbl``."""
    errs = oracle_check.type_preflight("", spark_tbl, oracle_tbl)
    if errs:
        return errs
    sc, sr = _canon(spark_tbl)
    oc, orows = _canon(oracle_tbl)
    if sc != oc:
        return [f"columns {sc} != {oc}"]
    if len(sr) != len(orows):
        return [f"rows {len(sr)} != {len(orows)}"]
    for i, (a, b) in enumerate(zip(sr, orows)):
        if a != b:
            return [f"sorted row {i}: spark {a} vs oracle {b}"]
    return []


def tables_connection(tables_dir):
    con = duckdb.connect()
    for t in oracle_check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def check_queries(tables_dir, verify_dir, names, oracles, errors):
    """Map query name -> failure causes, for every name in ``names``."""
    con = tables_connection(tables_dir)
    out = {}
    for n in names:
        if n in errors:
            out[n] = [f"raised {errors[n]}"]
            continue
        try:
            got = con.execute(f"SELECT * FROM '{verify_dir}/{n}/*.parquet'").arrow()
            if n in oracles:
                out[n] = compare(got, con.execute(oracles[n]).arrow())
            else:
                out[n] = [] if got.num_rows > 0 else ["rows-only query returned no rows"]
        except Exception as e:  # a missing or unreadable output is a failure
            out[n] = [f"{type(e).__name__}: {e}"]
    return out


def check_psx(data_dir, gen_dir):
    """Causes why one simulated history in ``data_dir`` is wrong."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"""CREATE VIEW ticks AS SELECT DISTINCT event_id, ts, event_type, value
        FROM read_parquet('{data_dir}/landing/*.parquet')""")
    errs = []
    dup = con.execute("SELECT count(*) - count(DISTINCT event_id) FROM ticks").fetchone()[0]
    if dup:
        errs.append(f"generator: {dup} event ids carry different rows")
    bars = con.execute("""
        SELECT event_type, CAST(ts AS DATE) AS day,
               list(value ORDER BY ts, event_id)[1] AS open, max(value) AS high,
               min(value) AS low, list(value ORDER BY ts DESC, event_id DESC)[1] AS close,
               count(*) AS volume
        FROM ticks GROUP BY ALL""").arrow()
    got = con.execute(f"""SELECT event_type, day, open, high, low, close, volume
        FROM read_parquet('{data_dir}/ohlc/*.parquet')""").arrow()
    errs += [f"ohlc: {e}" for e in compare(got, bars)]
    # epoch micros: the store's timestamps come back without a time zone
    stored = con.execute(f"""SELECT event_id, epoch_us(ts), event_type, value,
               CAST(day AS DATE) AS day
        FROM read_parquet('{data_dir}/store/*/*.parquet', hive_partitioning = true)""").arrow()
    want = con.execute("""SELECT event_id, epoch_us(ts), event_type, value,
               CAST(ts AS DATE) AS day
        FROM ticks""").arrow()
    errs += [f"store: {e}" for e in _compare_values(stored, want)]
    snap = con.execute(f"""
        WITH s AS (SELECT symbol, name, sector, url, CAST(sync_date AS VARCHAR) AS d,
                          CAST(kind AS VARCHAR) AS kind
                   FROM read_parquet('{data_dir}/tickers/*/*/*.parquet', hive_partitioning = true))
        SELECT symbol, name, sector, url FROM s
        WHERE d = (SELECT max(d) FROM s) AND kind = 'updated'""").fetchall()
    with open(os.path.join(gen_dir, "final_universe.json")) as f:
        final = json.load(f)
    want_snap = sorted((r["symbol"], r["name"], r["sector"], r["url"]) for r in final)
    if sorted(snap) != want_snap:
        diff = sorted(set(snap) ^ set(want_snap))[:3]
        errs.append(f"latest snapshot: {len(snap)} rows vs {len(want_snap)} expected; "
                    f"first differences {diff}")
    return errs


def _compare_values(got, want):
    """Row-set equality that ignores arrow types (hive partition columns
    come back as strings)."""
    g = sorted(tuple(str(v) for v in r.values()) for r in got.to_pylist())
    w = sorted(tuple(str(v) for v in r.values()) for r in want.to_pylist())
    if len(g) != len(w):
        return [f"rows {len(g)} != {len(w)}"]
    for i, (a, b) in enumerate(zip(g, w)):
        if a != b:
            return [f"sorted row {i}: spark {a} vs expected {b}"]
    return []


def psx_store_stats(data_dir):
    """Per-history storage and append counters (untimed)."""
    def walk(sub, suffix=""):
        files = [os.path.join(r, f) for r, _, fs in os.walk(os.path.join(data_dir, sub))
                 for f in fs if f.endswith(suffix)]
        return len(files), sum(os.path.getsize(f) for f in files)
    con = duckdb.connect()
    landed = con.execute(f"SELECT count(*) FROM read_parquet('{data_dir}/landing/*.parquet')").fetchone()[0]
    stored = con.execute(f"SELECT count(*) FROM read_parquet('{data_dir}/store/*/*.parquet')").fetchone()[0]
    s_files, s_bytes = walk("store", ".parquet")
    o_files, o_bytes = walk("ohlc", ".parquet")
    t_files, t_bytes = walk("tickers", ".parquet")
    c_files, c_bytes = walk("ckpt")
    return {"store.files": s_files, "store.bytes": s_bytes, "ohlc.files": o_files,
            "ckpt.files": c_files, "append.rows_landed": landed,
            "append.rows_stored": stored,
            "append.useful_share": stored / landed if landed else 0.0,
            "written_bytes": s_bytes + o_bytes + t_bytes + c_bytes}
