"""Output checks, run after the measured JVM has exited (outside every timed
region).  Each returns a list of problems; an empty list means correct.

The gold check of pipeline_daily needs Spark and runs in the measured JVM
instead, after its timed region and after the peak RSS is recorded
(BenchMain.scala); its result is pipeline.gold_mismatch_rows."""
import importlib.util
import os

import duckdb
import numpy as np

from gen import expected_silver

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pipeline(work: str, stream, landed_days: int):
    """Silver must hold exactly the generator's distinct canonical ticks of
    every landed day: duplicates collapsed, late ticks dropped."""
    exp_ts, exp_px = expected_silver(stream, landed_days)
    con = duckdb.connect()
    got = con.sql(
        "SELECT epoch_us(observed_at) AS ts, close_price FROM read_parquet("
        f"'{work}/warehouse/stg_ticks/**/*.parquet', hive_partitioning = true) "
        "ORDER BY ts").fetchnumpy()
    problems = []
    if len(got["ts"]) != len(exp_ts):
        problems.append(f"silver rows {len(got['ts'])} != expected {len(exp_ts)}")
    elif not (np.array_equal(got["ts"], exp_ts) and np.array_equal(got["close_price"], exp_px)):
        bad = int(np.sum((got["ts"] != exp_ts) | (got["close_price"] != exp_px)))
        problems.append(f"silver differs from the expected ticks in {bad} rows")
    return problems


def _oracle_module():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def queries(work: str, data: str, events):
    """Each query's warm-up output (its full result, written as parquet)
    must equal its DuckDB oracle over the same generated tables, compared
    as tools/check_oracle.py does (schema, row count, every value)."""
    oracle = _oracle_module()
    con = duckdb.connect()
    for t in oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    problems = []
    for e in events:
        if e["ev"] != "warmup_query":
            continue
        name = e["name"]
        if e.get("err"):
            problems.append(f"{name}: failed: {e['err']}")
        elif not e.get("oracle_sql"):
            problems.append(f"{name}: no oracle SQL registered")
        else:
            try:
                msg = oracle.compare(con, name, f"{work}/out/{name}/*.parquet", e["oracle_sql"])
            except Exception as exc:  # a compare that cannot run is a failed check
                msg = f"oracle compare error: {exc}"
            if msg:
                problems.append(f"{name}: {msg}")
    return problems
