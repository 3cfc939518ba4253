#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
dumps against the DuckDB oracle SQL and diff (dev tool only — the engine
itself has no Python dependency).

Usage: python3 tools/oracle_check.py <verifyOutDir> <sfDir> [name ...]

Optional trailing names restrict the check to those queries (matches
Verify's optional third arg for fast single-query iteration).

Each query runs under QUERY_TIMEOUT_S: a row whose oracle or compare
does not finish in time prints TIMEOUT and counts as a failure, so a
full check always ends and prints its total.
"""
import json
import sys
import threading

import duckdb

# A fixed limit, not a flag: it only has to stop a row that would
# otherwise hang the check, so it sits far above what a finishing
# oracle takes at the scales the check runs on.
QUERY_TIMEOUT_S = 300

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# Driver-hash trap: DuckDB HUGEINT (from uncast sum()) is canonicalized
# differently than INT64 by the driver's hash even when values are
# equal; wide DECIMAL(p>18) routes through double the same way (the r11
# saga's SECOND trap — PlanSpec sweeps it on the Spark side, this is
# the oracle twin). Non-canonical temporals (TIME/TIMETZ/interval/
# TIMESTAMP WITH TIME ZONE) have no stable driver canonicalization
# either. Fail fast on schema.
def bad_type(t: str):
    u = t.upper()
    if u in ("HUGEINT", "UHUGEINT", "INT128", "UINT128"):
        return "HUGEINT class — wrap in CAST(... AS BIGINT)"
    if u.startswith("DECIMAL"):
        try:
            prec = int(u.split("(")[1].split(",")[0])
        except (IndexError, ValueError):
            prec = 38
        if prec > 18:
            return (f"wide {u} — driver canonicalizes through "
                    "double; CAST to DOUBLE or DECIMAL(<=18)")
    if u in ("TIME", "TIME WITH TIME ZONE",
             "TIMESTAMP WITH TIME ZONE") or "INTERVAL" in u:
        return f"non-canonical temporal {u} — CAST to TIMESTAMP/BIGINT"
    return None


def run_limited(con, fn, limit_s: float):
    """Run fn() with con interrupted after limit_s seconds. Returns
    (result, timed_out); a timed-out call's result is None."""
    timer = threading.Timer(limit_s, con.interrupt)
    timer.start()
    try:
        return fn(), False
    except duckdb.InterruptException:
        return None, True
    finally:
        timer.cancel()


def selftest() -> int:
    """Negative-test the type guard (VERDICT r13 ask #7): every type
    the driver cannot canonicalize must FAIL, every canonical type must
    pass. Run: python3 tools/oracle_check.py --selftest"""
    must_fail = ["HUGEINT", "UHUGEINT", "DECIMAL(38,0)", "DECIMAL(19,4)",
                 "TIMESTAMP WITH TIME ZONE", "TIME", "INTERVAL"]
    must_pass = ["BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "DATE",
                 "TIMESTAMP", "DECIMAL(18,2)", "DECIMAL(10,0)", "BOOLEAN"]
    bad = ([t for t in must_fail if not bad_type(t)] +
           [t for t in must_pass if bad_type(t)])
    for t in bad:
        print(f"SELFTEST FAIL: bad_type({t!r}) = {bad_type(t)!r}")
    print(f"selftest: {len(must_fail + must_pass) - len(bad)}/"
          f"{len(must_fail + must_pass)} type classifications correct")
    # the timeout must stop a query that cannot finish, and leave the
    # connection usable for the next row
    con = duckdb.connect()
    endless = ("SELECT sum(a.range * b.range) "
               "FROM range(1000000) a, range(1000000) b")
    _, timed_out = run_limited(con, lambda: con.sql(endless).fetchall(), 0.5)
    after, _ = run_limited(con, lambda: con.sql("SELECT 42").fetchall(), 5)
    if not timed_out or after != [(42,)]:
        print(f"SELFTEST FAIL: timeout timed_out={timed_out} next={after}")
        bad.append("timeout")
    else:
        print("selftest: a query that cannot finish times out")
    return 1 if bad else 0


def main(sf_dir: str, out_dir: str, names=()) -> int:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    if names:
        oracles = {k: v for k, v in oracles.items() if k in set(names)}
    failures = 0
    for name, sql in sorted(oracles.items()):
        matched, timed_out = run_limited(
            con, lambda: check(con, name, sql, out_dir), QUERY_TIMEOUT_S)
        if timed_out:
            print(f"TIMEOUT {name}: not finished in {QUERY_TIMEOUT_S} s")
        if not matched:
            failures += 1
    print(f"\n{len(oracles) - failures}/{len(oracles)} oracle queries match")
    return 1 if failures else 0


def check(con, name: str, sql: str, out_dir: str) -> bool:
    """Compare one query's Verify output with its oracle; print the
    verdict and return whether it matched."""
    try:
        rel = con.sql(sql)
        bad_types = [(c, why) for c, t in zip(rel.columns, rel.types)
                     if (why := bad_type(str(t)))]
        if bad_types:
            for c, why in bad_types:
                print(f"FAIL {name}: oracle column {c}: {why}")
            return False
        expected = rel.df()
        actual = con.sql(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        # compare as the correctness gate does: columns sorted by name, then values
        expected = expected[sorted(expected.columns)]
        actual = actual[sorted(actual.columns)]
        if list(expected.columns) != list(actual.columns):
            print(f"FAIL {name}: columns {list(actual.columns)} != "
                  f"{list(expected.columns)}")
            return False
        if expected.shape != actual.shape:
            print(f"FAIL {name}: shape {actual.shape} != {expected.shape}")
            return False
        import pandas as pd
        try:
            pd.testing.assert_frame_equal(
                actual.reset_index(drop=True),
                expected.reset_index(drop=True),
                check_dtype=False, check_exact=True)
            print(f"OK   {name} ({expected.shape[0]} rows)")
            return True
        except AssertionError as e:
            print(f"FAIL {name}: {str(e)[:500]}")
            return False
    except duckdb.InterruptException:
        raise  # the timeout's, reported by the caller
    except Exception as e:  # noqa: BLE001
        print(f"ERROR {name}: {e}")
        return False


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--selftest":
        sys.exit(selftest())
    sys.exit(main(sys.argv[2], sys.argv[1], sys.argv[3:]))
