#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--expect-all]

Reads each <verifyOutDir>/<name>/ parquet (Spark result), runs the matching
oracle SQL from oracle_sql.json in DuckDB against <sfDir>/*.parquet tables,
sorts columns by name on both sides, and compares row-by-row.

--expect-all: treat a key with no result directory as FAIL instead of
not-run. Use for FULL Verify runs, where a missing dir means the run
crashed or silently skipped a key; the default skip semantics are for
subset runs (Verify with trailing key args: exact names or `prefix*`).
"""
import json, sys, glob, os
import duckdb

# The oracle SQL relies on version-sensitive DuckDB syntax (notably
# positional struct indexing z[1]/z[2] on list_zip elements, whose
# structs are UNNAMED in 1.0.x so named extraction is impossible —
# ops/Pipeline.scala weightedJaccardSql). Fail loudly on an engine
# upgrade instead of silently changing oracle semantics.
PINNED_DUCKDB = "1.0."
assert duckdb.__version__.startswith(PINNED_DUCKDB), (
    f"oracle SQL is pinned to DuckDB {PINNED_DUCKDB}x, found "
    f"{duckdb.__version__}; re-validate the positional-struct and "
    "bitstring_agg oracles before bumping this pin")

def main(sf_dir, out_dir, expect_all=False):
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    # Bound DuckDB's memory and give it a spill dir: the heavy graph
    # oracles at sf0.1 otherwise race whatever else the box is running
    # for the default 80%-of-RAM budget and die with bad-allocation
    # instead of spilling.
    con.execute("SET memory_limit='48GB'")
    con.execute("SET temp_directory='/tmp/graft_duck_spill'")
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = n_skip = 0
    for name in sorted(oracles):
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            # oracle_sql.json is always the FULL map; a key with no result
            # dir simply wasn't part of this (subset) Verify run — unless
            # the caller declared the run full, in which case it's a FAIL
            if expect_all:
                print(f"FAIL {name}: no result directory (full run expected)")
                n_fail += 1
            else:
                n_skip += 1
            continue
        try:
            spark_df = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchdf()
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        s = spark_df[sorted(spark_df.columns)]
        d = duck_df[sorted(duck_df.columns)]
        if sorted(s.columns) != sorted(d.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}")
            n_fail += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows {len(s)} vs {len(d)}"); n_fail += 1; continue
        # Mirror the driver's t2 gate exactly: sort_values over the RAW
        # frame (this is where an array-typed column crashes the driver —
        # keeping the same order of operations makes local PASS/FAIL
        # predict the driver outcome), then stringify and compare.
        try:
            s = s.sort_values(by=list(s.columns), ignore_index=True)
            d = d.sort_values(by=list(d.columns), ignore_index=True)
        except Exception as e:
            print(f"FAIL {name}: sort (driver would crash too): {e}")
            n_fail += 1; continue
        sv = s.astype(str).values.tolist()
        dv = d.astype(str).values.tolist()
        if sv != dv:
            bad = next(i for i, (a, b) in enumerate(zip(sv, dv)) if a != b)
            print(f"FAIL {name}: first diff at row {bad}:\n  spark={sv[bad]}\n  duck ={dv[bad]}")
            n_fail += 1; continue
        print(f"PASS {name} ({len(s)} rows)")
        n_pass += 1
    # Bounded-error differential for the oracle-exempt approximate key:
    # the HLL estimate must sit within 3x the documented rsd (0.05) of
    # DuckDB's exact distinct count per group — a quantitative gate for
    # the one key the hash compare cannot cover.
    ok, msg = check_approx_bound(con, out_dir, expect_all)
    if ok is not None:
        print(msg)
        if ok:
            n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail / {n_skip} not-run")
    return 1 if n_fail else 0

APPROX_EXACT_SQL = """SELECT event_type, count(DISTINCT user_id) AS exact_users
FROM events GROUP BY event_type ORDER BY event_type"""
APPROX_REL_TOL = 0.15  # 3 x approx_count_distinct's default rsd of 0.05

def check_approx_bound(con, out_dir, expect_all=False, run=None):
    """(ok, message) for agg_approx_distinct; ok=None when not in this run.
    Under expect_all a missing result dir is a FAIL (same contract as the
    oracle keys: a full run that skipped the key crashed).

    `run` lets a caller route the two statements through its own bounded
    executor (check_sf1.py passes run_bounded so the exact COUNT(DISTINCT)
    carries the same per-statement interrupt timer as every sweep oracle)."""
    if run is None:
        run = lambda sql: con.execute(sql).fetchall()
    files = glob.glob(os.path.join(out_dir, "agg_approx_distinct", "*.parquet"))
    if not files:
        if expect_all:
            return False, ("FAIL agg_approx_distinct[bound]: no result "
                           "directory (full run expected)")
        return None, ""
    approx = dict(run(
        f"SELECT event_type, approx_users FROM read_parquet({files!r})"))
    exact = dict(run(APPROX_EXACT_SQL))
    if set(approx) != set(exact):
        return False, (f"FAIL agg_approx_distinct[bound]: groups "
                       f"{sorted(approx)} vs {sorted(exact)}")
    worst = max(abs(approx[k] - exact[k]) / max(exact[k], 1) for k in exact)
    if worst > APPROX_REL_TOL:
        detail = {k: (approx[k], exact[k]) for k in sorted(exact)}
        return False, (f"FAIL agg_approx_distinct[bound]: worst relative "
                       f"error {worst:.4f} > {APPROX_REL_TOL} ({detail})")
    return True, (f"PASS agg_approx_distinct[bound] "
                  f"(worst relative error {worst:.4f} <= {APPROX_REL_TOL})")

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2], "--expect-all" in sys.argv[3:]))
