#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Runs DuckDB on oracle_sql.json against the same parquet tables and
compares each query's Spark parquet output: schema (column names), row
count, and exact values after sorting columns by name and rows by all
columns. Usage: selfcheck.py <sfDir> <verifyOutDir> [--cap=SEC] [--json=PATH]

--cap=SEC: wall cap per ORACLE query (interrupt on a per-query cursor —
never the shared connection, so a late-firing timer can't poison the next
query) — at sf1 a handful of oracle formulations are structurally
pathological in DuckDB where the Spark side is the scalable one. When a
cap is in force, queries listed in Verify's oracle_iter.json switch to
their ITERATIVE oracle (min-label loop over materialized temp tables —
the sf1-feasible formulation of the recursive-CTE closures), so they are
hash-CHECKED at big SFs instead of excluded. A query that still caps is
reported CAPPED, and fails the run unless named in --allow-cap.
--allow-cap=a,b: explicit allowlist of queries permitted to cap (default
empty — any cap is a gate failure, so a Spark-side wrong answer can never
hide behind a slow oracle).
--json=PATH: write a machine-readable per-query report (CORRECTNESS_SF1
artifact format).
"""
import json, sys, glob, math, os, threading, time
import duckdb
import pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
cap = None
json_out = None
allow_cap = set()
for a in sys.argv[3:]:
    if a.startswith("--cap="):
        cap = float(a.split("=", 1)[1])
    elif a.startswith("--json="):
        json_out = a.split("=", 1)[1]
    elif a.startswith("--allow-cap="):
        allow_cap = set(x for x in a.split("=", 1)[1].split(",") if x)

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    # Spark-written fixtures (ScaleData's sf1) are DIRECTORIES of parts
    p = f"{sfdir}/{t}.parquet"
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
if not oracle:
    # a run that checked nothing is a failure, never "0/0 passed"
    sys.exit(f"{outdir}/oracle_sql.json is empty: no query to check")

CAPPED = object()  # sentinel: the wall cap fired for this statement

def capped_sql(c, sql):
    """Execute one statement on connection/cursor `c` under the wall cap,
    materializing the result (DataFrame for row-returning statements,
    None for DDL) or returning CAPPED. The timer interrupts `c` itself —
    never the shared view connection — so it can't poison another
    query's cursor. Cursors that run FURTHER statements (the iterative-
    oracle group cursor) are protected from the fire-after-finish race
    by the absorption step below: if the timer fired but this statement
    completed, the pending interrupt is soaked up by a sacrificial
    SELECT before anything else runs on the cursor. An interrupt-shaped
    failure only counts as CAPPED when OUR timer fired (any exception
    class — duckdb bindings have surfaced interrupts as generic errors
    across versions); a real oracle error with no timer fired re-raises."""
    def go():
        rel = c.sql(sql)              # DDL executes here, returns None
        return rel.df() if rel is not None else None
    if cap is None:
        return go()
    fired = []
    timer = threading.Timer(cap, lambda: (fired.append(1), c.interrupt()))

    def absorb_pending_interrupt():
        # `fired` is appended BEFORE c.interrupt() runs, and
        # timer.cancel() does not wait for a running callback — so the
        # main thread can observe `fired` while the interrupt has not
        # been ISSUED yet. join() the timer thread first: after it, the
        # interrupt is guaranteed delivered (or the callback never ran at
        # all), and the sacrificial SELECT reliably soaks it up so it
        # can't abort the cursor's NEXT statement (the iterative-oracle
        # group cursor runs many).
        timer.join()
        try:
            c.sql("SELECT 1").df()
        except Exception:
            pass

    timer.start()
    try:
        out = go()
    except duckdb.InterruptException:
        if fired:
            absorb_pending_interrupt()
            return CAPPED
        raise
    except Exception:
        if fired:
            absorb_pending_interrupt()
            return CAPPED
        raise
    finally:
        timer.cancel()
    if fired:
        # statement finished but the timer had already fired: the
        # statement ran over the cap, so it still reports CAPPED.
        absorb_pending_interrupt()
        return CAPPED
    return out

def run_oracle(sql):
    """DuckDB result df on a fresh cursor, or None if the wall cap fired."""
    r = capped_sql(con.cursor() if cap is not None else con, sql)
    return None if r is CAPPED else r

# ---- iterative oracle (Verify's oracle_iter.json) --------------------
# Used only when a cap is in force: without one the recursive originals
# in oracle_sql.json run as-is (driver-gate parity). The temp tables are
# connection-local, so the whole group lives on one dedicated cursor;
# the shared parquet views are catalog-level and visible from it.
iter_spec = None
if cap is not None and os.path.exists(f"{outdir}/oracle_iter.json"):
    iter_spec = json.load(open(f"{outdir}/oracle_iter.json"))
iter_state = {"status": None, "conn": None, "rounds": 0, "wall": 0.0}

def iter_comp():
    """Materialize the shared cc_comp fixpoint once. Returns 'ready' or
    'capped' (a loop statement exceeded the wall cap)."""
    if iter_state["status"]:
        return iter_state["status"]
    c = con.cursor()
    t0 = time.time()
    loop = iter_spec["loop"]
    for sql in (iter_spec["pairs"], loop["edges"], loop["init"]):
        if capped_sql(c, sql) is CAPPED:
            iter_state["status"] = "capped"
            return "capped"
    rounds = 0
    while rounds < iter_spec.get("max_rounds", 200):
        if capped_sql(c, loop["round"]) is CAPPED:
            iter_state["status"] = "capped"
            return "capped"
        changed = capped_sql(c, loop["changed"])
        if changed is CAPPED:
            iter_state["status"] = "capped"
            return "capped"
        n = int(changed.iloc[0, 0])
        c.sql("DROP TABLE cc_comp")
        c.sql("ALTER TABLE cc_next RENAME TO cc_comp")
        rounds += 1
        if n == 0:
            break
    else:
        raise RuntimeError(f"iterative oracle did not converge in {rounds} rounds")
    iter_state.update(status="ready", conn=c, rounds=rounds,
                      wall=time.time() - t0)
    print(f"[iter] cc_comp converged in {rounds} rounds, "
          f"{iter_state['wall']:.1f}s wall")
    return "ready"

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def cell_eq(a, b):
    if pd.isna(a) and pd.isna(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b))
    return a == b

def error_marker(name):
    """Verify writes <name>/_ERROR.json when the query threw (round-4
    lesson: a failed query must red a row, never shrink the report)."""
    p = f"{outdir}/{name}/_ERROR.json"
    if os.path.exists(p):
        try:
            return json.load(open(p)).get("err", "unknown error")
        except Exception:
            return "unreadable _ERROR.json"
    return None

fails = 0
report = {}
def mark(name, status, detail=""):
    report[name] = {"status": status, "detail": detail}

for name, sql in sorted(oracle.items()):
    err = error_marker(name)
    if err is not None:
        print(f"FAIL {name}: spark query threw: {err}"); fails += 1
        mark(name, "fail", f"spark threw: {err[:300]}"); continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output (query silently absent)"); fails += 1
        mark(name, "fail", "no spark output"); continue
    try:
        got = canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
        oracle_kind = ""
        if iter_spec is not None and name in iter_spec["finals"]:
            if iter_comp() == "capped":
                print(f"CAPPED {name}: iterative oracle statement exceeded "
                      f"{cap:.0f}s wall")
                mark(name, "capped", f"iterative oracle > {cap:.0f}s/stmt in DuckDB")
                continue
            r = capped_sql(iter_state["conn"], iter_spec["finals"][name])
            expraw = None if r is CAPPED else r
            oracle_kind = f" [iterative oracle, {iter_state['rounds']} rounds]"
        else:
            expraw = run_oracle(sql)
        if expraw is None:
            print(f"CAPPED {name}: oracle exceeded {cap:.0f}s wall")
            mark(name, "capped", f"oracle > {cap:.0f}s in DuckDB"); continue
        exp = canon(expraw)
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails += 1
        mark(name, "fail", str(e)[:300]); continue
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: cols spark={list(got.columns)} oracle={list(exp.columns)}"); fails += 1
        mark(name, "fail", "column mismatch"); continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows spark={len(got)} oracle={len(exp)}"); fails += 1
        mark(name, "fail", f"rows spark={len(got)} oracle={len(exp)}"); continue
    # normalize datetime-ish columns to comparable form
    for c in got.columns:
        for df in (got, exp):
            if str(df[c].dtype).startswith("datetime"):
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    bad = None
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c], exp[c])):
            if not cell_eq(a, b):
                bad = (c, i, a, b); break
        if bad: break
    if bad:
        c, i, a, b = bad
        print(f"FAIL {name}: value mismatch col={c} row={i} spark={a!r} oracle={b!r}")
        fails += 1
        mark(name, "fail", f"value mismatch col={c} row={i}")
    else:
        mark(name, "pass", f"{len(got)} rows{oracle_kind}")
        # the driver's hash is TYPE-sensitive (round-2 lesson: DuckDB
        # HUGEINT vs Spark int64 reds the gate with identical values) —
        # surface dtype divergence as a warning so it's visible locally
        tw = [f"{c}: spark={got[c].dtype} oracle={exp[c].dtype}"
              for c in got.columns if str(got[c].dtype) != str(exp[c].dtype)]
        suffix = f"  TYPEWARN {'; '.join(tw)}" if tw else ""
        print(f"PASS {name} ({len(got)} rows){oracle_kind}{suffix}")
# Every registered query carries an oracle, so a name in queries.json
# that is missing from oracle_sql.json vanished between the two dumps.
total = len(oracle)
qlist = f"{outdir}/queries.json"
if os.path.exists(qlist):
    for name in json.load(open(qlist)):
        if name not in oracle:
            total += 1
            print(f"FAIL {name}: no oracle SQL"); fails += 1
            mark(name, "fail", "no oracle SQL")

capped = sorted(n for n, r in report.items() if r["status"] == "capped")
# A cap may only EXCLUDE queries explicitly allowlisted via --allow-cap
# (a count-only ceiling let any oracle-slow query silently drop out of
# the gate, where a Spark-side wrong answer could never red it). A cap
# outside the allowlist is a gate FAILURE, not an exclusion. The count
# ceiling stays as belt-and-braces against an over-wide allowlist.
disallowed = sorted(set(capped) - allow_cap)
excluded = sorted(set(capped) & allow_cap)
if json_out:
    summary = {
        "sf_dir": sfdir,
        "n_queries": total,
        "passed": total - fails - len(capped),
        "failed": fails + len(disallowed),
        "capped_excluded": excluded,
        "capped_disallowed": disallowed,
        "cap_sec": cap,
        "queries": report,
    }
    with open(json_out, "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(f"wrote {json_out}")
if excluded:
    print(f"capped (allowlisted, excluded): {len(excluded)}: {', '.join(excluded)}")
if disallowed:
    print(f"CAPPED OUTSIDE ALLOWLIST (gate failure): {', '.join(disallowed)}")
cap_ceiling = max(5, int(0.03 * total))
over_capped = len(capped) > cap_ceiling
if over_capped:
    print(f"TOO MANY CAPPED: {len(capped)} > ceiling {cap_ceiling} — "
          "run is too excluded to count as a pass")
print(f"\n{total-fails-len(capped)}/{total-len(capped)} passed"
      + (f" ({len(capped)} capped: {len(excluded)} excluded, "
         f"{len(disallowed)} FAILED)" if capped else ""))
sys.exit(1 if fails or over_capped or disallowed else 0)
