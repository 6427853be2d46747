#!/usr/bin/env python3
"""Spark-vs-DuckDB per-query timing comparison.

Times every oracle SQL (from a Verify outdir's oracle_sql.json) in DuckDB
against the same parquet tables, best-of-3, and joins the numbers with the
Spark side from a BENCH_DETAIL_r*.json. Writes ORACLE_BENCH.md.

Queries whose DuckDB formulation is structurally pathological get a wall
cap (con.interrupt() from a timer thread) and are reported as ">cap" —
e.g. c1/c2's recursive-CTE transitive closure, which DuckDB runs for
minutes where the Spark label-propagation loop takes a fraction of a
second. The cap keeps the artifact reproducible in bounded time; capped
queries are EXCLUDED from the matched-total ratio (both sides), so the
headline never benefits from an opponent's timeout.

Usage: oraclebench.py <sfDir> <verifyOutDir> <benchDetailJson> [capSec=30]
"""
import json, sys, threading, time

import duckdb

sfdir, outdir, benchjson = sys.argv[1], sys.argv[2], sys.argv[3]
cap = float(sys.argv[4]) if len(sys.argv) > 4 else 30.0

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
bench = json.load(open(benchjson))
spark_times = {k: v["best_sec"] for k, v in bench["queries"].items()
               if v.get("err") is None}


def timed(sql):
    """Best-of-3 wall seconds, or None if the cap fired."""
    best = None
    for _ in range(3):
        fired = []
        timer = threading.Timer(cap, lambda: (fired.append(1), con.interrupt()))
        timer.start()
        t0 = time.time()
        try:
            con.sql(sql).fetchall()
            dt = time.time() - t0
        except duckdb.InterruptException:
            return None
        except Exception:
            # any interrupt surfaces differently across versions
            if fired:
                return None
            raise
        finally:
            timer.cancel()
        best = dt if best is None else min(best, dt)
    return best


rows = []
for name in sorted(oracle):
    if name not in spark_times:
        continue
    dt = timed(oracle[name])
    rows.append((name, spark_times[name], dt))
    d = f"{dt:.3f}" if dt is not None else f">{cap:.0f} (capped)"
    print(f"[oraclebench] {name:32s} spark {spark_times[name]:7.3f}  duck {d}")

matched = [(s, d) for _, s, d in rows if d is not None]
ts, td = sum(s for s, _ in matched), sum(d for _, d in matched)
# The aggregate ratio over 200+ queries is dominated by Spark's fixed
# per-query job floor (~0.2-0.5s of scheduling/codegen per tiny query at
# local[32]) against DuckDB's ~ms embedded floor — a constant that
# VANISHES at scale (SCALING.md: slopes ≤~1 into sf1). Report the
# work-bound subset (oracle itself ≥ 0.5s) alongside, where engine
# efficiency rather than the floor is what's measured.
heavy = [(s, d) for _, s, d in rows if d is not None and d >= 0.5]
th, dh = sum(s for s, _ in heavy), sum(d for _, d in heavy)

lines = [
    "# ORACLE_BENCH — Spark (local[32]) vs DuckDB, same parquet, sf0.1\n",
    "Spark seconds = best-of-N from `BENCH_DETAIL` (graft.Bench protocol);",
    "DuckDB seconds = best-of-3 of the oracle SQL via the python client.",
    f"Capped queries (> {cap:.0f}s in DuckDB) are excluded from BOTH totals.\n",
    f"**Matched total ({len(matched)} queries): Spark {ts:.1f}s vs DuckDB"
    f" {td:.1f}s — ratio {ts / td:.2f}x**\n",
    f"**Work-bound subset (DuckDB ≥ 0.5s, {len(heavy)} queries): Spark"
    f" {th:.1f}s vs DuckDB {dh:.1f}s — ratio {th / dh:.2f}x**" if heavy else "",
    "",
    "The full-inventory ratio carries Spark's fixed per-query job floor",
    "multiplied by 200+ sub-second queries — a CONSTANT per query, not a",
    "slope; SCALING.md's sf1 decade shows per-query growth ≤~1.1x per 10x",
    "data while the floor stays flat. The work-bound subset compares the",
    "engines where the oracle itself does real work.\n",
    "## Floor decomposition (r10, OPTIMIZATION_r10.md §7)\n",
    "Five floor-bound queries (x1, m1, s8, a4, a14), fresh plan per",
    "sample, best-of-5 per arm, four interleaved conf arms in one JVM,",
    "with a SparkListener splitting execution into task work vs",
    "everything else. Where the floor lives (aqe+sp32, the shipped conf):\n",
    "| component | measured | share |",
    "|---|---|---|",
    "| analysis→physical planning (fresh plan, codegen cache hot) | 11–33 ms | ~20% |",
    "| parallel task work (Σ task runtime / 32 slots) | 0.4–5 ms | ~2% |",
    "| job/stage round-trips (launch, dispatch, AQE stage barriers) | 45–107 ms | ~78% |\n",
    "Per-query totals 0.06–0.13 s over 3–5 jobs ⇒ ~25–35 ms per job at",
    "local[32]; under AQE every materialized exchange stage is its own",
    "job. Codegen is NOT the floor: the plan share is post-cache-hit, and",
    "the 220-query bench loop's bests for these five MATCH the isolated",
    "probe's (BENCH_DETAIL x1 0.052 s vs probe 0.104 s), so the",
    "2000-entry codegen cache absorbs the full suite without cross-query",
    "recompile stalls. Conf arms: `noaqe+sp32` is a wash",
    "(fewer jobs, 3–10x more tasks); `noaqe+sp8` wins 10–20% on these",
    "five (e.g. a14 0.121→0.100 s) — MEASURED NEGATIVE for adoption:",
    "disabling AQE trades away skew-join splitting and runtime coalescing",
    "(the 100 TB posture, GraftSession's stated stance) and pinning 8",
    "shuffle partitions under-parallelizes every work-bound query, to",
    "save ~2–4 s across a 220-query suite. The floor is scheduler",
    "round-trips, irreducible at local[32] without giving up the",
    "cluster-shaped plan discipline; on a real cluster it amortizes to",
    "noise the moment any query runs >1 s.\n",
    "| query | spark s | duckdb s | spark/duck |",
    "|---|---|---|---|",
]
for name, s, d in rows:
    if d is None:
        lines.append(f"| {name} | {s:.3f} | >{cap:.0f} (capped) | — |")
    else:
        lines.append(f"| {name} | {s:.3f} | {d:.3f} | {s / d:.2f} |")
open("ORACLE_BENCH.md", "w").write("\n".join(lines) + "\n")
print(f"[oraclebench] wrote ORACLE_BENCH.md: {len(matched)} matched, "
      f"spark {ts:.1f}s vs duckdb {td:.1f}s")
