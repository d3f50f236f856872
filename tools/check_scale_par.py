#!/usr/bin/env python3
"""DuckDB oracle gate for the big scale factors: each query's check runs
in its own subprocess under a timeout, and a query that times out is
reported as excluded. A sequential gate's wall clock is the sum of the
oracle times, which the 30x fixture turns into hours even though 95% of
queries check in seconds, so this runner drives N worker lanes (1 lane
is the sequential gate) and accepts per-query timeout OVERRIDES
("q173_cf_neighbors=10800"), so the one legitimately-quadratic chain
gets the wall clock it needs without raising the whole gate's hang
ceiling. Longest-timeout queries are scheduled FIRST so the long pole
overlaps the bulk.

Usage:
  python3 tools/check_scale_par.py <sfdir> <outdir> <timeout> <out.json>
      [workers] [q=timeout ...]
"""
import sys, json, subprocess, time, os
from concurrent.futures import ThreadPoolExecutor

sfdir, outdir = sys.argv[1], sys.argv[2]
timeout = int(sys.argv[3])
report_path = sys.argv[4]
workers = int(sys.argv[5]) if len(sys.argv) > 5 else 4
overrides = dict(a.split("=") for a in sys.argv[6:])

oracles = json.load(open(f"{outdir}/oracle_sql.json"))
here = os.path.dirname(os.path.abspath(__file__))
results = {}

def budget(name):
    return int(overrides.get(name, timeout))

def one(name):
    t0 = time.time()
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(here, "check.py"), sfdir, outdir, name],
            capture_output=True, text=True, timeout=budget(name))
        dt = round(time.time() - t0, 2)
        ok = p.returncode == 0
        line = next((l for l in p.stdout.splitlines()
                     if l.startswith(("OK", "FAIL"))), "").strip()
        print(f"{'OK  ' if ok else 'FAIL'} {name}: {dt}s  {line[:160]}",
              flush=True)
        return name, {"status": "ok" if ok else "fail", "sec": dt,
                      "detail": line[:400]}
    except subprocess.TimeoutExpired:
        dt = round(time.time() - t0, 2)
        print(f"TIME {name}: excluded after {dt}s", flush=True)
        return name, {"status": "timeout", "sec": dt,
                      "detail": f"oracle exceeded {budget(name)}s wall clock"}

# longest-budget first, then name order for determinism of scheduling
order = sorted(oracles, key=lambda n: (-budget(n), n))
with ThreadPoolExecutor(max_workers=workers) as ex:
    for name, r in ex.map(one, order):
        results[name] = r

n_ok = sum(1 for r in results.values() if r["status"] == "ok")
n_fail = sum(1 for r in results.values() if r["status"] == "fail")
n_timeout = sum(1 for r in results.values() if r["status"] == "timeout")
summary = {
    "sfdir": sfdir, "n_queries": len(oracles), "n_ok": n_ok,
    "n_fail": n_fail, "n_timeout": n_timeout,
    "workers": workers,
    "timeout_overrides": overrides,
    "excluded": [n for n, r in results.items() if r["status"] == "timeout"],
    "failed": [n for n, r in results.items() if r["status"] == "fail"],
    "slowest": sorted(((r["sec"], n) for n, r in results.items()),
                      reverse=True)[:15],
    "results": {n: results[n] for n in sorted(results)},
}
json.dump(summary, open(report_path, "w"), indent=1)
print(f"\n{n_ok} OK / {n_fail} FAIL / {n_timeout} TIMEOUT "
      f"of {len(oracles)} queries")
sys.exit(1 if (n_fail or n_timeout) else 0)
