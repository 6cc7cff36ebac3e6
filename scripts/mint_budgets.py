#!/usr/bin/env python3
"""Re-mint BUDGETS.json from N quiet-box full-bench runs (round 13).

The round-12 verdict's finding: ceilings minted from a single run alarm on
the adjudicated box-noise class (rel_cube_revenue 1.074 vs 1.0 with an
unchanged trivial plan). The remedy is an explicit margin rule over a
MULTI-run median:

    ceiling(q) = max( MARGIN_MULT * median_i(sec_i(q)),
                      median_i(sec_i(q)) + MARGIN_ADD )

with sec_i the best-of-2 per-query seconds of quiet-box run i. The
multiplicative term covers proportional drift on slow queries; the
additive floor keeps sub-300ms queries from minting alarm-on-noise
ceilings (a 0.2 s query can drift +0.3 s on a busy scheduler tick without
any plan change). The rule and inputs are recorded in a _provenance_*
string entry (string values are invisible to BudgetCheck's name->number
regex parser, so provenance never becomes a fake budget row).

The core count the runs used is recorded as `_cpus`: graft.Bench checks
budgets only on runs at that core count (and at sf0.1), because ceilings
minted on 32 cores say nothing about an 8-core run. Keys starting with `_`
are never budgets.

Usage: python3 scripts/mint_budgets.py --cpus N BENCH1.json BENCH2.json ... > BUDGETS.json
"""
import json, statistics, sys, datetime

MARGIN_MULT = 1.25
MARGIN_ADD = 0.30

args = sys.argv[1:]
if len(args) < 2 or args[0] != "--cpus" or not args[1].isdigit():
    raise SystemExit("usage: mint_budgets.py --cpus N BENCH1.json BENCH2.json ...")
cpus, paths = int(args[1]), args[2:]
runs = [json.load(open(p))["queries"] for p in paths]
if len(runs) < 2:
    raise SystemExit("need >= 2 bench files for a meaningful median")
names = sorted(set().union(*[set(r) for r in runs]))
out = {}
for n in names:
    vals = [r[n] for r in runs if n in r]
    med = statistics.median(vals)
    out[n] = round(max(MARGIN_MULT * med, med + MARGIN_ADD), 3)
prov = (f"rule=max({MARGIN_MULT}*median, median+{MARGIN_ADD}s) over "
        f"{len(runs)} quiet-box best-of-2 runs; minted "
        f"{datetime.date.today().isoformat()}; run totals "
        + ",".join(f"{sum(r.values()):.1f}s" for r in runs))
print("{")
print(f'  "_cpus": {cpus},')
print(f'  "_provenance_rule": {json.dumps(prov)},')
body = ",\n".join(f'  "{n}": {out[n]}' for n in names)
print(body)
print("}")
