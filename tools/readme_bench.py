#!/usr/bin/env python3
"""Regenerate README.md's bench paragraph from bench.json (dev tool only).

Round-7 verdict item 4: the README carried hand-written perf claims
("slowest ~5.5 s", "all strict-identical") that a fresh bench/driver run
contradicted. This tool makes every numeric claim mechanical: it reads
the committed bench.json and rewrites the block between
BENCH_STATS_BEGIN/END markers. Run it whenever bench.json is refreshed;
a README that disagrees with bench.json is then a one-command fix, and
any hand edit inside the markers is overwritten.

Round-8 verdict item 4: numbers are now PROVENANCE-LABELED (builder-host
vs driver-host). The builder numbers come from the committed bench.json;
the driver-host totals are read from the newest BENCH_r*.json tail so the
README never quotes a builder number a driver run silently contradicts.
Round-8 verdict item 3: the per-query profile quotes the MEDIAN across
the warm passes (which run in different seeded registry orders since r9),
so one order-dependent outlier cannot define a query's quoted time.

Usage: python3 tools/readme_bench.py [bench.json] [README.md]
"""
import json, re, statistics, sys
from pathlib import Path

BENCH = Path(sys.argv[1] if len(sys.argv) > 1 else "bench.json")
README = Path(sys.argv[2] if len(sys.argv) > 2 else "README.md")

b = json.loads(BENCH.read_text())

# Per-query warm statistic. The r10+ Bench writes its own cross-pass
# robust stat into "queries" (min of 2 passes, median at >=3 — the
# "warm_stat" field names it); quote exactly that so the README and the
# bench headline can never disagree. Older bench.json files carry the
# last pass alone in "queries" — recompute the median across
# warm_passes for those.
stat_name = b.get("warm_stat")
if stat_name:
    med_q = dict(b["queries"])
    stat_label = {"min_warm": "min", "median_warm": "median"}.get(
        stat_name, stat_name)
else:
    passes = [p["times"] for p in b.get("warm_passes", []) if p.get("times")]
    if not passes:
        passes = [b["queries"]]
    med_q = {k: statistics.median([p[k] for p in passes if k in p])
             for k in b["queries"]}
    stat_label = "median"
times = sorted(med_q.values())
n = len(times)
slowest = sorted(med_q.items(), key=lambda kv: -kv[1])[:3]
under2 = sum(1 for t in times if t < 2.0)
med = times[n // 2]
orders = len([p for p in b.get("warm_passes", []) if p.get("times")]) or 1

# Driver-host totals, newest round first. Two artifact shapes per round:
# BENCH_r<N>.json (the driver's capture — totals live in a BENCH_SUMMARY
# line inside its "tail") and bench_driver_r<N>.json (a full Bench JSON
# preserved by the builder when the driver's tail capture was swamped —
# r11: hundreds of WindowExec warnings pushed BENCH_SUMMARY out of the
# 2000-char tail, leaving parsed=null). Walk rounds newest→oldest and
# take the first artifact that yields totals, so a single malformed
# capture degrades to the freshest PARSEABLE driver run (with its name
# as provenance), never to a silently dropped driver row.
driver_note = ""

def _from_tail(p):
    tail = json.loads(p.read_text()).get("tail", "")
    m = re.search(r'BENCH_SUMMARY ({.*?})', tail)
    if not m:
        return None
    d = json.loads(m.group(1))
    return (p.name, d["n_queries"], d["total"], d["cold_total"])

def _from_full(p):
    d = json.loads(p.read_text())
    if d.get("total") is None or d.get("cold_total") is None:
        return None
    return (p.name, d.get("n_queries", len(d.get("queries", {}))),
            d["total"], d["cold_total"])

_cands = {}
for pat, kind in (("BENCH_r*.json", 0), ("bench_driver_r*.json", 1)):
    for p in Path(".").glob(pat):
        m = re.search(r"r(\d+)$", p.stem)
        if m:
            _cands.setdefault(int(m.group(1)), []).append((kind, p))
for rnd in sorted(_cands, reverse=True):
    hit = None
    for kind, p in sorted(_cands[rnd]):
        try:
            hit = _from_tail(p) if kind == 0 else _from_full(p)
        except (json.JSONDecodeError, KeyError, AttributeError, TypeError):
            hit = None
        if hit:
            break
    if hit:
        name, nq, tot, cold = hit
        driver_note = (f" Driver-host ({name}, {nq} queries): "
                       f"warm {tot:.1f} s, cold {cold:.1f} s.")
        break

# Bench records its core count since schema 2; older files name none.
cores = f"local[{b['cpus']}]" if "cpus" in b else "core count not recorded"

# Per-layer split of each pass (schema 2 records): the share of the wall
# spent building DataFrames, planning and executing, plus exclusive
# artifact-build time (inside construction).
def _split(label, recs):
    s = {f: sum(r[f] for r in recs.values()) / 1e3
         for f in ("construct_ms", "plan_ms", "exec_ms", "artifact_ms")}
    return (f"{label}: construct {s['construct_ms']:.1f} s (artifact builds "
            f"{s['artifact_ms']:.1f} s), plan {s['plan_ms']:.1f} s, "
            f"exec {s['exec_ms']:.1f} s")

layer_parts = [_split(f"warm pass {i + 1} ({p['order']})", p["records"])
               for i, p in enumerate(b.get("warm_passes", [])) if "records" in p]
if "cold_records" in b:
    layer_parts.append(_split("cold", b["cold_records"]))
layer_lines = ["Per-layer split: " + "; ".join(layer_parts) + "."] if layer_parts else []

lines = [
    f"Latest full bench (`bench.json`, **builder-host**, sf `{b['sf']}`, "
    f"{cores}, {b['n_queries']} queries): warm total {b['total']:.1f} s, "
    f"cold total {b['cold_total']:.1f} s (session caches cleared before "
    f"every query); failed_warm={b['failed_warm']}, "
    f"failed_cold={b['failed_cold']}; first-pass session-artifact builds "
    f"{b['first_pass_artifact_build_s']:.1f} s.{driver_note}",
    f"Warm per-query profile (builder-host {stat_label} across {orders} pass "
    f"order{'s' if orders != 1 else ''}): median {med:.2f} s, {under2}/{n} "
    f"queries under 2 s; slowest three: "
    + ", ".join(f"{k} {v:.1f} s" for k, v in slowest) + ".",
] + layer_lines + [
    "Totals vary ~±10–20% run-to-run with page-cache state and ~1.3–1.5×",
    "between hosts; the full per-query map is the committed `bench.json`.",
]
block = "\n".join(lines)

text = README.read_text()
new, cnt = re.subn(
    r"(<!-- BENCH_STATS_BEGIN[^>]*-->).*?(<!-- BENCH_STATS_END -->)",
    lambda m: m.group(1) + "\n" + block + "\n" + m.group(2),
    text, flags=re.S)
if cnt != 1:
    sys.exit("BENCH_STATS markers not found (or found twice) in README.md")
README.write_text(new)
print(block)
