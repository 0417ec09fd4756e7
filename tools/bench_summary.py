#!/usr/bin/env python3
"""Render BENCH/last_run.md from a bench JSON artifact — mechanically,
so the NOTES prose and the committed artifact can never disagree
(VERDICT r7 finding #1 / next #5: the grid paragraph must be generated
from the artifact it ships with). Bench.scala is frozen for
measurement, so the summary is produced by this post-processing step
from the exact JSON the bench emitted.

Usage: tools/bench_summary.py [RUN_JSON] [PREV_JSON] > BENCH/last_run.md
Defaults: BENCH/last_run.json and BENCH_r07.json (driver format or raw
bench line both accepted for PREV).
"""
import json
import sys


def load(path):
    with open(path) as f:
        doc = json.load(f)
    # driver artifacts wrap the bench line under "parsed"
    return doc.get("parsed", doc)


def fmt(v, spec):
    """format(v, spec), or "n/a" for a field the artifact lacks."""
    return "n/a" if v is None else format(v, spec)


def main():
    run_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH/last_run.json"
    prev_path = sys.argv[2] if len(sys.argv) > 2 else "BENCH_r07.json"
    cur = load(run_path)
    try:
        prev = load(prev_path)
    except OSError:
        prev = None

    q = cur["queries"]
    n = len(q)
    total = cur["value"]
    drift = cur.get("drift")
    sent = cur.get("sentinel", {})
    lines = []
    lines.append(f"## Bench run summary (generated by tools/bench_summary.py from {run_path})")
    lines.append("")
    lines.append(
        f"- **{n} queries, total {total:.1f}s** at `{cur.get('sf', '?')}`; "
        f"errors {cur.get('errors', [])}, flaky {cur.get('flaky', [])}, "
        f"recall {cur.get('recall', {})}.")
    if sent:
        lines.append(
            f"- Tenancy sentinel: min {fmt(sent.get('min'), '.3f')}s, within-run "
            f"spread {fmt(sent.get('spread'), '.2f')}x -> "
            f"**drift {fmt(drift, '.3f')}** "
            f"(1.0 = the round-7 calibration host state; <1 = faster host).")
    if prev:
        ptotal = prev["value"]
        pdrift = prev.get("drift")
        shared = sorted(set(q) & set(prev["queries"]))
        lines.append(
            f"- Previous artifact ({prev_path}): {len(prev['queries'])} queries, "
            f"total {ptotal:.1f}s at drift {pdrift}.")
        if drift and pdrift:
            lines.append(
                f"- Drift-normalized totals: {total / drift:.1f} vs "
                f"{ptotal / pdrift:.1f} reference-host seconds "
                f"({100 * (1 - (total / drift) / (ptotal / pdrift)):.0f}% faster).")
        movers = sorted(
            ((k, q[k], prev["queries"][k]) for k in shared),
            key=lambda t: t[1] - t[2])
        imp = [t for t in movers if t[1] - t[2] < -0.3]
        reg = [t for t in movers if t[1] - t[2] > 0.3]
        lines.append(f"- Movers vs previous (>0.3s): {len(imp)} improved, "
                     f"{len(reg)} regressed.")
        for k, a, b in imp[:15]:
            lines.append(f"    - {k}: {b:.2f} -> {a:.2f}s")
        for k, a, b in reg:
            lines.append(f"    - REGRESSED {k}: {b:.2f} -> {a:.2f}s")
    top = sorted(q.items(), key=lambda kv: -kv[1])[:10]
    lines.append("- Top queries this run: " +
                 ", ".join(f"{k} {v:.2f}s" for k, v in top) + ".")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
