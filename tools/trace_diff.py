#!/usr/bin/env python3
"""Compare two perfbench traces side by side, span by span.

Usage: tools/trace_diff.py PARENT.json CHANGE.json

Each argument is a trace that `perfbench/run.py --trace 1` wrote under
.bench_build/traces/ (e.g. validate_scan-seed41.json), one from each
checkout. Prints one row per span with its jobs, input_mb, shuffle_mb
and self_s on both sides (parent -> change), then `validate.jobs` when
either trace has it. A span name that occurs more than once is matched
by its occurrence order; a span on one side only shows "-" on the other.
"""
import json
import sys

FIELDS = (("jobs", "d"), ("input_mb", ".4f"), ("shuffle_mb", ".4f"), ("self_s", ".3f"))


def spans(path):
    """{(name, occurrence): span} and the keys in trace order."""
    with open(path) as f:
        doc = json.load(f)
    seen, keyed, order = {}, {}, []
    for s in doc["spans"]:
        n = seen.get(s["name"], 0)
        seen[s["name"]] = n + 1
        key = (s["name"], n)
        keyed[key] = s
        order.append(key)
    return doc, keyed, order


def cell(span, field, spec):
    return "-" if span is None else format(span[field], spec)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a_doc, a, a_order = spans(sys.argv[1])
    b_doc, b, b_order = spans(sys.argv[2])
    keys = a_order + [k for k in b_order if k not in a]
    label = lambda k: k[0] if k[1] == 0 else f"{k[0]}#{k[1]}"
    width = max([len(label(k)) for k in keys] + [len("span")])
    print(f"{'span':<{width}}" + "".join(f"  {f:>21}" for f, _ in FIELDS))
    for k in keys:
        pa, pb = a.get(k), b.get(k)
        print(f"{label(k):<{width}}" + "".join(
            f"  {cell(pa, f, s) + ' -> ' + cell(pb, f, s):>21}" for f, s in FIELDS))
    jobs = [d["metrics"].get("validate.jobs", {}).get("value") for d in (a_doc, b_doc)]
    if any(j is not None for j in jobs):
        fmt = lambda v: "-" if v is None else format(v, "g")
        print(f"validate.jobs: {fmt(jobs[0])} -> {fmt(jobs[1])}")


if __name__ == "__main__":
    main()
