"""Median and quartiles of each metric over a set of benchmark results.

    python3 perfbench/summary.py results/*.json
    python3 perfbench/summary.py parent/*.json --vs change/*.json

A result file holds either the JSON line `perfbench/run.py` prints (its
last line that parses counts) or a full record from `.bench_runs/`. The
spread is the distance between the first and third quartile as a share of
the median, as `statistics.quantiles(values, n=4)` gives them; with the
bounds of BENCHMARK.json a spread of more than a third of the bound is
flagged. With `--vs`, each metric's median in the second set is compared
with the first, and a change worse than the bound is flagged.
"""
import argparse
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True


def load(path):
    """{metric: value} of one result file."""
    doc = None
    with open(path) as fh:
        text = fh.read()
    try:
        doc = json.loads(text)
    except ValueError:
        for line in reversed(text.splitlines()):
            try:
                doc = json.loads(line)
                break
            except ValueError:
                continue
    if not isinstance(doc, dict):
        raise SystemExit("%s: no benchmark result" % path)
    if "metrics" in doc:
        return {k: v["value"] for k, v in doc["metrics"].items()}
    return dict(doc.get("end_to_end", {}), **doc.get("per_layer", {}))


def stats(values):
    """(n, q1, median, q3, spread) of a list of values."""
    med = statistics.median(values)
    if len(values) < 2:
        return len(values), med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return len(values), q1, med, q3, (q3 - q1) / abs(med) if med else float("inf")


def collect(paths):
    out = {}
    for p in paths:
        for k, v in load(p).items():
            out.setdefault(k, []).append(v)
    return out


def summarize(a, b=None, spec=None):
    """Rows of text: one line per metric."""
    bounds = {m["name"]: m for m in (spec or {}).get("end_to_end", [])}
    lower = {m["name"]: m["better"] == "lower"
             for m in (spec or {}).get("end_to_end", []) + (spec or {}).get("per_layer", [])}
    head = "%-40s %3s %12s %12s %12s %7s" % ("metric", "n", "q1", "median", "q3", "spread")
    if b is not None:
        head += " %12s %8s" % ("vs median", "change")
    rows = [head]
    for k in sorted(a):
        n, q1, med, q3, spread = stats(a[k])
        flag = ""
        if k in bounds and k != "setup_s" and spread > bounds[k]["bound"] / 3:
            flag = "  spread > bound/3"
        line = "%-40s %3d %12.5g %12.5g %12.5g %6.1f%%" % (k, n, q1, med, q3, 100 * spread)
        if b is not None and k in b:
            med_b = statistics.median(b[k])
            change = (med_b - med) / abs(med) if med else float("inf")
            line += " %12.5g %+7.1f%%" % (med_b, 100 * change)
            worse = change if lower.get(k, True) else -change
            if k in bounds and worse > bounds[k]["bound"]:
                flag += "  worse than bound %.0f%%" % (100 * bounds[k]["bound"])
        rows.append(line + flag)
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("files", nargs="+")
    ap.add_argument("--vs", nargs="+", default=None, help="a second set to compare")
    ap.add_argument("--bench", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
    args = ap.parse_args(argv)
    spec = None
    if os.path.exists(args.bench):
        with open(args.bench) as fh:
            spec = json.load(fh)
    for row in summarize(collect(args.files), collect(args.vs) if args.vs else None, spec):
        print(row)


if __name__ == "__main__":
    main()
