#!/usr/bin/env python3
"""Compare two sets of benchmark reports (the JSON files `run.py` keeps under
`<build dir>/perfbench/reports/`), metric by metric.

    python3 perfbench/compare.py <before dir or files...> -- <after dir or files...>

Prints, for every workload and metric both sides measured, each side's
median over its runs with the quartile spread ((Q3 - Q1) / median, from four
runs on), and the relative change of the medians. Refuses to compare runs
taken at different core counts or memory sizes: a figure from another host
shape is not a before/after pair.
"""
import glob
import json
import os
import statistics
import sys

import stats


def load(paths):
    files = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "*.json"))) if os.path.isdir(p) else [p]
    return [json.load(open(f)) for f in files]


def host_shape(report):
    h = report["host"]
    return h["nproc"], h["spark_cores"], round(h["mem_total_mb"] / 1024)


def values(reports):
    by = {}
    for r in reports:
        for name, m in r["metrics"].items():
            by.setdefault((r["workload"], r["traced"], name), []).append(m["value"])
    return by


def spread(vs):
    return stats.quartile_spread(vs) if len(vs) >= 4 and statistics.median(vs) else float("nan")


def main(argv):
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    before, after = load(argv[:cut]), load(argv[cut + 1:])
    shapes = {host_shape(r) for r in before + after}
    if len(shapes) != 1:
        raise SystemExit(f"refusing to compare runs from different host shapes "
                         f"(nproc, spark cores, GiB): {sorted(shapes)}")
    a, b = values(before), values(after)
    for key in sorted(set(a) & set(b)):
        workload, traced, name = key
        ma, mb = statistics.median(a[key]), statistics.median(b[key])
        change = (mb - ma) / ma if ma else float("nan")
        print(f"{workload:20s} {'trace' if traced else 'e2e':5s} {name:36s} "
              f"{ma:12.6g} ({spread(a[key]):6.1%}) {mb:12.6g} ({spread(b[key]):6.1%}) "
              f"{change:+8.1%}")


if __name__ == "__main__":
    main(sys.argv[1:])
