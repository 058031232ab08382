#!/usr/bin/env python3
"""Derives the analytics_floor query set from the repository's r14 bench
records and prints how the set compares to the class it stands for.

    python3 perfbench/floor_set.py      # from the checkout root

The class is the 63 pure `q*`/`sql_*` queries (a plan and one action,
no sink). Each query's time is its median cold time over the four r14
records that time every query at sf0.1. The set is the queries at the
class's 10th, 50th and 90th percentiles of that time, so the set's
median is the class median and its spread follows the class. Three,
not more, so that the set and the operator query generate no more
classes than Spark's code cache holds (see Main.AnalyticsQueries).
graft.perfbench.Main.FloorQueries must list what this prints.
"""
import json
import os
import statistics

RECORDS = ["bench_r14opt_before.json", "bench_snapshot_r14opt_fresh.json",
           "bench_snapshot_r14opt_paired.json", "bench_r14opt_cpus8.json"]
PERCENTILES = (0.1, 0.5, 0.9)


def class_times(root="."):
    recs = []
    for name in RECORDS:
        with open(os.path.join(root, name)) as fh:
            recs.append(json.load(fh)["queries"])
    names = sorted(n for n in recs[0] if n.startswith(("q", "sql_")))
    return {n: statistics.median(r[n] for r in recs) for n in names}


def floor_set(times):
    ranked = sorted(times, key=lambda n: (times[n], n))
    return [ranked[round(p * len(ranked) - 0.5)] for p in PERCENTILES]


def main():
    times = class_times()
    chosen = floor_set(times)
    cls = list(times.values())
    pick = [times[n] for n in chosen]
    q = lambda xs: [round(x, 3) for x in statistics.quantiles(xs, n=4)]
    print(f"class: {len(cls)} queries, quartiles {q(cls)} s, mean {statistics.mean(cls):.3f} s")
    print(f"set:   {len(pick)} queries, median {statistics.median(pick):.3f} s, "
          f"mean {statistics.mean(pick):.3f} s")
    for n in chosen:
        rank = sorted(cls).index(times[n]) + 1
        print(f"  {n:28s} {times[n]:.3f} s  rank {rank}/{len(cls)}")


if __name__ == "__main__":
    main()
