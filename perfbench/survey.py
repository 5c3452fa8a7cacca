#!/usr/bin/env python3
"""Picks a workload's job sample from a traced pass over its job family.

Usage:

    python3 perfbench/survey.py <survey.jsonl> <n>

The input is the trace that `graftbench.Survey` writes (one row per job
of the family). Each job's wall time is split into the layers the traced
run reports: `Tables.read` footer jobs, operator build, Catalyst and
execution. Jobs are put in strata by footer-job count and by driver-side
share (footer jobs + build + Catalyst over wall, below or above the
family median); each stratum gets seats in proportion to its job count.
Among 50,000 seeded draws with that allocation, the sample whose layer
split (each layer's summed time over summed wall) is closest to the
family's, summed over the four layers, wins. Prints the sample and the
comparison with the family.
"""
import argparse
import json
import random
import statistics

LAYERS = ("tables", "build", "catalyst", "exec")


def load(path):
    jobs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r.get("kind") != "query":
                continue
            b, c = r["build"], r["catalyst"]
            jobs[r["job"]] = {
                "wall": r["wall_ms"],
                "footers": b["tables_jobs"],
                "tables": b["tables_job_ms"],
                "build": b["self_ms"],
                "catalyst": c["analysis_ms"] + c["optimization_ms"] + c["planning_ms"],
                "exec": r["exec"]["ms"],
            }
    return jobs


def split(jobs, names):
    wall = sum(jobs[n]["wall"] for n in names)
    return {k: sum(jobs[n][k] for n in names) / wall for k in LAYERS}


def driver_share(j):
    return (j["tables"] + j["build"] + j["catalyst"]) / j["wall"]


def summary(jobs, names):
    s = split(jobs, names)
    return {
        "jobs": len(names),
        "median_wall_ms": statistics.median(jobs[n]["wall"] for n in names),
        "sum_wall_s": sum(jobs[n]["wall"] for n in names) / 1000,
        "footers_per_job": sum(jobs[n]["footers"] for n in names) / len(names),
        "driver_share": s["tables"] + s["build"] + s["catalyst"],
        **{f"{k}_share": v for k, v in s.items()},
    }


def strata(jobs):
    med = statistics.median(driver_share(j) for j in jobs.values())
    out = {}
    for n, j in sorted(jobs.items()):
        key = (min(j["footers"], 3), driver_share(j) > med)
        out.setdefault(key, []).append(n)
    return out


def seats(groups, n):
    total = sum(len(v) for v in groups.values())
    exact = {k: n * len(v) / total for k, v in groups.items()}
    got = {k: int(x) for k, x in exact.items()}
    # largest remainders take the seats left
    for k in sorted(exact, key=lambda k: exact[k] - got[k], reverse=True):
        if sum(got.values()) == n:
            break
        got[k] += 1
    return got


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("survey")
    ap.add_argument("n", type=int)
    args = ap.parse_args()
    jobs = load(args.survey)
    family = sorted(jobs)
    groups = strata(jobs)
    alloc = seats(groups, args.n)
    target = split(jobs, family)
    rng = random.Random(0)
    best, best_d = None, None
    for _ in range(50000):
        pick = [n for k, v in sorted(groups.items()) for n in rng.sample(v, alloc[k])]
        s = split(jobs, pick)
        d = sum(abs(s[k] - target[k]) for k in LAYERS)
        if best_d is None or d < best_d:
            best, best_d = sorted(pick), d
    print("strata (footer jobs capped at 3, driver share above the median):")
    for k, v in sorted(groups.items()):
        print(f"  {k}: {len(v)} jobs, {alloc[k]} picked")
    print("sample:", " ".join(best))
    fam, smp = summary(jobs, family), summary(jobs, best)
    print(f"{'':18s} {'family':>10s} {'sample':>10s}")
    for k in fam:
        print(f"{k:18s} {fam[k]:10.3f} {smp[k]:10.3f}")


if __name__ == "__main__":
    main()
