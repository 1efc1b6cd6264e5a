#!/usr/bin/env python3
"""Survey of the registry's headline battery, from which the `battery`
workload's query slice is chosen.

perfbench.Survey times every headline row that stays inside the working
directory (walls at sf0.1 and sf0.01, actions, jobs, the two-scale fit) and
writes each row's output at the oracle scale. This script then times each
row's DuckDB oracle check (tools/check.py), picks the slice with `select`
and writes everything to perfbench/results/battery_survey.json. It takes
about fifteen minutes on four cores.

Usage, from the repository root:
    python3 perfbench/survey.py            # measure and choose
    python3 perfbench/survey.py --select   # choose again from the recorded survey
"""
import json
import os
import shutil
import subprocess
import sys
import time

import run

# A row's oracle check must finish within this many seconds to be eligible:
# every check runs inside each battery run.
CHECK_LIMIT_S = 5.0
# Rows with at least this many actions are the multi-action rows.
MULTI_ACTION = 5
# sf0.1 seconds one battery pass may take.
BUDGET_S = 9.0
TARGETS = ("fixed_share", "jobs_per_query", "actions_per_query")


def stats(rows):
    t = sum(r["sf0.1_s"] for r in rows)
    return {"queries": len(rows), "sf0.1_s": t,
            "fixed_share": sum(r["fixed_s"] for r in rows) / t,
            "jobs_per_query": sum(r["jobs"] for r in rows) / len(rows),
            "actions_per_query": sum(r["actions"] for r in rows) / len(rows)}


def select(rows):
    """Every eligible multi-action row; then, while the slice's sf0.1 time
    stays within BUDGET_S, the eligible row that brings its fixed share,
    jobs per query and actions per query closest to the whole battery's
    (sum of the three relative distances)."""
    whole = stats(list(rows.values()))

    def distance(names):
        s = stats([rows[n] for n in names])
        return sum(abs(s[k] - whole[k]) / whole[k] for k in TARGETS)

    ok = sorted(n for n, r in rows.items() if r["check_s"] is not None and r["check_s"] <= CHECK_LIMIT_S)
    chosen = [n for n in ok if rows[n]["actions"] >= MULTI_ACTION]
    while True:
        room = BUDGET_S - sum(rows[n]["sf0.1_s"] for n in chosen)
        fits = [n for n in ok if n not in chosen and rows[n]["sf0.1_s"] <= room]
        if not fits:
            return chosen
        chosen.append(min(fits, key=lambda n: (distance(chosen + [n]), n)))


def check_time(outputs, sf, name):
    """Seconds tools/check.py takes on one row, or None if it fails or
    runs past the limit."""
    t0 = time.monotonic()
    try:
        p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"), outputs, sf, name],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=2 * CHECK_LIMIT_S)
    except subprocess.TimeoutExpired:
        return None
    return time.monotonic() - t0 if p.returncode == 0 else None


def measure():
    """Run perfbench.Survey and time each row's oracle check."""
    env = dict(os.environ, SPARK_HOME=run.spark_home())
    cp = run.build(env)
    work = os.path.join(run.WORK_DIR, "survey")
    outputs = os.path.join(work, "outputs")
    raw = os.path.join(work, "survey.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        subprocess.run([*run.java(cp, work, env), "perfbench.Survey", "--work", work,
                        "--cores", run.cores(), "--out", raw, "--outputs", outputs],
                       cwd=run.ROOT, env=env, check=True, timeout=3600)
        with open(raw) as f:
            survey = json.load(f)
        sf = os.path.join(survey.pop("fixtures"), survey["oracle_scale"])
        for name, row in survey["rows"].items():
            row["check_s"] = check_time(outputs, sf, name)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(run.WORK_DIR) and not os.listdir(run.WORK_DIR):
            os.rmdir(run.WORK_DIR)
    return survey


def main():
    out = os.path.join(run.HERE, "results", "battery_survey.json")
    if sys.argv[1:] == ["--select"]:
        with open(out) as f:
            survey = json.load(f)
    else:
        survey = measure()
    rows = survey["rows"]
    slice_ = select(rows)
    survey.update({"check_limit_s": CHECK_LIMIT_S, "multi_action": MULTI_ACTION, "budget_s": BUDGET_S,
                   "whole": stats(list(rows.values())), "slice": slice_,
                   "slice_stats": stats([rows[n] for n in slice_])})
    with open(out, "w") as f:
        json.dump(survey, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"slice": slice_, "slice_stats": survey["slice_stats"], "whole": survey["whole"]}))


if __name__ == "__main__":
    main()
