#!/usr/bin/env python3
"""Merge N graft.Bench JSON lines into a per-query median record.

Usage: tools/bench_median.py out/bench_r6_a.json [more.json ...] > out/bench_r6.json

Each run's per-entry `modes` field decides where a sample goes: "warm"
and "substrate" samples (what Bench's `value` sums) into `queries`,
"single" samples — one cold pass — into `queries_single`, so cold
samples are never mixed into warm medians. `queries_cold` holds every
entry's cold-pass median. NaN-sentinel -1 samples are excluded (an
entry with none left records -1); totals are the sums of the medians.
Single runs on this host are a stall lottery (see README bench note).

SHA consistency (VERDICT r12 #7): every pass stamps the git SHA of the
tree it measured ("sha" field, "<sha>-dirty" when uncommitted changes
were present). Mixing passes from different SHAs silently merges
samples of DIFFERENT plans (the q_edit_pairs r12 episode: 6 passes
measured a dead plan and had to be hand-excluded at merge time) — so
this merge REFUSES cross-SHA and dirty-tree inputs unless
--allow-mixed-sha is given explicitly.
"""
import json, statistics, sys


def load(path):
    with open(path) as f:
        txt = f.read()
    line = next(l for l in txt.splitlines() if l.lstrip().startswith("{"))
    return json.loads(line)


def main(paths):
    allow_mixed = "--allow-mixed-sha" in paths
    paths = [p for p in paths if p != "--allow-mixed-sha"]
    runs = [load(p) for p in paths]
    shas = {p: r.get("sha", "unknown") for p, r in zip(paths, runs)}
    problems = []
    if len(set(shas.values())) > 1:
        problems.append("cross-SHA inputs: %s" % json.dumps(shas))
    dirty = [p for p, s in shas.items()
             if s.endswith("-dirty") or s.endswith("-unverified")
             or s == "unknown"]
    if dirty:
        problems.append("dirty/unstamped inputs: %s" % ", ".join(dirty))
    if problems and not allow_mixed:
        sys.exit("bench_median: REFUSING to merge (pass --allow-mixed-sha "
                 "to override):\n  " + "\n  ".join(problems))
    names = sorted({q for r in runs for q in r["queries"]})

    def medians(key, modes):
        out = {}
        for n in names:
            vals = [r[key][n] for r in runs if r["modes"].get(n) in modes]
            if vals:
                clean = [v for v in vals if v >= 0]
                out[n] = statistics.median(clean) if clean else -1
        return out

    warm = medians("queries", {"warm", "substrate"})
    single = medians("queries", {"single"})
    cold = medians("queries_cold", {"warm", "substrate", "single"})
    out = {
        "metric": "total",
        "value": sum(v for v in warm.values() if v >= 0),
        "unit": "sec",
        "cold_total": sum(v for v in cold.values() if v >= 0),
        "n_queries": len(names),
        "method": "per-entry median of %d runs (%s) by pass mode; -1 samples "
                  "excluded" % (len(runs), ",".join(paths)),
        "sha": sorted(set(shas.values()))[0] if len(set(shas.values())) == 1
               else "MIXED:" + ",".join(sorted(set(shas.values()))),
        "queries": warm,
        "queries_single": single,
        "queries_cold": cold,
        "sf": runs[0].get("sf", ""),
    }
    json.dump(out, sys.stdout)
    print()


if __name__ == "__main__":
    main(sys.argv[1:])
