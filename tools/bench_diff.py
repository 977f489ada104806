#!/usr/bin/env python3
"""Per-query comparison of two bench artifacts.

Accepts BOTH artifact shapes:
  - driver BENCH_r{N}.json: stores only the trailing bytes of the bench
    stdout (`tail`), which can truncate the JSON line mid-object, so
    per-query times are recovered with a regex over `"name":float`
    pairs rather than json.loads;
  - builder bench_<sf>.json: the full one-line artifact graft.Bench
    writes ("queries" map + "loadavg" stamps + "cold"/"raw") — parsed
    directly.

Usage:
  python3 tools/bench_diff.py OLD NEW                 # human report
  python3 tools/bench_diff.py OLD NEW --emit OUT.json # + JSON artifact

The --emit artifact (bench_diff_r{N}.json at round close) carries the
per-query ratios, the >1.3x flag list, and the loadavg stamps of both
inputs, so the driver and judge read the SAME adjudication instead of
re-deriving it from commit messages. Exit code 0 always — the flag list
is advisory; local machine-load variance at sub-second scale is real
(see SCALE.md).
"""
import json
import re
import sys

PAIR = re.compile(r'"([A-Za-z_][A-Za-z0-9_]*)":(-?\d+(?:\.\d+)?)')
META = {"value", "sf", "n", "rc", "cpus", "failed", "reps", "cold_total",
        "total_s"}


def evict_protocol(doc):
    """How the artifact's shared relations were evicted: "per_query"
    (graft.Bench evicts before every timed query), "per_sweep" (the
    earlier between-sweeps rule, `memo_evict_between_sweeps`), "none"
    (a builder artifact older than either), or None for a driver tail,
    which does not carry the field."""
    if "shared_evict" in doc:
        return doc["shared_evict"]
    if doc.get("memo_evict_between_sweeps"):
        return "per_sweep"
    return "none"


def load(path):
    """Return (per-query seconds map, loadavg stamps or None, adjudicated
    query names, eviction protocol or None). When the artifact carries
    an "adjudicated" map (the Bench self-adjudication pass: isolated
    re-runs of queries whose
    in-sweep median exceeded 1.3x the prior committed reading), those
    readings REPLACE the in-sweep ones here — the isolated number is the
    trustworthy one on a loaded host; the raw in-sweep value stays in
    the artifact itself for forensics."""
    with open(path) as f:
        doc = json.load(f)
    if isinstance(doc, dict) and isinstance(doc.get("queries"), dict):
        # builder artifact: authoritative per-query map + loadavg stamps
        qs = {k: float(v) for k, v in doc["queries"].items()}
        adj = {k: float(v) for k, v in (doc.get("adjudicated") or {}).items()
               if float(v) >= 0}
        qs.update(adj)
        return qs, doc.get("loadavg"), sorted(adj), evict_protocol(doc)
    src = (doc.get("tail") or "") if isinstance(doc, dict) else ""
    out = {}
    for name, val in PAIR.findall(src):
        if name not in META:
            out[name] = float(val)
    return out, None, [], None


def main():
    args = [a for a in sys.argv[1:] if a != "--emit"]
    emit = None
    if "--emit" in sys.argv:
        i = sys.argv.index("--emit")
        if i + 1 >= len(sys.argv):
            sys.exit("--emit needs an output path")
        emit = sys.argv[i + 1]
        args = [a for a in sys.argv[1:] if a not in ("--emit", emit)]
    if len(args) != 2:
        sys.exit(__doc__)
    (a, load_a, adj_a, ev_a), (b, load_b, adj_b, ev_b) = \
        load(args[0]), load(args[1])
    if ev_a and ev_b and ev_a != ev_b:
        print(f"WARNING: shared-relation eviction differs (old={ev_a}, "
              f"new={ev_b}): under per_query every consumer of a shared "
              "relation (x02/x03, sk04/sk05, d07/d13, g07, ...) pays its "
              "build, so those queries read slower without any code change")
    if adj_a or adj_b:
        print(f"adjudicated readings in use: old={adj_a} new={adj_b}")
    shared = sorted(set(a) & set(b))
    if not shared:
        sys.exit("no shared queries parsed — check the inputs")
    # a query that stopped working is the worst regression there is —
    # surface it first and keep the -1 sentinels OUT of the arithmetic
    # (totals must not have failures subtracted, ratios must not be inf)
    broken = [q for q in shared if b[q] < 0 <= a[q]]
    chronic = [q for q in shared if a[q] < 0 and b[q] < 0]
    ok = [q for q in shared if a[q] >= 0 and b[q] >= 0]
    rows = sorted(((b[q] / a[q], q, a[q], b[q]) for q in ok if a[q] > 0),
                  reverse=True)
    regressions = [r for r in rows if r[0] > 1.5 and r[3] >= 0.5]
    print(f"shared queries: {len(shared)}   "
          f"total {sum(a[q] for q in ok):.1f}s -> "
          f"{sum(b[q] for q in ok):.1f}s  (over {len(ok)} passing in both)")
    if broken:
        print(f"\nBROKEN in {args[1]} (passed before, -1 now): "
              + ", ".join(broken))
    if chronic:
        print("\nfailing in BOTH rounds (-1 twice — chronically broken): "
              + ", ".join(chronic))
    print(f"\nregressions >1.5x (ignoring sub-0.5s noise): "
          f"{len(regressions)}")
    for ratio, q, ta, tb in regressions:
        print(f"  {q:32s} {ta:8.2f}s -> {tb:8.2f}s  ({ratio:.2f}x)")
    print("\nbiggest improvements:")
    for ratio, q, ta, tb in rows[::-1][:8]:
        if ratio < 1:
            print(f"  {q:32s} {ta:8.2f}s -> {tb:8.2f}s  ({ratio:.2f}x)")
    only_b = sorted(set(b) - set(a))
    if only_b:
        print(f"\nnew queries in {args[1]}: {', '.join(only_b)}")

    if emit:
        # the round-close artifact: >1.3x flags (tighter than the 1.5x
        # console threshold — the judge's regression-scan bar), full
        # ratio map, and the loadavg context of both runs when the
        # inputs carry stamps (builder artifacts do; driver tails don't)
        flags = [
            {"query": q, "old_s": round(ta, 3), "new_s": round(tb, 3),
             "ratio": round(r, 3)}
            for r, q, ta, tb in rows if r > 1.3 and tb >= 0.5]
        artifact = {
            "base": args[0], "target": args[1],
            "shared": len(shared),
            "total_old_s": round(sum(a[q] for q in ok), 3),
            "total_new_s": round(sum(b[q] for q in ok), 3),
            "broken": broken, "chronic": chronic,
            "new_queries": only_b,
            "flags_gt_1_3x": flags,
            "adjudicated_old": adj_a, "adjudicated_new": adj_b,
            "loadavg_old": load_a, "loadavg_new": load_b,
            "ratios": {q: round(b[q] / a[q], 3)
                       for q in ok if a[q] > 0},
        }
        with open(emit, "w") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"\nwrote {emit} ({len(flags)} flags >1.3x)")


if __name__ == "__main__":
    main()
