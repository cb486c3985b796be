#!/usr/bin/env python3
"""Round-over-round bench comparison (the r7 verdict's measurement fix).

The shared-JVM sweep drifts ±15% round-over-round from contention alone,
so a real 1.5x plan regression would be invisible in the totals. This
script compares two bench_full.json per-query maps and flags every query
that moved more than THRESH x in either direction — the short list to
rerun one per fresh JVM (`dev/bench_points.py`) before believing (or
dismissing) the movement.

It also prints the drift median: the upper median of new/old wall time
over the common queries that ran in both records with old >= 0.3 s. Code
changes move individual queries, not the whole suite, so a median outside
[DRIFT_LO, DRIFT_HI] marks the new sweep as host-contention suspect (a
+55% sweep of byte-identical code once was exactly this).

When both records carry the per-query `cpu` map (process CPU seconds),
movers are also flagged by CPU ratio and printed with both readings: a
query that moved in wall time but not in CPU points at the host.

Inputs are file paths or git revs of bench_full.json:
    python3 dev/bench_compare.py bench_full.json HEAD~1:bench_full.json
    python3 dev/bench_compare.py a1205da:bench_full.json bench_full.json

Exit code 0 always (it is a report, not a gate) — the gate is the
fresh-JVM rerun it tells you to do.
"""
import json
import subprocess
import sys

THRESH = 1.5
DRIFT_LO, DRIFT_HI = 0.6, 1.25


def load(spec: str) -> dict:
    if ":" in spec and not spec.startswith("/") and not spec.startswith("."):
        raw = subprocess.check_output(["git", "show", spec], text=True)
    else:
        with open(spec) as f:
            raw = f.read()
    return json.loads(raw)


def main(old_spec: str, new_spec: str) -> int:
    old_doc, new_doc = load(old_spec), load(new_spec)
    old, new = old_doc["queries"], new_doc["queries"]
    # a dev/bench_points.py record carries fresh-JVM {sweep, isolated}
    # pairs — surface them so nobody re-does the rerun by hand
    iso = new_doc.get("isolated") or {}
    common = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    t_old = sum(old[q] for q in common)
    t_new = sum(new[q] for q in common)
    print(f"common queries: {len(common)}  "
          f"(+{len(added)} new, -{len(removed)} removed)")
    print(f"common-query total: {t_old:.1f}s -> {t_new:.1f}s  "
          f"({t_new / t_old - 1:+.1%} vs old)" if t_old else "no common queries")
    ratios = sorted(new[q] / old[q] for q in common if new[q] > 0 and old[q] >= 0.3)
    drift = ratios[len(ratios) // 2] if ratios else 1.0
    inside = DRIFT_LO <= drift <= DRIFT_HI
    print(f"drift median (new/old, {len(ratios)} queries with old >= 0.3s): "
          f"{drift:.3f}  "
          + (f"inside [{DRIFT_LO}, {DRIFT_HI}]" if inside else
             f"OUTSIDE [{DRIFT_LO}, {DRIFT_HI}] — host-contention suspect"))
    movers = []
    for q in common:
        a, b = old[q], new[q]
        if a <= 0 or b <= 0:
            continue  # failed run recorded as -1
        r = b / a
        if r > THRESH or r < 1 / THRESH:
            movers.append((r, q, a, b))
    movers.sort(reverse=True)
    if "cpu" in old_doc and "cpu" in new_doc:
        report_cpu_movers(old_doc, new_doc, common)
    if movers:
        print(f"\n{len(movers)} queries moved >{THRESH}x:")
        for r, q, a, b in movers:
            tail = ""
            if q in iso:
                tail = f"  [isolated fresh-JVM rerun: {iso[q][1]:.2f}s]"
            print(f"  {q}: {a:.2f}s -> {b:.2f}s  ({r:.2f}x){tail}")
        unresolved = [q for _, q, _, _ in movers if q not in iso]
        if unresolved:
            names = " ".join(unresolved)
            print(f'\n  movers without a recorded isolation number — rerun one '
                  f'per fresh JVM (after `sbt compile`):\n'
                  f'  python3 dev/bench_points.py {new_doc.get("sf", "<sf_dir>")} '
                  f'points.json {names}')
    else:
        print(f"\nno query moved >{THRESH}x — round-over-round movement is "
              f"within sweep noise")
    if added:
        print(f"\nnew queries this round: {len(added)}, "
              f"{sum(new[q] for q in added):.1f}s total")
    return 0


def report_cpu_movers(old_doc: dict, new_doc: dict, common: list) -> None:
    cpu_old, cpu_new = old_doc["cpu"], new_doc["cpu"]
    movers = []
    for q in common:
        a, b = cpu_old.get(q, -1.0), cpu_new.get(q, -1.0)
        if a > 0 and b > 0 and (b / a > THRESH or b / a < 1 / THRESH):
            movers.append((b / a, q, a, b))
    movers.sort(reverse=True)
    print(f"\n{len(movers)} queries moved >{THRESH}x in process CPU:")
    for r, q, a, b in movers:
        print(f"  {q}: cpu {a:.2f}s -> {b:.2f}s  ({r:.2f}x)  "
              f"[wall {old_doc['queries'][q]:.2f}s -> {new_doc['queries'][q]:.2f}s]")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
