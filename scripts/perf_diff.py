#!/usr/bin/env python3
"""Round-over-round diff of `Audit perf` artifacts (PERF_r{N}.json).

Wall time on this box is noise (±15% measured r10); jobs and shuffle
bytes are deterministic, so THOSE are the regression signal. Flags any
query whose job count grew, or whose shuffle write grew by more than
10% AND more than 1 MB. New/removed queries are listed informationally.

A +1-job delta with no shuffle growth is NOT flagged as REGRESSED: it
matches the one adjudicated measurement-flicker class (r11's q218, an
AQE broadcast-exchange-reuse race that shifts one query-stage job even
warm) — those print as "FLICKER?" with an isolated `Audit jobs` rerun
instruction and do not fail the diff. Anything beyond +-1 job, or +1
job WITH shuffle growth, stays a hard REGRESSED.

The core count sets the shuffle partitions, so two artifacts are
compared only if they ran on the same cores and scale factor (the
`sf_dir` name); otherwise, or on a usage error, the exit is 2.

Usage: perf_diff.py OLD.json NEW.json
Exit 1 if any regression is flagged (walls and flickers never flag).
"""
import json
import os
import sys


def run_config(art):
    """(scale factor dir name, cores) of an artifact; None where absent."""
    sf = art.get("sf_dir")
    return (sf and os.path.basename(sf.rstrip("/")), art.get("cores"))


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    old_art = json.load(open(sys.argv[1]))
    new_art = json.load(open(sys.argv[2]))
    for name, o, n in zip(("sf_dir", "cores"), run_config(old_art),
                          run_config(new_art)):
        if o is not None and n is not None and o != n:
            print(f"NOT COMPARABLE: {name} {o} -> {n}; job and shuffle "
                  "counts depend on it")
            return 2
    old = old_art["queries"]
    new = new_art["queries"]
    shared = sorted(set(old) & set(new))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    flags = []
    flickers = []
    for q in shared:
        o, n = old[q], new[q]
        dw = n["shuffle_write_mb"] - o["shuffle_write_mb"]
        if n["jobs"] == o["jobs"] + 1 and dw <= 0.01:
            flickers.append(
                f"{q}: jobs {o['jobs']} -> {n['jobs']} (shuffle flat)")
        elif n["jobs"] > o["jobs"]:
            flags.append(f"{q}: jobs {o['jobs']} -> {n['jobs']}")
        if dw > 1.0 and o["shuffle_write_mb"] > 0 and \
                dw / o["shuffle_write_mb"] > 0.10:
            flags.append(
                f"{q}: shuffle_write {o['shuffle_write_mb']} -> "
                f"{n['shuffle_write_mb']} MB")
        elif dw > 1.0 and o["shuffle_write_mb"] == 0:
            flags.append(f"{q}: shuffle_write 0 -> {n['shuffle_write_mb']} MB")
    oj = sum(old[q]["jobs"] for q in shared)
    nj = sum(new[q]["jobs"] for q in shared)
    ow = sum(old[q]["shuffle_write_mb"] for q in shared)
    nw = sum(new[q]["shuffle_write_mb"] for q in shared)
    print(f"shared {len(shared)} queries: jobs {oj} -> {nj}, "
          f"shuffle_write {ow:.1f} -> {nw:.1f} MB")
    improved = [q for q in shared if new[q]["jobs"] < old[q]["jobs"]]
    if improved:
        print(f"improved (fewer jobs): {len(improved)}")
        for q in improved:
            print(f"  {q}: jobs {old[q]['jobs']} -> {new[q]['jobs']}")
    if added:
        print(f"new queries: {', '.join(added)}")
    if removed:
        print(f"removed queries: {', '.join(removed)}")
    if flickers:
        print(f"FLICKER? ({len(flickers)}) — +1 job, shuffle flat: the "
              "adjudicated AQE broadcast-reuse race class. Rerun "
              "'scripts/run.sh graft.tools.Audit jobs <query>' twice in "
              "isolation before treating any of these as a regression:")
        for f in flickers:
            print(f"  {f}")
    if flags:
        print(f"REGRESSED ({len(flags)}):")
        for f in flags:
            print(f"  {f}")
        return 1
    if flickers:
        print("OK: no hard regression (flicker candidates above need an "
              "isolated rerun)")
    else:
        print("OK: no query grew in jobs or shuffle bytes")
    return 0


if __name__ == "__main__":
    sys.exit(main())
