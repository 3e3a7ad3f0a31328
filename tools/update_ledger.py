#!/usr/bin/env python3
"""Fold one `graft.Bench` log into the bench ledger (bench_history.json).

Usage: update_ledger.py <bench_log> <round_key> full [ledger_path]

Writes the full-result medians (`sec_median`, the noop-sink write) as
`full_<round_key>` and lowers `full_ref` where the new median beats it;
Bench's auto-isolation judges its full-result medians against `full_ref`.
The older `.count()` series (`<round_key>`/`ref`) is history: nothing
writes it any more.

A round key already present is refused, so a round is never silently
overwritten. Every value the run does not write stays
byte-identical. Failed queries (-1) are skipped. The ledger path defaults to
bench_history.json at the repository root.
"""
import json
import os
import re
import sys


def main(argv):
    if len(argv) not in (4, 5) or argv[3] != "full":
        sys.exit(__doc__)
    log, rk = argv[1], argv[2]
    path = argv[4] if len(argv) == 5 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "bench_history.json")
    key, ref = f"full_{rk}", "full_ref"

    meds = {}
    pat = r'\{"query":"(q[^"]+)","sec_median":([-\d.]+)'
    for m in re.finditer(pat, open(log).read()):
        if float(m.group(2)) > 0:
            meds[m.group(1)] = float(m.group(2))
    if not meds:
        sys.exit(f"no per-query sec_median lines in {log}")

    with open(path) as f:
        led = json.load(f)
    taken = sorted(q for q in meds if key in led.get(q, {}))
    if taken:
        sys.exit(f"{key} already recorded for {len(taken)} queries (e.g. {taken[0]}); "
                 "pick a new round key")
    n_ref = 0
    for q, v in meds.items():
        row = led.setdefault(q, {})
        row[key] = v
        if ref not in row or v < row[ref]:
            row[ref] = v
            n_ref += 1
    with open(path, "w") as f:
        json.dump(led, f, indent=0, sort_keys=True)
    print(f"wrote {key} for {len(meds)} queries, set {ref} on {n_ref}")


if __name__ == "__main__":
    main(sys.argv)
