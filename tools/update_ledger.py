#!/usr/bin/env python3
"""Fold one `graft.Bench` log into the bench ledger (bench_history.json).

Usage: update_ledger.py <bench_log> <round_key> <full|count> [ledger_path]

Two series live side by side in each query's row and never mix:

  full   the full-result medians (`sec_median`, the noop-sink write),
         stored as `full_<round_key>`; `full_ref` is the min of the series.
  count  the `.count()` medians (`count_sec_median`), stored as
         `<round_key>`; `ref` is lowered where the new median beats it.
         Bench's auto-isolation judges the `.count()` series against `ref`.

A round key already present in the chosen series is refused, so a round is
never silently overwritten. Every value the run does not write stays
byte-identical. Failed queries (-1) are skipped. The ledger path defaults to
bench_history.json at the repository root.
"""
import json
import os
import re
import sys


def main(argv):
    if len(argv) not in (4, 5) or argv[3] not in ("full", "count"):
        sys.exit(__doc__)
    log, rk, series = argv[1], argv[2], argv[3]
    path = argv[4] if len(argv) == 5 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..", "bench_history.json")
    field = "sec_median" if series == "full" else "count_sec_median"
    key, ref = (f"full_{rk}", "full_ref") if series == "full" else (rk, "ref")

    meds = {}
    pat = r'\{"query":"(q[^"]+)",[^}]*?"' + field + r'":([-\d.]+)'
    for m in re.finditer(pat, open(log).read()):
        if float(m.group(2)) > 0:
            meds[m.group(1)] = float(m.group(2))
    if not meds:
        sys.exit(f"no per-query {field} lines in {log}")

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
