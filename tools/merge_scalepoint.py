#!/usr/bin/env python3
"""Merge the oracle batches of one tools/scalepoint.sh run into a
single correctness record:

    python3 tools/merge_scalepoint.py <label>

Reads localdata/scalepoint/<label>/oracle_*.json and writes
localdata/scalepoint/<label>/correctness.json, with the run's PROVENANCE
(commit, classes dir, sf dir). Fails loudly if a query of the Verify
run's oracle dump has no row, a row is not in that dump (a stale batch),
a query sits in two batches, or any row is red.
"""
import glob
import json
import os
import sys
from pathlib import Path

if len(sys.argv) != 2:
    sys.exit(__doc__)
label = sys.argv[1]
out_dir = (Path(__file__).resolve().parent.parent / "localdata"
           / "scalepoint" / label)
batches = sorted(glob.glob(f"{out_dir}/oracle_*.json"))
if not batches:
    sys.exit(f"no oracle_*.json batch outputs under {out_dir}")

merged = {}
for p in batches:
    for k, v in json.load(open(p)).items():
        if k.startswith("_"):
            continue
        if k in merged:
            sys.exit(f"query {k} appears in two batches")
        merged[k] = v

oracles = json.load(open(f"{out_dir}/verify/oracle_sql.json"))
missing = sorted(set(oracles) - set(merged))
if missing:
    sys.exit(f"missing replay rows for: {missing}")
extra = sorted(set(merged) - set(oracles))
if extra:
    sys.exit(f"replay rows not in this run's oracle dump: {extra}")

red = sorted(k for k, v in merged.items()
             if not (v.get("rows_match") and v.get("schema_match")
                     and v.get("hash_match")))
out = dict(sorted(merged.items()))
with open(f"{out_dir}/PROVENANCE") as f:
    provenance = dict(line.rstrip("\n").split(" ", 1) for line in f)
out["_provenance"] = {
    **provenance,
    "runner": f"tools/scalepoint.sh, label {label}",
    "batches": [os.path.basename(p) for p in batches],
    "n_queries": len(merged),
    "n_red": len(red),
    "red": red,
}
dest = f"{out_dir}/correctness.json"
with open(dest, "w") as f:
    json.dump(out, f, indent=1)
print(f"{len(merged) - len(red)}/{len(merged)} green -> {dest}")
if red:
    print("RED:", red)
    sys.exit(1)
