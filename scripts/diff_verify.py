#!/usr/bin/env python3
"""Row-level diff of two graft.Verify output directories.

Usage: python3 scripts/diff_verify.py DIR_A DIR_B

Every query output (a parquet directory per SparkEntry query) must exist
in both and hold the same rows: columns sorted by name, each row rendered
canonically (floats by repr, so -0.0, NaN and the last bit count; arrays
and structs element by element), rows compared as sorted lists. The file
split and the row order may differ. Prints one line per differing output
and a summary; exits 1 on any difference.
"""
import glob
import json
import math
import os
import sys

import numpy as np
import pandas as pd


def canon(v):
    if isinstance(v, np.ndarray):
        return [canon(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in sorted(v.items())}
    if isinstance(v, (float, np.floating)):
        return "nan" if math.isnan(v) else repr(float(v))
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return str(v)


def rows(d):
    files = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    cols = sorted(df.columns)
    return cols, sorted(json.dumps([canon(r[c]) for c in cols])
                        for r in df[cols].to_dict("records"))


def outputs(d):
    return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}


def main(a, b):
    names_a, names_b = outputs(a), outputs(b)
    bad = 0
    for n in sorted(names_a ^ names_b):
        print(f"DIFF {n}: only in {a if n in names_a else b}")
        bad += 1
    same = sorted(names_a & names_b)
    for n in same:
        ra, rb = rows(os.path.join(a, n)), rows(os.path.join(b, n))
        if ra == rb:
            continue
        if ra is None or rb is None:
            what = f"no parquet in {a if ra is None else b}"
        elif ra[0] != rb[0]:
            what = f"columns {ra[0]} vs {rb[0]}"
        elif len(ra[1]) != len(rb[1]):
            what = f"rows {len(ra[1])} vs {len(rb[1])}"
        else:
            what = f"{sum(x != y for x, y in zip(ra[1], rb[1]))} rows differ"
        print(f"DIFF {n}: {what}")
        bad += 1
    print(f"{len(names_a | names_b) - bad} of {len(names_a | names_b)} outputs identical")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
