#!/usr/bin/env python3
"""Compare two graft.Verify output dirs for identical behaviour.

Usage: python3 tools/verify_diff.py <verify_out_a> <verify_out_b>

- oracle_sql.json must be byte-identical once each dir's absolute
  `<dir>/_synth` path is replaced by `__SYNTH__` (both dirs' paths are
  replaced in both files, so a dir moved after its run still compares).
- Every query output `<dir>/<name>/` and every synth table
  `<dir>/_synth/<name>.parquet/` must hold the same schema and the same
  rows after sorting columns and rows (`canon` from local_oracle_check).
  Array, struct, map, binary and decimal cells are compared through a
  canonical JSON text, so nested outputs (spans, JPEG bytes) sort too.

Prints every name that exists in only one dir or differs, and exits 1 if
there is any; prints the number of compared tables and exits 0 otherwise.
"""
import glob, json, math, os, sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from local_oracle_check import canon


def enc(v):
    """A JSON-serializable, order-preserving form of one parquet cell."""
    if isinstance(v, (bytes, bytearray)):
        return {"__bytes__": bytes(v).hex()}
    if isinstance(v, np.ndarray):
        return [enc(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [enc(x) for x in v]
    if isinstance(v, dict):
        return {k: enc(x) for k, x in v.items()}
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def load(path):
    """(schema text, canonical frame) of a parquet dataset dir."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None, None
    tables = [pq.read_table(f) for f in files]
    fields = sorted((f.name, str(f.type)) for f in tables[0].schema)
    df = pd.concat([t.to_pandas() for t in tables], ignore_index=True)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = [None if v is None else json.dumps(enc(v), sort_keys=True, default=str)
                     for v in df[c]]
    return fields, canon(df)


def outputs(d):
    """name -> dataset dir: every query output and every synth table."""
    names = {}
    for p in glob.glob(os.path.join(d, "*")):
        if os.path.isdir(p) and os.path.basename(p) != "_synth":
            names[os.path.basename(p)] = p
    for p in glob.glob(os.path.join(d, "_synth", "*")):
        if os.path.isdir(p):
            names["_synth/" + os.path.basename(p)] = p
    return names


def oracle_text(d, synth_dirs):
    with open(os.path.join(d, "oracle_sql.json")) as f:
        text = f.read()
    for s in synth_dirs:
        text = text.replace(s, "__SYNTH__")
    return text


def main(a, b):
    diffs = []
    synth_dirs = sorted({p for d in (a, b)
                         for p in (os.path.join(os.path.abspath(d), "_synth"),
                                   os.path.join(os.path.realpath(d), "_synth"))},
                        key=len, reverse=True)
    try:
        if oracle_text(a, synth_dirs) != oracle_text(b, synth_dirs):
            diffs.append("oracle_sql.json: differs")
    except OSError as e:
        diffs.append(f"oracle_sql.json: {e}")
    oa, ob = outputs(a), outputs(b)
    for name in sorted(set(oa) - set(ob)):
        diffs.append(f"{name}: only in {a}")
    for name in sorted(set(ob) - set(oa)):
        diffs.append(f"{name}: only in {b}")
    common = sorted(set(oa) & set(ob))
    for name in common:
        (sa, da), (sb, db) = load(oa[name]), load(ob[name])
        if sa != sb:
            diffs.append(f"{name}: schema {sa} vs {sb}")
        elif da is None:
            continue
        elif len(da) != len(db):
            diffs.append(f"{name}: rows {len(da)} vs {len(db)}")
        elif not da.equals(db):
            diffs.append(f"{name}: values differ")
    for line in diffs:
        print(f"DIFF {line}")
    print(f"{len(common)} tables compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
