"""Order-insensitive output fingerprints for a set of queries, used in
optimization rounds to prove a physical-plan rewrite left results
bit-identical. Writes {name: {sf: {rows, cols, hash}}} JSON.

Usage: python tools/snapshot_outputs.py out.json query [query ...]
       [--sfs sf0.001,sf0.01,sf0.1]
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.check_oracle import norm_rows  # noqa: E402

from clinpy_spark import queries as Q  # noqa: E402
from clinpy_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    sfs = ["sf0.001", "sf0.01", "sf0.1"]
    if "--sfs" in args:
        i = args.index("--sfs")
        sfs = args[i + 1].split(",")
        del args[i:i + 2]
    out_path, names = args[0], args[1:]
    spark = get_spark("snapshot")
    qs = Q.queries()
    report: dict[str, dict] = {}
    for name in names:
        report[name] = {}
        for sf in sfs:
            sf_dir = f"/root/testdata/{sf}"
            df = qs[name](spark, sf_dir)
            cols = df.columns
            rows = df.collect()
            h = hashlib.sha256(
                repr(norm_rows(cols, rows)).encode()).hexdigest()[:16]
            report[name][sf] = {"rows": len(rows), "cols": sorted(cols), "hash": h}
            print(f"# {name} {sf}: rows={len(rows)} hash={h}", file=sys.stderr,
                  flush=True)
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
