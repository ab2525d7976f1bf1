#!/usr/bin/env python3
"""Regenerates expected/<sf>.json: the row count and digest of each checked
query, computed by DuckDB from the oracle SQL over the benchmark's copy of
that scale factor. Reads "<sf> <query>" lines on stdin, as printed by
`perfbench.Main --list`.

Usage (from the repository root, after one benchmark run has built it):
    java -cp "$(cat .bench_build/perfbench/classpath.txt)" perfbench.Main \\
        --list | python3 perfbench/tools/make_expected.py oracle_sql.json
"""
import collections
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import canon  # noqa: E402


def main():
    with open(sys.argv[1]) as f:
        oracle = {k[:-len(".parquet")] if k.endswith(".parquet") else k: v
                  for k, v in json.load(f).items()}
    wanted = collections.defaultdict(list)
    for line in sys.stdin:
        if line.strip():
            sf, name = line.split()
            wanted[sf].append(name)
    for sf, names in sorted(wanted.items()):
        con = canon.connect(os.path.join(HERE, "data", sf))
        out = {}
        for name in sorted(names):
            rows, dig = canon.digest(con, oracle[name])
            out[name] = {"check": "digest", "rows": rows, "digest": dig}
            print(f"{sf} {name}: {rows} rows", flush=True)
        path = os.path.join(HERE, "expected", f"{sf}.json")
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{path}: {len(out)} queries")


if __name__ == "__main__":
    main()
