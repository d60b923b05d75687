#!/usr/bin/env python3
"""Record the expected row count and digest of every benchmark key.

    python3 perfbench/record_expected.py

Run from the root of a source checkout of the commit whose outputs are the
reference. Builds the engine as `run.py` does, runs every key of every
workload twice (cold and warm) in one JVM over the benchmark's tables,
requires both passes to agree, and writes `perfbench/expected.json`.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    with open(os.path.join(run.HERE, "workloads.json")) as f:
        spec = json.load(f)
    keys = sorted({k for w in spec["workloads"].values() for k in w["keys"]})
    jars = run.spark_jars()
    classes = run.build(jars)
    data = run.data_dir()
    _, detail, _ = run.run_jvm(classes, jars, data, [keys, keys], 0, 600)
    out = {}
    for r in detail["runs"]:
        if r["error"] is not None:
            run.die(f"{r['key']} failed: {r['error']}")
        got = {"rows": r["rows"], "digest": r["digest"]}
        if out.setdefault(r["key"], got) != got:
            run.die(f"{r['key']} is not deterministic: {out[r['key']]} vs {got}")
    path = os.path.join(run.HERE, "expected.json")
    with open(path) as f:
        record = json.load(f)  # keeps notes such as the DuckDB cross-check
    record.update({"data": "sf0.1 bench fixture (seed 42), perfbench/data/sf0.1",
                   "digest": "graft.GoldenGen.digest of the rows sorted by Row.toString",
                   "keys": out})
    with open(path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(out)} keys")


if __name__ == "__main__":
    main()
