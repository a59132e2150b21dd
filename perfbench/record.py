#!/usr/bin/env python3
"""Records the expected output digests of the batch workloads' queries.

Usage (from the root of a checkout): python3 perfbench/record.py

Runs every query of batch_exec and batch_driver once cold and once warm on
the fixture, checks that both runs agree, and rewrites
perfbench/digests.json. Record only from a commit whose outputs pass the
DuckDB oracle (tools/check.py) on the same fixture: write the outputs with
`graft.Verify <fixture dir> <out dir>` (SPARK_GRAFT_ONLY=<queries>), then
`python3 tools/check.py <out dir> <fixture dir>`.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def main():
    classpath = build.build()
    root = build.build_dir()
    digests = {}
    for name, wl in sorted(run.WORKLOADS.items()):
        if wl["kind"] != "batch":
            continue
        key = run.fixture_key(run.FIXTURE_SF)
        fx = run.fixture_dir(run.FIXTURE_SF)
        work = os.path.join(root, "perfbench", f"record-{name}")
        cmd = run.jvm_command(classpath, work, "perfbench.Main", [
            "--mode", "probe", "--work", work, "--fixture", fx,
            "--queries", ",".join(wl["queries"])])
        out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
        for line in out.splitlines():
            if not line.startswith("{"):
                continue
            r = json.loads(line)
            if r["error"] or r["digest"] != r["cold_digest"]:
                raise SystemExit(f"{r['query']}: {r['error'] or 'digest differs between runs'}")
            digests.setdefault(key, {})[r["query"]] = r["digest"]
    with open(os.path.join(HERE, "digests.json"), "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
