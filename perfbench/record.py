#!/usr/bin/env python3
"""Records the expected output fingerprints of the catalog workload.

    python3 perfbench/record.py SCRATCH_DIR

Run from the root of a graft checkout whose outputs are trusted. It
generates the catalog tables, writes every workload query's output with
graft.Verify, checks those outputs against the DuckDB oracle with
tools/compare.py, and only if every query passes writes their fingerprints
to perfbench/expected.json.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import canon  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main():
    scratch = os.path.abspath(sys.argv[1])
    root = os.getcwd()
    classes = run.build(root, os.path.join(root, ".bench_build"))
    tables = os.path.join(scratch, "tables")
    outs = os.path.join(scratch, "verify")
    gen.tables(tables, run.TABLE_SEED)
    ops = [op for ops in run.QUERY_OPS.values() for op in ops]
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    subprocess.run(["java", *run.ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC",
                    "-cp", f"{classes}:{run.spark_jars()}/*", "graft.Verify",
                    tables, outs, *ops], check=True, cwd=scratch,
                   env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.CPUS)))
    # Verify dumps the whole catalog's oracle SQL; compare only these queries
    oracle_path = os.path.join(outs, "oracle_sql.json")
    oracle = json.load(open(oracle_path))
    json.dump({op: oracle[op] for op in ops}, open(oracle_path, "w"))
    subprocess.run([sys.executable, os.path.join(root, "tools/compare.py"), outs, tables],
                   check=True)
    expected = {op: canon.fingerprint_dir(os.path.join(outs, op)) for op in ops}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(expected)} fingerprints")


if __name__ == "__main__":
    main()
