#!/usr/bin/env python3
"""Record the reference outputs the benchmark checks against.

    python3 perfbench/oracle.py

Builds the benchmark (as run.py does), runs every checked query once in
dump mode, and hands the outputs to scripts/check.py, which compares each
with DuckDB running SparkEntry.oracleSql over the same fixture. A query
whose output matches is recorded in perfbench/expected.json with its row
count and digest ("oracle": true); a query without oracle SQL is recorded
from its own output ("oracle": false). A query whose output does not match
DuckDB is not recorded, so the benchmark reports it as failed.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

import run

DATA = os.path.join(run.HERE, "data", "sf0.01")


def main():
    cp = run.classpath()
    os.makedirs(os.path.join(run.HERE, ".run"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="oracle-", dir=os.path.join(run.HERE, ".run"))
    try:
        dump = os.path.join(work, "dump")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        subprocess.run(["java", *run.ADD_OPENS, "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                        "-cp", cp, "perfbench.Main", "--dump", dump, "--data", DATA],
                       cwd=work, check=True)
        check = subprocess.run([sys.executable, os.path.join(run.ROOT, "scripts", "check.py"),
                                DATA, dump], capture_output=True, text=True)
        print(check.stdout)
        status = {}
        for line in check.stdout.splitlines():
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("ok", "smoke", "FAIL"):
                status[parts[1].rstrip(":")] = parts[0]
        with open(os.path.join(dump, "digests.json")) as f:
            digests = json.load(f)
        expected = {}
        for name, d in sorted(digests.items()):
            if status.get(name) == "ok":
                expected[name] = dict(d, oracle=True)
            elif status.get(name) == "smoke":
                expected[name] = dict(d, oracle=False)
            else:
                print(f"not recorded: {name} ({status.get(name, 'not checked')})", file=sys.stderr)
        with open(os.path.join(run.HERE, "expected.json"), "w") as f:
            json.dump(expected, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"recorded {len(expected)} of {len(digests)} outputs in perfbench/expected.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
