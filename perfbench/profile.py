#!/usr/bin/env python3
"""Print the layer profile of the full query lists next to the serial subsets.

    python3 perfbench/profile.py

Builds the benchmark (as run.py does) and runs it once in profile mode on
the benchmark's fixture, in a fresh JVM with the benchmark's settings: one
untimed pass over the full relational and curation lists, then one pass
that records each query's wall time, job, stage and action counts, job
time and executor run time. It prints one line per query and, for each
full list and its subset in perfbench/src/main/scala/perfbench/Workloads.scala,
the per-query means, the driver-gap share and the executor share. Takes
a few minutes; README.md records its output and how the subsets were
judged by it.
"""
import os
import shutil
import subprocess
import tempfile

import run


def main():
    cp = run.classpath()
    os.makedirs(os.path.join(run.HERE, ".run"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="profile-", dir=os.path.join(run.HERE, ".run"))
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        subprocess.run(["java", *run.ADD_OPENS, "-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
                        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
                        "--profile", "1", "--data", os.path.join(run.HERE, "data", "sf0.01")],
                       cwd=work, check=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
