#!/usr/bin/env python3
"""Regenerates the golden answers in perfbench/goldens/: for every seed
bucket, NaiveSearch (the library's exhaustive oracle) over exactly the
inputs the serve and store_churn runs use. Runs take these as the
expected top-k, bit for bit. Rerun after changing a workload's inputs
or query mix; it takes several minutes per workload.

    python3 perfbench/make_goldens.py [serve|store_churn ...]
"""
import shutil
import subprocess
import sys

import build as bench_build


def main():
    workloads = sys.argv[1:] or ["serve", "store_churn"]
    out = bench_build.build()
    for w in workloads:
        work = out / "work" / f"goldens-{w}"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        cmd = bench_build.java_cmd(out, work, "perfbench.Main",
                                   ["--workload", w, "--make-goldens", "all", "--work", str(work),
                                    "--goldens", str(bench_build.BENCH / "goldens")])
        r = subprocess.run(cmd, cwd=bench_build.ROOT)
        shutil.rmtree(work, ignore_errors=True)
        if r.returncode != 0:
            sys.exit(r.returncode)


if __name__ == "__main__":
    main()
