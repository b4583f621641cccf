#!/usr/bin/env python3
"""Records `expected.json`: the digest ({rows, hash}) of every batch query
on the benchmark's fixture, taken only from results that match the DuckDB
oracle.

    python3 perfbench/calibrate.py

From the root of a checkout it (1) dumps every batch query's result with
`graft.Verify`, (2) compares the dumps with the oracle SQL in
`SparkEntry.oracleSql` using `scripts/check.py`, (3) computes each query's
digest in two fresh JVMs that run the queries in opposite orders, and
(4) writes the digest of each query that matched the oracle and got the
same digest in both JVMs. Run it again when the fixture generator or a
query's defined output changes; `run.py` compares every run against it.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import fixture  # noqa: E402
import run  # noqa: E402


def main():
    root = os.getcwd()
    classes = build.build(root, run.log)
    fx = fixture.ensure(os.path.join(build.BUILD_DIR, "data"))
    names = sorted(set(run.CURATION) | set(run.SQL))
    work = os.path.join(root, build.BUILD_DIR, "calibrate")
    dump = os.path.join(work, "dump")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{run.HEAP}", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] +
           [a for p in run.OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", f"{classes}:{build.classpath()}", "graft.Verify", fx, dump, ",".join(names)])
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    check = subprocess.run([sys.executable, os.path.join(root, "scripts", "check.py"), fx, dump],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    oracle_ok = set(re.findall(r"^OK\s+(\S+)", check.stdout, re.M))

    class Args:
        seconds, trace = 1, 0
        workload, seed = "calibrate", 0

    digests = []
    for order in (names, names[::-1]):
        _, res = run.run_batch(Args, classes, os.path.join(work, f"jvm{len(digests)}"),
                               run.CORES, order, cold_only=True)
        digests.append({q["name"]: {"rows": q["rows"], "hash": q["hash"]}
                        for q in res["cold"]["queries"] if not q["error"]})
    expected, skipped = {}, []
    for n in names:
        a, b = digests[0].get(n), digests[1].get(n)
        if n in oracle_ok and a is not None and a == b:
            expected[n] = a
        else:
            skipped.append(f"{n}: oracle={'ok' if n in oracle_ok else 'FAILED'} "
                           f"digests={a} / {b}")
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(expected)} of {len(names)} queries")
    for s in skipped:
        print("NOT RECORDED", s)
    return 1 if skipped else 0


if __name__ == "__main__":
    sys.exit(main())
