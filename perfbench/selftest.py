"""Self-tests of the benchmark, run by `python3 perfbench/run.py --selftest`.

The harness's own checks (`--mode selftest`): the same seed gives the same
input digest; another seed changes row order but no oracle answer; the
output check rejects corrupted results. Then this file checks that every
metric the harness can print, and every workload, is declared in
BENCHMARK.json with the same unit, and that each workload's `why` names
its gates.
"""
import json
import os
import re
import shutil


def main(cp, jvm, root, seed):
    work = os.path.join(root, ".perfbench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out, log = jvm(cp, work, ["--mode", "selftest", "--seed", str(seed)])
        print(out, end="")
        ok = code == 0
        code, names, _ = jvm(cp, work, ["--mode", "names"])
        ok = ok and code == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    printed, gates = {}, {}
    for line in names.splitlines():
        parts = line.split()
        if parts[0] == "workload":
            gates[parts[1]] = parts[2:]
        elif len(parts) == 2:
            printed[parts[0]] = parts[1]

    def check(name, cond):
        nonlocal ok
        print(("ok   " if cond else "FAIL ") + name)
        ok = ok and cond

    check("every printed metric is declared in BENCHMARK.json with its unit",
          all(declared.get(n) == u for n, u in printed.items()))
    check("every declared metric can be printed", set(declared) <= set(printed))
    whys = {w["name"]: w["why"] for w in bench["workloads"]}
    check("the workloads are the ones in BENCHMARK.json", set(whys) == set(gates))
    for w, gs in sorted(gates.items()):
        nums = [re.match(r"q\d+", g).group(0) for g in gs]
        check(f"the why of {w} names its gates",
              all(re.search(rf"\b{n}\b", whys.get(w, "")) for n in nums))
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1
