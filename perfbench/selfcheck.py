"""Self-checks of the benchmark harness (tiny inputs; a few minutes).

    python3 perfbench/selfcheck.py

1. Smoke: every workload (those of BENCHMARK.json and the two runnable
   ones it leaves out), untraced and traced, at ``--size tiny`` exits 0,
   ends with the result line, reports no failure, and prints exactly the
   metrics BENCHMARK.json lists, each with its unit.
2. Planted fault: ``--plant-fault`` drops one partial row of the drill;
   the output check must catch it (failed > 0, correct false).
3. Docs counts: on the rep-1 corpus, the program's own leaf counts equal
   the generator's planted counts that the rep-R check multiplies.
4. Bare directory: with only BENCHMARK.json and perfbench/ present the
   benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from inputs import DATA_DIR, ROOT  # noqa: E402


def _run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    return p, result


def check_smoke(bench: dict) -> list:
    import workloads as W

    errors = []
    for wl in W.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p, res = _run(["--workload", wl, "--seed", "1", "--seconds", "1",
                           "--trace", str(trace), "--size", "tiny"])
            tag = f"{wl} trace={trace}"
            if p.returncode != 0 or res is None:
                errors.append(f"{tag}: rc={p.returncode} {p.stderr[-500:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                errors.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{tag}: correct={res['correct']} "
                              f"failed={res['failed']}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                errors.append(f"{tag}: metrics differ from BENCHMARK.json: "
                              f"missing {sorted(set(want) - set(got))}, "
                              f"extra {sorted(set(got) - set(want))}, "
                              f"units {[k for k in got if k in want and got[k] != want[k]]}")
            report = {tuple(line.split()[::2]) for line in
                      p.stdout.splitlines()[:-1] if len(line.split()) == 3}
            for name, unit in list(want.items()) + [("failed_frac", "1")]:
                if (name, unit) not in report:
                    errors.append(f"{tag}: {name} [{unit}] not in the report")
            print(f"ran {tag}: {len(got)} metrics, attempted "
                  f"{res['attempted']}", flush=True)
    return errors


def check_fault() -> list:
    p, res = _run(["--workload", "drill_flagship", "--seed", "1",
                   "--seconds", "1", "--trace", "0", "--size", "tiny",
                   "--plant-fault"])
    if res is None or res["failed"] < 1 or res["correct"]:
        return [f"planted fault not caught: rc={p.returncode} result={res}"]
    print(f"ok planted fault caught: failed {res['failed']} of "
          f"{res['attempted']}", flush=True)
    return []


def check_docs_counts() -> list:
    sys.path.insert(0, ROOT)
    from harness import sandbox_env, start_session, stop_processes

    sandbox_env()
    import workloads as W

    errors = []
    spark, _ = start_session(2, None)
    try:
        for size in (W.TINY["docs"], W.DOCS):
            docs = W.DocsDedupSearch(size)
            docs.prepare(1)
            docs.spark = spark
            for name in W.DOC_LEAVES:
                table = docs.run_leaf(name, docs.inp.base_dir())
                why = docs.check_leaf(name, table, docs.inp.base_expected)
                if why:
                    errors.append(f"rep-1 {size.key}: {why}")
            print(f"ran rep-1 docs counts {size.key}", flush=True)
    finally:
        stop_processes()
    return errors


def check_bare_dir() -> list:
    bare = os.path.join(DATA_DIR, "tmp", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, res = _run(["--workload", "drill_flagship", "--seed", "1",
                   "--seconds", "1", "--trace", "0"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or res is not None:
        return [f"bare directory: rc={p.returncode}, result={res}"]
    print(f"ok bare directory exits {p.returncode}", flush=True)
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = (check_bare_dir() + check_fault() + check_docs_counts()
              + check_smoke(bench))
    for e in errors:
        print("FAIL", e)
    print("selfcheck:", "FAILED" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
