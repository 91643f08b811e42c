"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

1. every frozen query name is registered and has a DuckDB oracle;
2. the generator writes byte-identical files for a given seed (and
   different files for another seed);
3. the counts ``operators.build_jobs``, ``exec.jobs`` and
   ``streaming.batches`` repeat exactly between two traced runs of each
   workload with the same seed.

Exits 1 when a check fails.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import (  # noqa: E402
    BATCH_QUERIES, BATCH_SF, HEADLINE, STREAM_QUERIES, STREAM_SHAPES, WORKLOADS,
)

REPEATED = ("operators.build_jobs", "exec.jobs", "streaming.batches")


def check_registered() -> list[str]:
    sys.path.insert(0, ROOT)
    import __spark_entry__

    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    problems = [f"{q} is not in the headline list" for q in BATCH_QUERIES if q not in HEADLINE]
    for q in dict.fromkeys(HEADLINE + BATCH_QUERIES + STREAM_QUERIES):
        if q not in queries:
            problems.append(f"{q} is not registered")
        elif q not in oracles:
            problems.append(f"{q} has no oracle")
    return problems


def _write_all(seed: int, out: str) -> None:
    gen.write_batch_tables(seed, os.path.join(out, "batch"), BATCH_SF)
    for name, shape in STREAM_SHAPES.items():
        gen.write_events_parts(seed, os.path.join(out, name), **shape)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def check_generator() -> list[str]:
    base = os.path.join(HERE, "work", f"selftest-{os.getpid()}")
    try:
        for tag, seed in (("a", 11), ("b", 11), ("c", 12)):
            _write_all(seed, os.path.join(base, tag))
        problems = []
        if not _same_tree(os.path.join(base, "a"), os.path.join(base, "b")):
            problems.append("generator output differs between two runs with seed 11")
        if _same_tree(os.path.join(base, "a"), os.path.join(base, "c")):
            problems.append("generator output is the same for seeds 11 and 12")
        return problems
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _traced_counts(workload: str) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return {k: metrics[k]["value"] for k in REPEATED}


def check_counts() -> list[str]:
    problems = []
    for workload in WORKLOADS:
        first, second = _traced_counts(workload), _traced_counts(workload)
        print(f"{workload}: {first} / {second}")
        problems += [
            f"{workload}: {k} {first[k]} then {second[k]}" for k in REPEATED if first[k] != second[k]
        ]
    return problems


def main() -> int:
    failed = False
    for check in (check_registered, check_generator, check_counts):
        problems = check()
        print(f"{'FAIL' if problems else 'ok  '} {check.__name__}")
        for p in problems:
            print(f"     {p}")
        failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
