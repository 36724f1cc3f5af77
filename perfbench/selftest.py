"""Self-tests of the benchmark.

    python3 perfbench/selftest.py      # from the repository root

  1. the same seed generates byte-identical inputs, for every workload;
  2. a different seed generates different inputs, for every workload;
  3. the digest check accepts the captured q01 result and rejects it
     perturbed (JVM side, `perfbench.Main selftest`);
  4. span counters match jobs of known shape (same JVM run);
  5. without the program's sources the benchmark exits non-zero and
     prints no result.
Exits non-zero when any test fails.
"""

import hashlib
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import run  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(p for p in Path(d).rglob("*") if p.is_file()):
        h.update(str(f.relative_to(d)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def main():
    root = Path.cwd()
    scratch = root / ".bench_work" / "selftest"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    misses = 0

    def expect(ok, what):
        nonlocal misses
        print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
        misses += not ok

    try:
        for wl in run.WORKLOADS:
            d = {}
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                run.make_inputs(wl, scratch / wl / tag, seed)
                d[tag] = tree_digest(scratch / wl / tag)
            expect(d["a"] == d["b"], f"{wl}: seed 7 twice gives byte-identical inputs")
            expect(d["a"] != d["c"], f"{wl}: seeds 7 and 8 give different inputs")

        build.ensure_built(root)
        work = scratch / "jvm"
        (work / "tmp").mkdir(parents=True)
        tables = scratch / "query_suite" / "a" / "tables"
        p = subprocess.run(run.jvm_command(root, work, ["selftest", work, tables, BENCH]),
                           capture_output=True, text=True, timeout=300)
        print(p.stdout, end="")
        expect(p.returncode == 0, "JVM self-tests (digest check, span counters) pass")

        bare = Path(tempfile.mkdtemp(dir=scratch))
        shutil.copy(root / "BENCHMARK.json", bare)
        shutil.copytree(BENCH, bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "embed_backfill",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=bare, capture_output=True, text=True, timeout=180)
        expect(p.returncode != 0 and '"correct"' not in p.stdout,
               "without the program's sources the run fails and prints no result")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    sys.exit(1 if misses else 0)


if __name__ == "__main__":
    main()
