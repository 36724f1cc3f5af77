"""Re-capture perfbench/digests.json: the row count and order-insensitive
digest of every query_suite query over the fixed query tables.

    python3 perfbench/capture.py      # from the repository root

The digests pin the results of the commit they were captured on; a later
change that alters a query's result on purpose re-captures them and says
so.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def main():
    root = Path.cwd()
    build.ensure_built(root)
    work = root / ".bench_work" / "capture"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        gen.query_tables(work / "tables", run.QUERY_DATA_SEED)
        p = subprocess.run(
            run.jvm_command(root, work, ["capture", work / "tables", work, *run.QUERY_SUITE]),
            capture_output=True, text=True, check=True)
        digests = {}
        for line in p.stdout.splitlines():
            name, rows, digest, _secs = line.split()
            digests[name] = {"rows": int(rows), "digest": digest}
        if sorted(digests) != sorted(run.QUERY_SUITE):
            raise SystemExit(f"capture incomplete:\n{p.stdout}")
        (BENCH / "digests.json").write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")
        print(f"captured {len(digests)} digests")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
