"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark's JVM
harness on first use (see build.py), generates the workload's inputs from
the seed (see gen.py), runs set-up and the timed closed loop in one JVM
with local[nproc], checks the outputs, and prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). A traced run also writes its spans and
per-layer record to .bench_work/traces/; layer_diff.py compares two.
"""

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("query_suite", "embed_backfill", "curation_day")
SETUP_REPS = 3
JVM_HEAP = "3g"
RUN_LIMIT_S = 175

# query_suite: the data is one fixed table set whose results are pinned in
# digests.json; the seed orders the queries. The list is a fixed
# cross-section of SparkEntry.queries from six of its ten query packs,
# chosen for the layers the workload isolates: schema jobs in Tables,
# eager build jobs and trained SessionStage builds (q104's quantizer,
# q170's citation edges), broadcast and sort-merge joins, grouped
# aggregation, text and vector kernels. Nine queries keep a four-pass run
# under a minute.
QUERY_DATA_SEED = 20260101
QUERY_SUITE = (
    "q01_pricing_summary", "q04_revenue_by_nation", "q23_dedup_exact",
    "q36_asof_join", "q43_bm25", "q95_cms_heavy", "q104_semdedup",
    "q125_pmi_bigrams", "q170_triangles")
ARXIV_ROWS, ARXIV_FILES = 8000, 8
DAY_DOCS, DAY_DELIVERIES = 900, 2

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def make_inputs(workload, in_dir, seed):
    """Write the workload's inputs for `seed` under in_dir."""
    if workload == "query_suite":
        gen.query_tables(in_dir / "tables", QUERY_DATA_SEED)
        order = list(QUERY_SUITE)
        random.Random(seed).shuffle(order)
        (in_dir / "order.txt").write_text("\n".join(order) + "\n")
    elif workload == "embed_backfill":
        truth = gen.arxiv_table(in_dir / "arxiv", seed, ARXIV_ROWS, ARXIV_FILES)
        gen.arxiv_table(in_dir / "warm", seed + 1, 100, 1)
        (in_dir / "truth.json").write_text(json.dumps(truth))
    else:
        truth = gen.curation_day(in_dir / "day", seed, DAY_DOCS, DAY_DELIVERIES)
        gen.curation_day(in_dir / "warm", seed + 1, 100, 1)
        (in_dir / "truth.json").write_text(json.dumps(truth))


def jvm_command(root, work, args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write under the system temp dir
    return (["java", *build.share_flags(root), "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}",
             "-XX:+UseG1GC", *opens,
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-cp", build.classpath(root), "perfbench.Main"] + [str(a) for a in args])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    want = spec["per_layer" if a.trace else "end_to_end"]
    build.ensure_built(root)

    start = time.monotonic()
    work = root / ".bench_work" / f"{a.workload}-s{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        gen_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            shutil.rmtree(work / "in", ignore_errors=True)
            make_inputs(a.workload, work / "in", a.seed)
            gen_s.append(time.perf_counter() - t0)

        out = work / "result.json"
        log = work / "jvm.log"
        cmd = jvm_command(root, work, [a.workload, work / "in", work / "w", BENCH,
                                       a.seconds, a.trace, SETUP_REPS, out,
                                       root / ".bench_work" / "traces"])
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - start)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not out.is_file():
            sys.stderr.write(log.read_text()[-4000:])
            raise SystemExit(f"benchmark JVM failed ({rc})")
        res = json.loads(out.read_text())

        values = dict(res["per_layer"] if a.trace else res["end_to_end"])
        if not a.trace:
            values["setup_s"] = statistics.median(
                g + j for g, j in zip(gen_s, res["setup_jvm_s"]))
        missing = [m["name"] for m in want if values.get(m["name"]) is None]
        if missing:
            raise SystemExit(f"metrics not measured: {missing}")
        tele = dict(res["telemetry"], generate_s=gen_s)
        print("[perfbench] telemetry " + json.dumps(tele))
        for f in res["failures"]:
            print(f"[perfbench] check failed: {f}")
        print(json.dumps({
            "correct": res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                        for m in want}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
