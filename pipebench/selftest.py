#!/usr/bin/env python3
"""Self-checks of the pipeline benchmark. Run from the repository root.

    python3 pipebench/selftest.py corrupt    # a corrupted output must fail verification
    python3 pipebench/selftest.py counts     # exact counts repeat across two traced runs
    python3 pipebench/selftest.py overhead   # traced vs untraced end-to-end medians

Each mode runs every workload; exits non-zero when a check does not hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = [w["name"] for w in json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["workloads"]]
SEED = 7
# per-layer metrics that must repeat exactly for a fixed seed
EXACT = {
    "live": ["ingestjobs.rows_in", "ingestjobs.batches", "streamingops.state_rows",
             "spark.tasks_per_step", "ingestjobs.files_out", "streamingops.files_out"],
    "log_live": ["ingestjobs.rows_in", "ingestjobs.batches", "tablelog.versions",
                 "tablelog.data_files", "tablelog.checkpoints"],
}
RUN = os.path.join(HERE, "run.py")


def run(workload, seconds, trace=0, corrupt=0, seed=SEED):
    out = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace),
                          "--corrupt", str(corrupt)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def corrupt():
    ok = True
    for w in WORKLOADS:
        r = run(w, 10, corrupt=1)
        held = not r["correct"] and r["failed"] > 0
        ok &= held
        print(f"{w}: corrupted run correct={r['correct']} failed={r['failed']}/{r['attempted']}"
              f" -> {'detected' if held else 'NOT DETECTED'}")
    return ok


def counts():
    ok = True
    for w in WORKLOADS:
        a, b = run(w, 20, trace=1), run(w, 20, trace=1)
        for m in EXACT[w]:
            x, y = a["metrics"][m]["value"], b["metrics"][m]["value"]
            same = x == y
            ok &= same
            print(f"{w}: {m} {x} vs {y} {'same' if same else 'DIFFERENT'}")
    return ok


def overhead():
    for w in WORKLOADS:
        u, t = run(w, 20), run(w, 20, trace=1)
        for m in ["commit_ms_p50", "refresh_ms_p50"]:
            base, traced = u["metrics"][m]["value"], t["metrics"]["trace." + m]["value"]
            print(f"{w}: {m} untraced {base:.1f} traced {traced:.1f} ratio {traced / base:.3f}")
    return True


if __name__ == "__main__":
    modes = {"corrupt": corrupt, "counts": counts, "overhead": overhead}
    if len(sys.argv) != 2 or sys.argv[1] not in modes:
        sys.exit(__doc__)
    sys.exit(0 if modes[sys.argv[1]]() else 1)
