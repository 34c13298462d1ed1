"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Steps: build graft and the benchmark program from source (build.py,
cached by content), generate the workload's inputs from the seed
(gen.py), run the program (perfbench.Main) in one JVM with a
`graft.core.Sessions.local(nproc)` session, and print the result.
With --trace 0 the result carries every end-to-end metric of
BENCHMARK.json, with --trace 1 every per-layer metric. The last
stdout line is the result object; the lines before it are the human
report (operation counts, sample counts, failures).

Everything the run writes stays under the build directory of the
checkout (CARGO_TARGET_DIR, default .bench_build).
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing in the benchmark's directory
import build  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 175.0  # a run must end within 180 s


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_child(cmd, timeout, log):
    """Runs cmd in its own process group; kills the group on timeout
    and always waits for it."""
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             cwd=ROOT, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, timeout))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return p.returncode, out


def tail(path, n=30):
    with open(path) as f:
        return "".join(f.readlines()[-n:])


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    built = build.build()
    t_built = time.monotonic()

    base = build.build_dir()
    run_dir = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work, tmp = (os.path.join(run_dir, d) for d in ("input", "work", "tmp"))
    for d in (inputs, work, tmp):
        os.makedirs(d)
    try:
        t0 = time.monotonic()
        code, _ = run_child([sys.executable, os.path.join(HERE, "gen.py"), "--workload", a.workload,
                             "--seed", str(a.seed), "--out", inputs],
                            DEADLINE_S - (t0 - t_built), os.path.join(run_dir, "gen.log"))
        if code != 0:
            fail("input generation failed\n" + tail(os.path.join(run_dir, "gen.log")))
        gen_s = time.monotonic() - t0

        cpus = len(os.sched_getaffinity(0))
        jvm = build.jvm_command(built, tmp, [
            "--workload", a.workload, "--input", inputs, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus),
            "--spans", os.path.join(base, "traces", f"{a.workload}-{a.seed}.jsonl")])
        log = os.path.join(run_dir, "jvm.log")
        try:
            code, out = run_child(jvm, DEADLINE_S - (time.monotonic() - t_built), log)
        except subprocess.TimeoutExpired:
            fail("the benchmark JVM exceeded the run deadline\n" + tail(log))
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if code != 0 or not lines:
            fail(f"the benchmark JVM exited {code} without a result\n" + tail(log))
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = dict(res["e2e"])
    if "setup_s" in e2e:
        e2e["setup_s"] += gen_s
    layer = dict(res["layer"])
    samples = res["samples"]
    for kind in ("write", "read", "throughput"):
        layer[f"bench.{kind}_samples"] = len(samples.get(kind, []))

    notes = []
    if a.trace == 1:
        # counted layer metrics must repeat exactly for a seed: compare
        # with the last traced run of this seed on this very build (the
        # build directory is keyed by the sources)
        counted = {k: layer[k] for k in res["counted"] if k in layer}
        state = os.path.join(built, "counts")
        os.makedirs(state, exist_ok=True)
        cpath = os.path.join(state, f"{a.workload}-{a.seed}.json")
        mismatches = []
        if os.path.exists(cpath):
            with open(cpath) as f:
                before = json.load(f)
            mismatches = [k for k in counted if k in before and before[k] != counted[k]]
        else:
            notes.append(f"note: first traced run of seed {a.seed} on this build: counts recorded")
        layer["bench.count_mismatches"] = len(mismatches)
        for k in mismatches:
            notes.append(f"FLAG: count {k} differs from the previous run of seed {a.seed}")
        with open(cpath, "w") as f:
            json.dump(counted, f)

    want = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    source = e2e if a.trace == 0 else layer
    metrics, missing = {}, []
    for m in want:
        if m["name"] in source and source[m["name"]] is not None:
            metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
        elif a.trace == 1 and not m["name"].startswith("bench."):
            # a layer this workload leaves idle
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    correct = res["failed"] == 0 and not missing

    ops = ", ".join(f"{k} {v[0]} attempted / {v[1]} failed" for k, v in res["ops"].items())
    print(f"# {a.workload} seed={a.seed} trace={a.trace} cpus={len(os.sched_getaffinity(0))}")
    print(f"# ops: {ops}")
    for kind, xs in samples.items():
        print(f"# {kind} samples: n={len(xs)} median={statistics.median(xs):.4g} in order: "
              + " ".join(f"{x:.4g}" for x in xs))
    print("# info: " + ", ".join(f"{k}={v:.4g}" for k, v in res["info"].items())
          + f", gen_s={gen_s:.3f}, build_s={t_built - t_start:.1f}"
          + ", setup_reps_s=" + "/".join(f"{x:.2f}" for x in res["setup_reps_s"]))
    for f in res["failures"] + [f"missing metric {m}" for m in missing]:
        print(f"# FAIL: {f}")
    for n in notes:
        print(f"# {n}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"] + len(missing), "metrics": metrics}))


if __name__ == "__main__":
    main()
