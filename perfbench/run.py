"""KG-construction benchmark: one closed-loop client on local[nproc].

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from --seed and
cached under .perfbench_cache/ (untimed). Each Spark session runs in
its own process (perfbench/driver.py), one at a time:

--trace 0  one fresh session that times set-up and one cold KG run, does
           two warm-up runs, then times warm KG runs for --seconds.
           Prints the end-to-end metrics.
--trace 1  one fresh session that times set-up call by call, runs the
           pipeline untraced and then traced stage by stage. Prints the
           per-layer metrics.

Every KG run's triples are checked against the oracle (triple P/R >=
0.95; exact differences recorded); a wrong or failed run counts in
`failed`. The last stdout line is the result
object; the line before it is the run record (host, heap, versions,
seed, workload, per-run verdicts, gate plan). The record and all spans
are also written to .perfbench_cache/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)

import measure  # noqa: E402

# the Spark session must end within this many seconds of the start, so
# that reaping it and reporting still end within 180 s
TIME_BUDGET_S = 150.0

# pipeline stage → per-layer metric prefix (the non-tiny stages)
STAGE_LAYERS = {
    "mentions": "operators.mentions",
    "linked": "operators.linking",
    "triples": "plans.kg.triples",
}


def host_spec() -> dict:
    ram = os.sysconf("SC_PHYS_PAGES") * measure.PAGE_BYTES
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_bytes": ram,
        "memory_limit_bytes": memory_limit(ram),
        "platform": platform.platform(),
        "python": platform.python_version(),
    }


def memory_limit(ram: int) -> int:
    """Physical RAM, or the cgroup v2 limit when that is lower."""
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
    except OSError:
        return ram
    return min(ram, int(raw)) if raw.isdigit() else ram


def driver_heap(limit_bytes: int) -> str:
    """A quarter of the memory limit, in whole GiB, from 1g to 6g."""
    return f"{max(1, min(6, limit_bytes // 4 // 2**30))}g"


class SessionSampler(threading.Thread):
    """Peak summed RSS of every process in one session (the Spark driver
    process, its JVM and the Python workers), sampled from /proc, and
    the CPU time those processes had used when last seen."""

    def __init__(self, sid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.interval = sid, interval
        self.peak = 0
        self.cpu_s: dict[int, float] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            table = measure.process_table()
            pids = {p for p, v in table.items() if v["sid"] == self.sid}
            self.peak = max(self.peak, measure.tree_rss_bytes(table, pids))
            self.cpu_s.update((p, table[p]["cpu_s"]) for p in pids)
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def reap_session(sid: int, grace_s: float = 15.0) -> None:
    """Stop every process left in the session and wait until all have
    ended. The JVM and the Python workers exit on their own once the
    driver process is gone; after half the grace period stragglers get
    SIGTERM, after all of it SIGKILL."""
    t0 = time.monotonic()
    sent = None
    while True:
        left = [
            p for p, v in measure.process_table().items()
            if v["sid"] == sid and v["state"] != "Z"
        ]
        if not left:
            return
        waited = time.monotonic() - t0
        sig = signal.SIGKILL if waited > grace_s else (
            signal.SIGTERM if waited > grace_s / 2 else None)
        if sig is not None and sig != sent:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.1)


def run_session(mode: str, inputs: str, seconds: float, cache: str, tag: str,
                env: dict, timeout_s: float) -> dict:
    """Run perfbench/driver.py in its own process session, sample the
    session's RSS while it runs, stop whatever it leaves behind, and
    return its result (an empty run list if it wrote none)."""
    out = os.path.join(cache, "results", f"{tag}.session.json")
    log = os.path.join(cache, "results", f"{tag}.session.log")
    if os.path.exists(out):
        os.remove(out)
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--mode", mode, "--inputs", inputs,
        "--work", os.path.join(cache, "work"),
        "--seconds", str(seconds), "--out", out,
    ]
    t0 = time.monotonic()
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            cmd, cwd=REPO, env=env, stdout=logf, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = SessionSampler(proc.pid)
        sampler.start()
        try:
            rc = proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            sampler.stop()
            reap_session(proc.pid)
            proc.wait()
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {"runs": []}
    res["returncode"] = rc
    res["wall_s"] = time.monotonic() - t0
    res["peak_rss_bytes"] = sampler.peak
    res["cpu_s"] = sum(sampler.cpu_s.values())
    res["log"] = os.path.relpath(log, REPO)
    return res


def verdicts(sess: dict) -> list[bool]:
    """Per-run verdicts; a session that ended early or failed to set up
    adds one failed attempt."""
    out = [bool(r.get("ok")) for r in sess["runs"]]
    if sess["returncode"] != 0 or "setup" not in sess:
        out.append(False)
    return out


def timed_warm_runs(sess: dict) -> list[dict]:
    """The passing runs of the warm loop (not the cold, warm-up or
    traced-session runs)."""
    return [r for r in sess["runs"] if r.get("ok") and r["run_id"].startswith("timed")]


def e2e_metrics(sess: dict) -> dict:
    """Metrics of passing runs only; a metric with no passing run is
    left out (the run is then reported as failed)."""
    warm = timed_warm_runs(sess)
    cold = [r for r in sess["runs"] if r.get("ok") and r["run_id"] == "cold"]
    m = {}
    if warm:
        m["wall_s"] = (statistics.median(r["wall_s"] for r in warm), "s")
        m["triples_per_s"] = (
            statistics.median(r["correct"] / r["wall_s"] for r in warm), "1/s")
    if cold:
        m["cold_wall_s"] = (cold[0]["wall_s"], "s")
    if "setup" in sess:
        m["setup_s"] = (sess["setup"]["setup_s"], "s")
    m["peak_rss_mb"] = (sess["peak_rss_bytes"] / 2**20, "MB")
    return m


def trace_metrics(sess: dict) -> dict:
    m = {}
    if "setup" in sess:
        m["session.get_spark_s"] = (sess["setup"]["get_spark_s"], "s")
        m["session.warm_python_workers_s"] = (
            sess["setup"]["warm_python_workers_s"], "s")
        m["session.jvm_rss_mb"] = (sess["jvm_rss_mb"], "MB")
    runs = {r.get("run_id"): r for r in sess["runs"]}
    traced, untraced = runs.get("traced", {}), runs.get("untraced", {})
    if "stages" not in traced or "wall_s" not in untraced:
        return m
    m["plans.kg.prepare_ontology_s"] = (traced["prepare_ontology_s"], "s")
    m["plans.kg.estimate_mention_density_s"] = (
        traced["estimate_mention_density_s"], "s")
    m["plans.kg.mention_density"] = (traced["mention_density"], "ratio")
    stages = traced["stages"]
    units = {
        "wall_s": "s", "executor_cpu_s": "s", "python_cpu_s": "s",
        "gc_s": "s", "shuffle_read_bytes": "bytes",
        "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
        "task_skew": "ratio", "rows_out": "count", "bytes_written": "bytes",
    }
    for stage, layer in STAGE_LAYERS.items():
        for k, unit in units.items():
            m[f"{layer}.{k}"] = (stages[stage][k], unit)
    m["operators.mentions.candidate_rows"] = (traced["candidate_rows"], "count")
    m["operators.mentions.hit_ratio"] = (
        stages["mentions"]["rows_out"] / max(1, traced["candidate_rows"]), "ratio")
    m["plans.pipeline.run_s"] = (untraced["pipeline_run_s"], "s")
    m["plans.pipeline.stage_overlap"] = (
        sum(s["wall_s"] for s in stages.values()) / untraced["pipeline_run_s"],
        "ratio")
    m["perfbench.trace_gap_s"] = (traced["traced_wall_s"] - untraced["wall_s"], "s")
    m["perfbench.trace_overhead_s"] = (traced["trace_overhead_s"], "s")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start, steal0 = time.monotonic(), measure.cpu_steal_s()

    if not os.path.isdir(os.path.join(REPO, "cello_spark")):
        print("perfbench: no cello_spark package next to perfbench/", file=sys.stderr)
        return 2
    import workloads

    cache = os.path.join(REPO, ".perfbench_cache")
    os.makedirs(os.path.join(cache, "results"), exist_ok=True)
    host = host_spec()
    # the program's own CELLO_* switches (e.g. a forced gate plan) would
    # measure a different program; only deployment settings pass
    env = {k: v for k, v in os.environ.items() if not k.startswith("CELLO_")}
    env.update({
        "SPARK_GRAFT_CPUS": str(host["cores"]),
        "SPARK_LOCAL_DIRS": os.path.join(cache, "spark-local"),
        "SPARK_DRIVER_MEM": driver_heap(host["memory_limit_bytes"]),
        # the program's temp files (the py-files zip, the compiled
        # hierarchy kernel) stay inside the checkout
        "TMPDIR": os.path.join(cache, "tmp"),
    })
    for d in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    # the oracle below runs in this process and uses the same kernel
    tempfile.tempdir = env["TMPDIR"]

    inputs = workloads.prepare_inputs(args.workload, args.seed, cache)
    inputs_s = time.monotonic() - t_start
    with open(os.path.join(inputs, "meta.json")) as f:
        meta = json.load(f)

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    sess = run_session(
        "trace" if args.trace else "e2e", inputs, args.seconds, cache, tag, env,
        TIME_BUDGET_S - (time.monotonic() - t_start))

    attempted, failed, err = measure.error_rate(verdicts(sess))
    metrics = trace_metrics(sess) if args.trace else e2e_metrics(sess)
    timed = [r["wall_s"] for r in timed_warm_runs(sess)]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "heap": env["SPARK_DRIVER_MEM"],
        "versions": sess.get("versions"),
        "inputs": meta,
        "inputs_s": inputs_s,
        "error_rate": err,
        "warm_walls": measure.summarize(timed) if timed else None,
        "runs": [
            {k: r.get(k) for k in
             ("run_id", "ok", "wall_s", "steal_s", "triples", "correct", "plan", "precision",
              "recall", "exact", "extra", "missing", "duplicates", "error")}
            for r in sess["runs"]
        ],
        "gate_plans": sorted({r["plan"] for r in sess["runs"] if "plan" in r}),
        "unexpected_plans": sorted(
            {r["plan"] for r in sess["runs"] if "plan" in r} - {meta["expect_plan"]}),
        "mention_density": metrics.get("plans.kg.mention_density", (None,))[0],
        "session": {
            k: sess.get(k)
            for k in ("returncode", "wall_s", "cpu_s", "setup", "jvm_rss_mb", "log")
        },
        "peak_rss_mb": sess["peak_rss_bytes"] / 2**20,
        "elapsed_s": time.monotonic() - t_start,
        "cpu_steal_s": measure.cpu_steal_s() - steal0,
    }
    with open(os.path.join(cache, "results", f"{tag}.json"), "w") as f:
        json.dump({"record": record, "spans": sess.get("spans", [])}, f)
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
