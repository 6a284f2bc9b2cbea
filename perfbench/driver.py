"""One fresh Spark session of the benchmark, run as its own process so
that set-up includes the JVM launch a one-shot spark-submit user pays.

    python3 perfbench/driver.py --mode e2e|trace --inputs DIR --work DIR
                                --seconds S --out FILE

e2e:   time get_spark + warm_python_workers, then one cold KG run,
       WARMUP_RUNS untimed warm-up runs, then warm runs until S seconds
       have passed.
trace: time the same set-up call by call, run the pipeline untraced
       (cold, then warm), then once more with a span around every
       public call and Spark's per-stage metrics attributed to each
       pipeline stage by stage-id window.

Every run's triples output is compared with the oracle triples in DIR
(see KGSession.check).
The result is one JSON object written to FILE. The program is driven
only through its public calls; the environment (cores, heap, local
dirs) is set by perfbench/run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import measure  # noqa: E402

# triple precision and recall a run must reach against the oracle
# (the acceptance bound in BASELINE.json)
MIN_PR = 0.95

# untimed KG runs between the cold run and the measured warm runs
WARMUP_RUNS = 2


def gate_plan(pipe) -> str:
    """Which mention-gate plan the built pipeline runs: 'sparse' when
    the linked stage waits on mentions, 'dense' when it does not."""
    for name, _fn, _tiny, deps in pipe.stages:
        if name == "linked":
            if deps is None:
                return "serial"
            return "sparse" if "mentions" in deps else "dense"
    return "unknown"


class KGSession:
    """A Spark session plus the workload's inputs and oracle."""

    def __init__(self, input_dir: str, work_root: str, tracer: measure.Tracer):
        import pandas as pd

        import workloads

        with open(os.path.join(input_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.input_dir = input_dir
        self.work_root = work_root
        self.tracer = tracer
        self.onto, self.weights, self.thresholds = workloads.fixture_world()
        want = pd.read_parquet(os.path.join(input_dir, "oracle.parquet"))
        self.want = set(want.itertuples(index=False, name=None))
        self.spark = None

    # -- set-up ------------------------------------------------------------

    def setup(self, run_id: str) -> dict:
        from cello_spark.session import get_spark, warm_python_workers

        with self.tracer.span("session.get_spark", run_id) as s1:
            self.spark = get_spark(app_name="perfbench")
        with self.tracer.span("session.warm_python_workers", run_id) as s2:
            warm_python_workers(self.spark)
        return {
            "get_spark_s": measure.duration(s1),
            "warm_python_workers_s": measure.duration(s2),
            "setup_s": s2["end"] - s1["start"],
        }

    def inputs(self):
        read = self.spark.read.parquet
        return (
            read(os.path.join(self.input_dir, "documents.parquet")),
            read(os.path.join(self.input_dir, "features.parquet")),
        )

    # -- one KG run --------------------------------------------------------

    def build(self, run_id: str, workdir: str):
        from cello_spark.plans.kg import build_kg_pipeline

        documents, features = self.inputs()
        with self.tracer.span("plans.kg.build_kg_pipeline", run_id):
            return build_kg_pipeline(
                self.spark,
                workdir,
                documents,
                features,
                self.onto,
                self.weights,
                self.thresholds,
            )

    def check(self, pipe) -> dict:
        """The whole triples output against the oracle (see
        measure.compare_triples)."""
        got = pipe.output("triples").select("subj", "pred", "obj").toPandas()
        return measure.compare_triples(
            list(got.itertuples(index=False, name=None)), self.want, MIN_PR)

    def kg_run(self, run_id: str) -> dict:
        """Input to complete output: build_kg_pipeline + Pipeline.run +
        the triples count, timed; then the oracle check, untimed."""
        workdir = os.path.join(self.work_root, run_id)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            steal0 = measure.cpu_steal_s()
            with self.tracer.span("kg_run", run_id) as root:
                pipe = self.build(run_id, workdir)
                with self.tracer.span("plans.pipeline.run", run_id) as r:
                    pipe.run()
                with self.tracer.span("triples.count", run_id):
                    n = pipe.output("triples").count()
            out = {
                "run_id": run_id,
                "wall_s": measure.duration(root),
                "steal_s": measure.cpu_steal_s() - steal0,
                "pipeline_run_s": measure.duration(r),
                "triples": n,
                "plan": gate_plan(pipe),
            }
            out.update(self.check(pipe))
        except Exception:  # a failed run is counted, never dropped
            traceback.print_exc()
            out = {"run_id": run_id, "ok": False, "error": traceback.format_exc(limit=3)}
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        return out

    # -- traced run --------------------------------------------------------

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _drain_listener(self) -> None:
        """Wait until the status store has seen every event so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def known_stage_ids(self) -> set[int]:
        self._drain_listener()
        ids = set()
        jobs = self._store().jobsList(None)
        for i in range(jobs.size()):
            seq = jobs.apply(i).stageIds()
            ids.update(seq.apply(k) for k in range(seq.size()))
        return ids

    def stage_record(self, sid: int) -> dict:
        sc = self.spark.sparkContext
        store = self._store()
        s = store.lastStageAttempt(sid)
        rec = {
            "stage_id": sid,
            "status": s.status().toString(),
            "num_tasks": s.numTasks(),
            "executor_run_ms": s.executorRunTime(),
            "executor_cpu_ns": s.executorCpuTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "output_bytes": s.outputBytes(),
        }
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summary = store.taskSummary(sid, s.attemptId(), q)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            if rt.apply(0) > 0:
                rec["task_p50_ms"], rec["task_max_ms"] = rt.apply(0), rt.apply(1)
        return rec

    def python_cpu_s(self) -> float:
        return measure.python_worker_cpu_s(measure.process_table(), os.getpid())

    def traced_run(self, run_id: str) -> dict:
        """A span around every public call; for each pipeline stage in
        order, Pipeline.run(stop_after=stage) runs exactly that stage,
        and the Spark stages submitted inside the call's window are
        summed into the stage's metrics."""
        from cello_spark.operators.mentions import candidate_ngrams, text_spans
        from cello_spark.plans.kg import estimate_mention_density, prepare_ontology

        t = self.tracer
        workdir = os.path.join(self.work_root, run_id)
        shutil.rmtree(workdir, ignore_errors=True)
        out, stages = {"run_id": run_id}, {}
        try:
            documents, _ = self.inputs()
            with t.span("plans.kg.prepare_ontology", run_id) as sp:
                prep = prepare_ontology(self.onto)
            out["prepare_ontology_s"] = measure.duration(sp)
            alias_df = self.spark.createDataFrame(prep["alias_dict"])
            with t.span("plans.kg.estimate_mention_density", run_id) as sp:
                out["mention_density"] = estimate_mention_density(documents, alias_df)
            out["estimate_mention_density_s"] = measure.duration(sp)
            with t.span("operators.mentions.candidate_ngrams", run_id):
                out["candidate_rows"] = candidate_ngrams(text_spans(documents)).count()

            with t.span("kg_run", run_id) as root:
                pipe = self.build(run_id, workdir)
                for name in [s[0] for s in pipe.stages]:
                    before, cpu0 = self.known_stage_ids(), self.python_cpu_s()
                    with t.span(f"plans.pipeline.run:{name}", run_id) as sp:
                        res = pipe.run(stop_after=name)
                    after, cpu1 = self.known_stage_ids(), self.python_cpu_s()
                    recs = [
                        self.stage_record(sid)
                        for sid in measure.new_stage_ids(before, after)
                    ]
                    m = measure.stage_window_metrics(recs)
                    m["wall_s"] = measure.duration(sp)
                    m["python_cpu_s"] = cpu1 - cpu0
                    m["rows_out"] = next(
                        (r.rows for r in res if r.name == name and not r.skipped), 0
                    )
                    stages[name] = m
                with t.span("triples.count", run_id):
                    n = pipe.output("triples").count()
            out.update(
                {
                    "plan": gate_plan(pipe),
                    "triples": n,
                    "traced_wall_s": measure.duration(root),
                    # driver-side time between the traced calls: the
                    # status-store and /proc reads of the window bookkeeping
                    "trace_overhead_s": measure.self_time(root, t.spans),
                    "stages": stages,
                }
            )
            out.update(self.check(pipe))
        except Exception:  # a failed run is counted, never dropped
            traceback.print_exc()
            out.update({"ok": False, "error": traceback.format_exc(limit=3)})
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        return out

    # -- environment ---------------------------------------------------------

    def versions(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "pyspark": pyspark.__version__,
            "jdk": jvm.System.getProperty("java.version"),
            "spark_master": self.spark.sparkContext.master,
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
        }

    def jvm_rss_mb(self) -> float:
        table = measure.process_table()
        tree = measure.descendants(table, os.getpid())
        java = {p for p in tree if "java" in table[p]["cmd"].split(" ")[0]}
        return measure.tree_rss_bytes(table, java) / 2**20


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("e2e", "trace"), required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    tracer = measure.Tracer()
    sess = KGSession(args.inputs, args.work, tracer)
    result = {"mode": args.mode, "runs": []}
    try:
        result["setup"] = sess.setup(args.mode)
        result["versions"] = sess.versions()
        result["jvm_rss_mb"] = sess.jvm_rss_mb()
        result["runs"].append(sess.kg_run("cold"))
        if args.mode == "e2e":
            # runs keep getting faster for about five runs after the
            # cold one (~4.0 s falling to ~3.2 s on 4 cores); the
            # warm-up runs keep most of that out of the measured runs,
            # within the time one benchmark run may take
            for i in range(1, WARMUP_RUNS + 1):
                result["runs"].append(sess.kg_run(f"warmup{i}"))
            deadline = time.monotonic() + args.seconds
            i = 0
            while time.monotonic() < deadline:
                i += 1
                result["runs"].append(sess.kg_run(f"timed{i}"))
        else:
            result["runs"].append(sess.kg_run("untraced"))
            result["runs"].append(sess.traced_run("traced"))
    finally:
        result["spans"] = tracer.spans
        with open(args.out, "w") as f:
            json.dump(result, f)
        if sess.spark is not None:
            sess.spark.stop()


if __name__ == "__main__":
    main()
