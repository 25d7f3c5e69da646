#!/usr/bin/env python3
"""Benchmark of the spatial engine: three closed-loop workloads, every job
checked against an oracle built in set-up.

    python3 perfbench/run.py --workload geodoc_pip_tile --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke      # every workload once at minimal size

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones (plus a span file under .perfbench_out/). A job runs only after the
previous one returned (one client at local[4]; the traced run of
geodoc_pip_tile adds a local[1] twin for the scaling efficiency).
"""

from __future__ import annotations

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
ROOT = os.path.dirname(HERE)
CORES = 4
HARD_CAP_S = 140.0  # stop starting jobs past this, so a run ends well within 180 s
WARMUP_S = 8.0  # after the cold first job, set-up keeps running checked jobs this long (at least one)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def tail(values: list[float]) -> tuple[int, float]:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    import numpy as np

    n = len(values)
    ok = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100.0 >= 10]
    p = max(ok) if ok else 50
    return p, float(np.percentile(values, p))


class Run:
    def __init__(self, args):
        self.args = args
        self.t0 = time.perf_counter()
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")

    def remove_work(self):
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))  # only when no other run uses it
        except OSError:
            pass

    # -- session -----------------------------------------------------------
    def start_session(self, cores: int):
        from whitebox_tools_spark.session import get_spark

        return get_spark(app_name="perfbench", cores=cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        })

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self):
        """Stop the gateway JVM and wait until every child process is gone."""
        from pyspark import SparkContext

        from probes import descendants

        self.stop_session()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        deadline = time.time() + 20
        while (left := descendants(os.getpid())) and time.time() < deadline:
            time.sleep(0.2)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass

    # -- job loop ----------------------------------------------------------
    def loop(self, wl, tr, host, budget: float, min_jobs: int, span: bool = False):
        """Closed loop: (wall seconds, input rows) per job, checked."""
        out, spans = [], []
        start = time.perf_counter()
        # stop before a job that would likely end past the budget
        while len(out) < min_jobs or (
            time.perf_counter() - start + statistics.median(t for t, _ in out) <= budget
        ):
            if time.perf_counter() - self.t0 > HARD_CAP_S and out:
                break
            self.attempted += 1
            with host.around():
                t = time.perf_counter()
                try:
                    if span:
                        with tr.span("job") as js:
                            rows, ok = wl.job(self.spark, tr)
                        spans.append(js)
                    else:
                        rows, ok = wl.job(self.spark, tr)
                except Exception as e:  # a failed Spark job counts, the loop goes on
                    print(f"# job failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
                    ok = False
                    rows = None
                dt = time.perf_counter() - t
            if not ok:
                self.failed += 1
            if rows is not None:
                if not ok:
                    print(f"# job {self.attempted}: output does not match the oracle", file=sys.stderr)
                out.append((dt, rows))
        return out, spans

    # -- phases ------------------------------------------------------------
    def setup(self, wl_cls, size):
        from probes import HostSampler, NullTracer
        from workloads import timed

        self.marks = {}
        w0 = time.time()
        self.spark, session_s = timed(self.start_session, CORES)
        self.marks["session.get_spark"] = (w0, time.time())
        wl = wl_cls(self.work, self.args.seed, size)
        w0 = time.time()
        _, gen = timed(wl.make_inputs)
        self.marks["datagen.write_geodocs"] = (w0, time.time())
        _, orc = timed(wl.build_oracle)
        w0 = time.time()
        _, prep_s = timed(wl.prepare, self.spark)
        self.marks["ingest.prepare"] = (w0, time.time())
        host = HostSampler()
        # the first job compiles the plans; job times then keep falling for
        # several more jobs while the JIT catches up, so warm past that too
        warm, _ = self.loop(wl, NullTracer(), host, 0.0, 1)
        warm += self.loop(wl, NullTracer(), host, WARMUP_S, 1)[0]
        print(f"# set-up: session {session_s:.2f} s, inputs {gen:.2f} s, oracle {orc:.2f} s, "
              f"prepare {prep_s:.2f} s, warm-up {[round(t, 2) for t, _ in warm]}", file=sys.stderr)
        self.layers = {"session.start_s": session_s, "datagen.write_s": gen}
        self.setup_s = session_s + gen + orc + prep_s + sum(t for t, _ in warm)
        return wl

    def timed_run(self, wl):
        from probes import HostSampler, NullTracer

        host = HostSampler()
        main, _ = self.loop(wl, NullTracer(), host, self.args.seconds, 2)
        times = [t for t, _ in main]
        print(f"# local[{CORES}] jobs {[round(t, 3) for t in times]}", file=sys.stderr)
        rows = main[0][1]
        p50 = statistics.median(times)
        p, tail_v = tail(times)
        print(f"# input rows per job: {rows}; jobs: {len(times)}")
        print(f"# job_s_tail is p{p} of n={len(times)} (p50 when fewer than 20 jobs)")
        print(f"# host.sys_share median {host.median_sys_share():.3f}; storm jobs (>10% kernel): "
              f"{host.storm_jobs} of {len(host.sys_shares)} (kept)")
        return {
            "setup_s": self.setup_s,
            "job_s_p50": p50,
            "job_s_tail": tail_v,
            "rows_per_s": rows / p50,
            "peak_rss_mb": host.peak_rss_mb,
        }

    def scaling_twin(self, wl, host, local4_p50: float, budget: float) -> float:
        """rows_per_s at local[4] over 4 x rows_per_s at local[1], the same
        input run back to back in a local[1] session."""
        self.stop_session()
        self.spark = self.start_session(1)
        wl.prepare(self.spark)
        from probes import NullTracer

        self.loop(wl, NullTracer(), host, 0.0, 1)  # warm the new session
        twin, _ = self.loop(wl, NullTracer(), host, budget, 1)
        twin_p50 = statistics.median(t for t, _ in twin)
        print(f"# local[1] jobs {[round(t, 3) for t, _ in twin]}", file=sys.stderr)
        return twin_p50 / (CORES * local4_p50)

    def traced_run(self, wl):
        from probes import HostSampler, NullTracer, SparkStats, Tracer, attach_jobs
        from workloads import job_stage_sums

        secs = self.args.seconds
        host = HostSampler()
        stats = SparkStats(self.spark)
        first = stats.last_job_id()
        tracer = Tracer(self.spark, f"{self.args.workload}-s{self.args.seed}")
        for name, (a, b) in self.marks.items():
            tracer.add(name, a, b, None)
        wl.begin_trace()
        # untraced and traced jobs alternate, so both see the same JIT state
        untraced, traced, job_spans = [], [], []
        start = time.perf_counter()
        while len(traced) < 2 or (
            time.perf_counter() - start + statistics.median(t for t, _ in untraced + traced) * 2
            <= secs * 2 / 3.0 and time.perf_counter() - self.t0 < HARD_CAP_S
        ):
            untraced += self.loop(wl, NullTracer(), host, 0.0, 1)[0]
            out, spans = self.loop(wl, tracer, host, 0.0, 1, span=True)
            traced += out
            job_spans += spans
        tracer.attached = attach_jobs(tracer, stats.jobs(first))
        for sid, jobs in list(tracer.attached.items()):
            for j in jobs:
                if j["start"] and j["end"]:
                    tracer.add("spark.job", j["start"], j["end"], sid)
        layers = dict(self.layers)
        layers.update(wl.layer_metrics(tracer, stats, job_spans, self.spark))

        per_job, longest = [], (0, None)
        for js in job_spans:
            jobs = [j for s in tracer.subtree(js["id"]) for j in tracer.attached.get(s["id"], [])]
            sums = job_stage_sums(stats, jobs)
            per_job.append((js["end"] - js["start"], sums))
            if sums["longest_stage"] is not None:
                st = stats.stage(sums["longest_stage"])
                if st and st["run_ms"] >= longest[0]:
                    longest = (st["run_ms"], sums["longest_stage"])
        skew = 0.0
        if longest[1] is not None:
            st = stats.stage(longest[1], summaries=True)
            if st and st.get("task_run_p50_ms"):
                skew = st["task_run_max_ms"] / st["task_run_p50_ms"]

        def med(f):
            return statistics.median(f(w, s) for w, s in per_job)

        layers.update({
            "spark.task_busy_frac": med(lambda w, s: s["run_ms"] / 1000.0 / (w * CORES)),
            "spark.task_overhead_s": med(lambda w, s: (s["deser_ms"] + s["result_ser_ms"]) / 1000.0),
            "spark.gc_s": med(lambda w, s: s["gc_ms"] / 1000.0),
            "spark.task_skew": skew,
            "spark.tasks": med(lambda w, s: s["tasks"]),
            "spark.failed_tasks": sum(s["failed_tasks"] for _, s in per_job),
            "host.sys_share": host.median_sys_share(),
            "host.storm_jobs": host.storm_jobs,
            "ops_failed_frac": self.failed / self.attempted,
            "trace.overhead_s": statistics.median(t for t, _ in traced)
            - statistics.median(t for t, _ in untraced),
        })
        if wl.scaling_twin:
            layers["scaling_eff_1to4"] = self.scaling_twin(
                wl, host, statistics.median(t for t, _ in untraced), secs / 3.0)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{self.args.workload}-s{self.args.seed}.json"))
        for name, s in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]):
            print(f"# self {name}: {s:.3f} s")
        return layers


def prepare_env(work: str):
    """Keep every file Spark, the JVM and DuckDB write inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [ROOT, HERE]


def bench(args) -> int:
    spec = load_spec()
    run = Run(args)
    prepare_env(run.work)
    try:
        import workloads
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        run.remove_work()
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]
    size = workloads.SIZES[args.size][args.workload]
    try:
        wl = run.setup(wl_cls, size)
        values = run.traced_run(wl) if args.trace else run.timed_run(wl)
    finally:
        run.shutdown_jvm()
        run.remove_work()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    correct = run.failed == 0
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def smoke() -> int:
    """Each workload once at minimal size, untraced and traced: every named
    metric must be printed with its unit, and the oracle gate must pass."""
    spec = load_spec()
    bad = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"], "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{w['name']} trace={trace}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
                continue
            wanted = spec["per_layer"] if trace else spec["end_to_end"]
            got = res["metrics"]
            problems = [m["name"] for m in wanted
                        if got.get(m["name"], {}).get("unit") != m["unit"]
                        or not isinstance(got[m["name"]].get("value"), float)]
            if set(got) != {m["name"] for m in wanted}:
                problems.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}")
            if p.returncode != 0 or not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"exit {p.returncode}, correct={res['correct']}, failed={res['failed']}")
            print(f"smoke {w['name']} trace={trace}: {'ok' if not problems else problems}")
            if problems:
                bad.append(f"{w['name']} trace={trace}: {problems}")
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=load_spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    names = {w["name"] for w in load_spec()["workloads"]}
    if args.workload not in names:
        ap.error(f"--workload must be one of {sorted(names)}")
    return bench(args)


if __name__ == "__main__":
    sys.exit(main())
