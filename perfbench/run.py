#!/usr/bin/env python3
"""Closed-loop benchmark of featurestore_spark's batch jobs.

    python3 perfbench/run.py --workload vault_features --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs one workload: the next
iteration starts only after the previous result is complete and
checked. Inputs are generated from --seed (perfbench/gen.py) and cached
under .perfbench/; the reference (perfbench/reference.py) is computed
once per seed, outside set-up and outside the timed window.

--trace 0 prints the end-to-end metrics; --trace 1 alternates untraced
and traced warm iterations, prints the per-layer table and the
per-layer metrics, and writes the spans as JSON lines under
.perfbench/traces/.
The last line of standard output is always one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the exit code is 0 only
when every checked output matched the reference and no iteration
failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ITERATION_CAP_S = 60.0  # an iteration past this is cancelled and counted failed
# One warm-up iteration after the cold one: the second iteration of a
# fresh JVM runs ~20 % slower and twice as noisy as later ones, and more
# warm-up does not fit the run budget (perfbench/README.md, "Sizing").
WARMUP_ITERATIONS = 1
RUN_DEADLINE_S = 170.0  # the result line prints before this, whatever happens
TAIL_BEYOND = 10  # iter_s.tail has at least this many warm iterations above it


def host_resources() -> dict:
    """Cores and driver heap derived from this host, not from constants."""
    cores = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, value = line.split(":", 1)
            mem[key] = int(value.split()[0]) * 1024
    total_gb, avail_gb = mem["MemTotal"] / 2**30, mem["MemAvailable"] / 2**30
    heap_gb = max(1, min(int(total_gb * 0.2), int(avail_gb * 0.5)))
    return {
        "nproc": cores,
        "mem_total_gb": round(total_gb, 2),
        "mem_available_gb": round(avail_gb, 2),
        "driver_heap_gb": heap_gb,
    }


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest order statistic with at least
    TAIL_BEYOND samples above it; the median when there are too few."""
    s = sorted(values)
    n = len(s)
    if n < 2 * TAIL_BEYOND:
        return statistics.median(s), 50.0, n
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def start_spark(work: str, res: dict):
    from featurestore_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    cores = res["nproc"]
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": f"{res['driver_heap_gb']}g",
            # a fixed-size heap: peak RSS then follows the program, not
            # when the collector chose to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{res['driver_heap_gb']}g -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failures: list[dict] = []
        self.mismatches: list[str] = []
        self.digest = None
        self.check_s = 0.0
        self._capped = False

    # -- one iteration ------------------------------------------------------

    def _watchdog(self, done: threading.Event) -> None:
        """Past the cap, cancel the iteration's jobs until it ends: a
        cancel only reaches jobs already running, so repeat it."""
        if done.wait(ITERATION_CAP_S):
            return
        self._capped = True
        while not done.is_set():
            self.tracer.cancel_current()
            done.wait(0.5)

    def iteration(self, label: str, traced: bool):
        """Run one iteration; return its wall seconds, or None if it failed."""
        self.wl.before()
        self.tracer.enabled = traced
        self.attempted += 1
        self._capped = False
        done = threading.Event()
        watchdog = threading.Thread(target=self._watchdog, args=(done,), daemon=True)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            with self.tracer.iteration(label):
                result = self.wl.iterate(label)
            wall = time.perf_counter() - t0
        except Exception as e:  # an iteration that raises is counted, not fatal
            if not self._capped:
                self.failures.append({"iteration": label, "reason": f"{type(e).__name__}: {str(e)[:300]}"})
                traceback.print_exc(file=sys.stderr)
                return None
        finally:
            done.set()
            watchdog.join()
        if self._capped:
            self.failures.append({"iteration": label, "reason": f"timeout>{ITERATION_CAP_S:.0f}s"})
            return None
        if self.digest is None and not self.check_rows(label, result):
            self.failures.append({"iteration": label, "reason": "output check: rows differ from the reference"})
            return None
        problem = self.wl.check_counts(result, self.reference)
        if problem is None and result["digest"] != self.digest:
            problem = f"output digest {result['digest']} != checked digest {self.digest}"
        if problem is not None:
            self.failures.append({"iteration": label, "reason": f"output check: {problem}"})
            self.mismatches.append(f"{label}: {problem}")
            return None
        return wall

    def check_rows(self, label: str, result: dict) -> bool:
        """Compare an iteration's full outputs with the reference (outside
        the timed window); the first match fixes the digests every later
        iteration must reproduce."""
        from reference import normalise

        t0 = time.perf_counter()
        ok = True
        for output, df in self.wl.outputs.items():
            rows = normalise(tuple(r) for r in df.collect())
            expected = self.reference["rows"][output]
            if rows != expected:
                ok = False
                at = next((i for i, (a, b) in enumerate(zip(rows, expected)) if a != b), min(len(rows), len(expected)))
                self.mismatches.append(
                    f"{label} {output}: {len(rows)} rows vs {len(expected)} expected; first difference at {at}: "
                    f"{rows[at] if at < len(rows) else None} vs {expected[at] if at < len(expected) else None}"
                )
        if ok:
            self.digest = result["digest"]
        self.check_s += time.perf_counter() - t0
        return ok

    # -- the whole run ------------------------------------------------------

    def prepare(self) -> None:
        a = self.args
        # the cache key includes the generator and reference code
        code = hashlib.sha256()
        for name in ("gen.py", "reference.py"):
            with open(os.path.join(HERE, name), "rb") as f:
                code.update(f.read())
        inputs = os.path.join(self.work, "inputs", f"seed{a.seed}-x{a.scale:g}-{code.hexdigest()[:12]}")
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(a.seed),
             "--scale", repr(a.scale), "--out", inputs, "--workloads", a.workload],
            check=True, stdout=subprocess.DEVNULL,
        )
        self.prepare_s = time.perf_counter() - t0
        self.inputs = os.path.join(inputs, a.workload)
        with open(os.path.join(self.inputs, "props.json")) as f:
            self.props = json.load(f)
        from reference import load_reference

        self.reference = load_reference(a.workload, self.inputs)

    def measure(self, seconds: float, modes: tuple[bool, ...]) -> dict[bool, list[float]]:
        """Warm iterations for `seconds`, cycling through the tracing
        `modes`; every mode runs at least once, and the workload's
        `min_timed` iterations run in any case."""
        from spans import layer_rows

        walls: dict[bool, list[float]] = {m: [] for m in modes}
        end = time.perf_counter() + seconds
        i = 0
        at_least = max(len(modes), self.wl.min_timed)
        while i < at_least or (time.perf_counter() < end and time.perf_counter() < self.hard_end):
            traced = modes[i % len(modes)]
            label = f"{'traced' if traced else 'warm'}{i}"
            if traced:
                self.status.udf_bytes()  # skip the SQL executions before this iteration
            wall = self.iteration(label, traced)
            if wall is not None:
                walls[traced].append(wall)
                if traced:  # read now, before the status store evicts old jobs
                    row = layer_rows(self.tracer, self.status, label, self.tracer.last_iteration_window)
                    row["udf"] = self.status.udf_bytes()
                    self.traced_rows.append(row)
            i += 1
        return walls

    def execute(self) -> dict:
        from spans import StatusStore, Tracer
        from workloads import WORKLOADS

        a = self.args
        self.res = host_resources()
        self.hard_end = time.perf_counter() + RUN_DEADLINE_S - 25
        t_setup = time.perf_counter()
        spark = self.spark = start_spark(self.work, self.res)
        session_s = time.perf_counter() - t_setup
        self.tracer = Tracer(spark, enabled=False)
        self.status = StatusStore(spark)
        run_dir = os.path.join(self.work, "run", a.workload)
        os.makedirs(run_dir, exist_ok=True)
        self.wl = WORKLOADS[a.workload](spark, self.tracer, self.inputs, self.props, run_dir)
        self.wl.setup()
        cold = self.iteration("cold", traced=False)
        for i in range(WARMUP_ITERATIONS):
            self.iteration(f"warmup{i}", traced=False)
        setup_s = time.perf_counter() - t_setup - self.check_s

        self.traced_rows: list = []
        walls = self.measure(a.seconds, (False, True) if a.trace else (False,))
        out = {
            "session_s": session_s, "setup_s": setup_s, "cold_iter_s": cold,
            "walls": walls[False], "traced_walls": walls.get(True, []),
            "peak_rss_mb": vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
            + vm_hwm_mb("self"),
        }
        if a.trace:
            out["layers"] = self.layer_report()
        return out

    # -- traced run -----------------------------------------------------------

    def layer_report(self) -> dict:
        from spans import LAYER_FIELDS, LAYERS

        n = len(self.traced_rows)
        sums = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
        totals = dict.fromkeys(("jobs", "wall_s", "job_union_s", "driver_gap_s", "top_self_s", "glue_s"), 0.0)
        for r in self.traced_rows:
            for layer, row in r["layers"].items():
                for k, v in row.items():
                    sums[layer][k] += v
            for k in totals:
                totals[k] += r[k]
        mean = lambda v: v / n if n else 0.0  # noqa: E731
        metrics = {f"{layer}.{k}": mean(v) for layer, row in sums.items() for k, v in row.items()}
        for k in ("jobs", "driver_gap_s"):
            metrics[f"spark.{k}"] = mean(totals[k])
        metrics["spark.driver_gap_share"] = totals["driver_gap_s"] / totals["wall_s"] if n else 0.0
        metrics["sink.plan_s"] = self.plan_seconds()
        for k in ("bytes_to_python", "bytes_from_python"):
            metrics[f"udf.{k}"] = mean(sum(r["udf"][k] for r in self.traced_rows))
        written = self.wl.written()
        metrics["load.bytes_written"], metrics["load.files_written"] = written
        src = self.props.get("vault", {}).get("source_batch_bytes")
        metrics["load.write_amp"] = written[0] / src if src else 0.0
        bases = {}
        ratios = self.wl.ratios()
        for k in ("curation.yield", "dedup.verify_ratio", "dedup.kept_ratio"):
            metrics[k], bases[k] = ratios.get(k, (0.0, "not measured on this workload"))
        return {
            "metrics": metrics,
            "ratio_bases": bases,
            "reconcile": {k: mean(v) for k, v in totals.items()},
            "traced_iterations": n,
            "profile": self.profile_layers(),
        }

    def plan_seconds(self) -> float:
        """Catalyst analysis + optimization + planning of the final
        DataFrames, from their QueryPlanningTrackers (a fresh plan of the
        DataFrames the last iteration wrote)."""
        total = 0
        for df in self.wl.outputs.values():
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                total += it.next()._2().durationMs()
        return total / 1e3

    def profile_layers(self) -> dict:
        """Executor cost of each lazily built layer output, forced on its
        own through the noop sink. Lazy layers run no job inside their
        span; their stages execute in the sink, and this shows which."""
        from spans import LAYER_FIELDS, add_job_cost

        out = {}
        for name, df in self.wl.layer_outputs.items():
            group = f"pb:profile:{name}"
            self.spark.sparkContext.setJobGroup(group, group)
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            row = dict.fromkeys(LAYER_FIELDS[2:], 0.0)
            row["call_s"] = time.perf_counter() - t0
            seen: set[int] = set()
            for j in self.status.jobs(group):
                add_job_cost(row, self.status, j, seen)
            out[name] = row
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return out


def load_benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    from gen import WORKLOADS

    ap = argparse.ArgumentParser(description="featurestore_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test: small)")
    args = ap.parse_args(argv)

    work = os.path.join(os.getcwd(), ".perfbench")
    for d in ("tmp", "traces"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every temporary file of the run inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_* from spark-submit
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    import featurestore_spark  # noqa: F401  (fail fast, before any output)
    import pyspark

    t_run = time.perf_counter()
    run = Run(args, work)
    run.prepare()
    done = threading.Event()

    def deadline() -> None:
        # last resort: an iteration stuck outside any Spark job
        if not done.wait(RUN_DEADLINE_S):
            print(json.dumps({"correct": False, "attempted": max(1, run.attempted),
                              "failed": max(1, len(run.failures)), "metrics": {}}), flush=True)
            os._exit(3)

    threading.Thread(target=deadline, daemon=True).start()
    try:
        m = run.execute()
        trace_path = None
        if args.trace:
            trace_path = os.path.join(work, "traces", f"{args.workload}-seed{args.seed}-{int(time.time())}.jsonl")
            run.tracer.write_jsonl(trace_path)
    finally:
        if getattr(run, "spark", None) is not None:
            stop_spark(run.spark)
    done.set()

    walls = m["walls"]
    rows = run.wl.rows_per_iteration()
    p50 = statistics.median(walls) if walls else None
    tail_v, tail_p, _ = tail(walls) if walls else (None, None, 0)
    failed = len(run.failures)
    correct = not run.mismatches and run.digest is not None
    detail = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale, "trace": args.trace,
        "host": {**run.res, "pyspark": pyspark.__version__},
        "inputs": run.props,
        "prepare_s": run.prepare_s, "session_s": m["session_s"],
        "iter_s": {"n": len(walls), "p50": p50, "tail": tail_v, "tail_percentile": tail_p, "values": walls},
        "rows_per_iteration": rows,
        "failed_frac": failed / max(1, run.attempted),
        "failures": run.failures, "mismatches": run.mismatches,
        "run_s": time.perf_counter() - t_run,
    }
    if args.trace:
        lay = m["layers"]
        traced_p50 = statistics.median(m["traced_walls"]) if m["traced_walls"] else None
        overhead = traced_p50 / p50 if traced_p50 and p50 else None
        detail.update(trace_file=trace_path, reconcile=lay["reconcile"], ratio_bases=lay["ratio_bases"],
                      traced_iter_s_p50=traced_p50, trace_overhead=overhead, layer_profile=lay["profile"])
        print_layer_table(lay, overhead)
        values = {**lay["metrics"], "trace.overhead_ratio": overhead}
        spec = load_benchmark_spec()["per_layer"]
    else:
        values = {
            "setup_s": m["setup_s"], "cold_iter_s": m["cold_iter_s"], "iter_s.p50": p50,
            "iter_s.tail": tail_v, "rows_per_s": rows / p50 if p50 else None,
            "peak_rss_mb": m["peak_rss_mb"],
        }
        spec = load_benchmark_spec()["end_to_end"]
    print(json.dumps(detail), flush=True)
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in spec}
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0 if correct and not failed else 1


def print_layer_table(lay: dict, overhead) -> None:
    from spans import LAYER_FIELDS, LAYERS

    m = lay["metrics"]
    print(f"{'layer':<10}" + "".join(f"{f:>17}" for f in LAYER_FIELDS))
    for layer in LAYERS:
        print(f"{layer:<10}" + "".join(f"{m[f'{layer}.{f}']:>17.4f}" for f in LAYER_FIELDS))
    print("standalone executor cost of lazy layer outputs:")
    for name, row in lay["profile"].items():
        print(f"  {name:<28}" + "".join(f"{row[f]:>17.4f}" for f in LAYER_FIELDS if f != "self_s"))
    r = lay["reconcile"]
    print(
        f"per traced iteration: wall {r['wall_s']:.4f}s = top-level spans {r['top_self_s']:.4f}s"
        f" + glue {r['glue_s']:.4f}s; = job union {r['job_union_s']:.4f}s + driver gap {r['driver_gap_s']:.4f}s;"
        f" jobs {r['jobs']:.1f}; trace overhead {overhead}"
    )


if __name__ == "__main__":
    sys.exit(main())
