"""Benchmark command: one closed-loop client on ``local[<cores>]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; with ``--trace 1`` the
run repeats its ops with span recording on and reports the per-layer
ones. Details go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: set-ups per run. The set-up walls fall over the first three or four
#: while the JVM warms, and with five the median was the third, which was
#: still falling; with nine it is the fifth, past that
SETUPS = 9
JOB_GROUP = "perfbench-op-"


def log(*parts):
    print("#", *parts, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def environment(run_dir: str):
    """Point every scratch path of Spark, the JVM and Python into the run
    directory, and let the Python workers import this checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every JVM, the spark-submit launcher too: no perf-data files, and
    # temp files under the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def start_spark(run_dir: str):
    from henbun_spark import sources

    n = cores()
    spark = sources.get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            # the library default (24g) exceeds a small host; a heap that
            # reaches its cap early also keeps the peak memory steady
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, close the JVM's stdin so it exits, and wait for
    every process this run started to be gone."""
    from perfbench.proctree import descendants, running

    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 20
        alive = kids
        while alive:
            alive = [p for p in alive if running(p)]
            if alive and time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
                if time.time() > deadline + 10:
                    raise RuntimeError(f"processes {alive} outlived the run")
            time.sleep(0.1)


class Op:
    def __init__(self, op_id: int, name: str, traced: bool):
        self.id, self.name, self.traced = op_id, name, traced
        self.out, self.error, self.problems = None, None, []
        self.wall = self.epoch0 = self.epoch1 = 0.0


def run_op(spark, wl, rec, op: Op):
    spark.sparkContext.setJobGroup(f"{JOB_GROUP}{op.id}", op.name)
    rec.enabled = op.traced
    rec.begin_op(op.id, op.name)
    try:
        op.out = wl.run(op.name)
    except Exception as exc:
        op.error = f"{type(exc).__name__}: {str(exc)[:500]}"
        log(f"op {op.id} {op.name} failed: {op.error}")
    span = rec.end_op()
    rec.enabled = False
    op.wall, op.epoch0, op.epoch1 = span.wall, span.epoch0, span.epoch1


def loop(spark, wl, rec, seconds: float, paired: bool) -> tuple:
    """Closed loop: run ops back to back until ``seconds`` have passed and
    the current block (one pass of the query mix) is complete. With
    ``paired``, each op runs twice, untraced and traced, alternating which
    goes first so that warm-up drift falls on both sides alike. Returns
    (ops, wall seconds)."""
    ops = []
    t0 = time.perf_counter()
    k = 0
    while k % wl.block or time.perf_counter() - t0 < seconds:
        name = wl.op_name(k)
        modes = ((False, True) if k % 2 == 0 else (True, False)) if paired else (False,)
        for traced in modes:
            op = Op(len(ops), name, traced)
            run_op(spark, wl, rec, op)
            ops.append(op)
        k += 1
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return ops, time.perf_counter() - t0


def end_to_end(ops, wall, spans, setup_walls, usage) -> tuple:
    # fit and step latencies come from the training-job ops; the query
    # mix's streaming micro-batch fits show in the per-layer metrics
    from perfbench.workloads import TRAINING_OPS

    training = [op for op in ops if op.name in TRAINING_OPS]
    ids = {op.id for op in training}
    fits = [op.out["fit_walls"][0] for op in training if not op.error]
    steps = [s.wall for s in spans if s.op in ids and s.name == "spark_exec.step"]
    walls = [op.wall for op in ops]
    failed = sum(1 for op in ops if op.error or op.problems)
    # a training job that failed before its first fit or step leaves no
    # sample; its op wall stands in, and the failure is counted
    fallback = [op.wall for op in training] or walls
    metrics = {
        "setup_s": statistics.median(setup_walls),
        "fit_s": statistics.median(fits or fallback),
        "step_p50_s": statistics.median(steps or fallback),
        "ops_per_s": len(ops) / wall,
        "cpu_s": usage.cpu_s / len(ops),
        "peak_pss_mb": usage.peak_pss / 2**20,
        "ok_frac": 1.0 - failed / len(ops),
    }
    detail = {
        "setup_walls": setup_walls,
        "fits": [round(f, 4) for f in fits],
        "steps": [round(s, 4) for s in steps],
        "ops": [(op.name, round(op.wall, 4)) for op in ops],
        "loop_wall": wall,
        "cpu_s_total": usage.cpu_s,
        "host_steal_frac": usage.steal_frac,
    }
    return metrics, detail


def per_layer(spark, all_ops, rec, listener) -> tuple:
    from perfbench import tracing, workloads

    ops = [op for op in all_ops if op.traced]
    traced_wall = sum(op.wall for op in ops)
    untraced_wall = sum(op.wall for op in all_ops if not op.traced)
    ids = {op.id for op in ops}
    spans = [s for s in rec.spans if s.op in ids]
    n_ops = len(ops)

    def self_s(name):
        return sum(s.self_s for s in spans if s.name == name)

    def per(total, n):
        return total / n if n else 0.0

    steps = sum(1 for s in spans if s.name == "spark_exec.step")
    fits = sum(1 for s in spans if s.name == "spark_exec.fit")
    fetches = [s for s in spans if s.name == "spark_exec.fetch"]
    local = [s.result for s in fetches if s.result is not None]
    fetch_bytes = sum(
        int(pdf.memory_usage(index=True, deep=True).sum())
        for batches in local for _, _, pdf in batches
    )
    predicts = [op.out["predict_s"] for op in ops if isinstance(op.out, dict)]
    predict_rows = sum(op.out["predict_rows"] for op in ops if isinstance(op.out, dict))
    counters = tracing.spark_counters(
        spark, [(op.id, op.epoch0, op.epoch1) for op in ops], JOB_GROUP
    )

    def jvm(key):
        return per(sum(c[key] for c in counters), n_ops)

    residual = [
        op.wall - tracing.union_s(c["intervals"]) for op, c in zip(ops, counters)
    ]
    batches = [
        (d, rows) for t, d, rows in listener.batches
        if any(op.epoch0 <= t <= op.epoch1 for op in ops)
    ]

    def batch_s(*keys):
        return per(sum(sum(d.get(k, 0) for k in keys) for d, _ in batches) / 1e3, len(batches))

    m = {
        "spark_exec.fits": float(fits),
        "spark_exec.local_fits": float(len(local)),
        "spark_exec.init_s": per(self_s("spark_exec.init"), fits),
        "spark_exec.fetch_s": per(self_s("spark_exec.fetch"), fits),
        "spark_exec.fetch_bytes": per(fetch_bytes, fits),
        "spark_exec.job_s": per(self_s("spark_exec.job"), steps),
        "spark_exec.job_fit_share": per(
            self_s("spark_exec.job"),
            sum(s.wall for s in spans if s.name == "spark_exec.fit"),
        ),
        "spark_exec.job_local_s": per(self_s("spark_exec.job_local"), steps),
        "spark_exec.sample_replay_s": per(self_s("spark_exec.sample_replay"), steps),
        "spark_exec.evaluate_batch_s": per(self_s("spark_exec.evaluate_batch"), steps),
        "spark_exec.global_terms_s": per(self_s("spark_exec.global_terms"), steps),
        "spark_exec.step_self_s": per(self_s("spark_exec.step"), steps),
        "model.adam_s": per(self_s("model.adam"), steps),
        "spark_exec.predict_s": per(sum(predicts), len(predicts)),
        "spark_exec.predict_rows_per_s": per(predict_rows, sum(predicts)),
        "driver.residual_s": per(sum(residual), n_ops),
        "jvm.jobs": jvm("jobs"),
        "jvm.stages": jvm("stages"),
        "jvm.tasks": jvm("tasks"),
        "jvm.result_bytes": jvm("result_bytes"),
        "jvm.executor_run_s": jvm("run_s"),
        "jvm.executor_cpu_s": jvm("cpu_s"),
        "jvm.gc_s": jvm("gc_s"),
        "shuffle.write_bytes": jvm("shuffle_write"),
        "shuffle.read_bytes": jvm("shuffle_read"),
        "shuffle.fetch_wait_s": jvm("fetch_wait_s"),
        "sources.input_bytes": jvm("input_bytes"),
        "sources.input_rows": jvm("input_rows"),
        "streaming.batches": per(len(batches), n_ops),
        "streaming.trigger_s": batch_s("triggerExecution"),
        "streaming.add_batch_s": batch_s("addBatch"),
        "streaming.commit_s": batch_s("walCommit", "commitOffsets"),
        "streaming.state_rows": per(sum(r for _, r in batches), len(batches)),
        "trace.overhead_s": (traced_wall - untraced_wall) / n_ops,
        "trace.overhead_frac": traced_wall / untraced_wall - 1.0,
    }
    for key in tracing.PY_METRICS.values():
        m[key] = jvm(key)
    for q in workloads.MIX:
        walls = [op.wall for op in ops if op.name == q]
        m[f"query.{q}_s"] = statistics.median(walls) if walls else 0.0
    return m, {
        "steps": steps,
        "traced_wall": traced_wall,
        "untraced_wall": untraced_wall,
        "ops": [(op.name, op.traced, round(op.wall, 4)) for op in all_ops],
    }


def write_spans(spans, path: str) -> str:
    """Write every recorded span (id, name, op id, parent id, start and
    end in seconds since the run started, self seconds) as JSON."""
    ids = {id(s): i for i, s in enumerate(spans)}
    rows = [
        {
            "id": i,
            "name": s.name,
            "op": s.op,
            "parent": ids.get(id(s.parent)),
            "start": s.t0 - T_START,
            "end": s.t1 - T_START,
            "self": s.self_s,
        }
        for i, s in enumerate(spans)
    ]
    with open(path, "w") as f:
        json.dump(rows, f)
    return path


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}

    # import from the checkout root, not from this script's directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    import henbun_spark

    if not os.path.abspath(henbun_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit("henbun_spark is not this checkout's copy")
    from perfbench import proctree, tracing, workloads

    build = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build = os.path.join(ROOT, build, "perfbench")
    run_dir = os.path.join(build, f"run-{os.getpid()}")
    environment(run_dir)
    spark = None
    try:
        spark = start_spark(run_dir)
        log(f"session up at {time.perf_counter() - T_START:.1f}s")
        rec = tracing.Recorder()
        tracing.instrument(rec)
        if args.workload == "query_mix":
            wl = workloads.QueryMix(spark, args.seed, cores())
        else:
            wl = workloads.Train(
                spark, args.seed, workloads.DISTRIBUTED_ROWS, cores(),
                workloads.DISTRIBUTED_REFERENCE_STEPS,
            )
        setup_walls = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_walls.append(time.perf_counter() - t0)
        wl.warm_up()
        log(f"set-up and warm-up done at {time.perf_counter() - T_START:.1f}s")
        if args.trace:
            listener = tracing.ProgressListener()
            spark.streams.addListener(listener)
            all_ops, _ = loop(spark, wl, rec, args.seconds, paired=True)
            metrics, detail = per_layer(spark, all_ops, rec, listener)
            detail["spans"] = write_spans(
                rec.spans, os.path.join(build, f"spans-{args.workload}-{args.seed}.json")
            )
        else:
            with proctree.TreeSampler() as usage:
                all_ops, wall = loop(spark, wl, rec, args.seconds, paired=False)
        log(f"timed loop done at {time.perf_counter() - T_START:.1f}s")
        for op in all_ops:
            op.problems = [op.error] if op.error else wl.check(op.name, op.out)
            if op.problems:
                log(f"op {op.id} {op.name} wrong: {op.problems}")
        log(f"checks done at {time.perf_counter() - T_START:.1f}s")
        if not args.trace:
            metrics, detail = end_to_end(all_ops, wall, rec.spans, setup_walls, usage)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if set(metrics) != set(units):
        raise SystemExit(f"metric names differ from BENCHMARK.json: {sorted(set(metrics) ^ set(units))}")
    failed = sum(1 for op in all_ops if op.problems)
    log("detail", json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(all_ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    log(f"run took {time.perf_counter() - T_START:.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
