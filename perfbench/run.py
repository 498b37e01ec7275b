"""The repository benchmark: one workload per run, closed loop, on local[nproc].

    python3 perfbench/run.py --workload ingest_small_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run pins its environment, builds its
inputs from ``--seed``, warms up (that is ``setup_s``), measures for
``--seconds``, checks the outputs outside the timed span and prints a
report followed by one JSON line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. Any failed operation or check makes
``correct`` false and the exit code 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_small_batch", "query_mix")


def pin_environment(work: str) -> dict[str, str]:
    """Everything the run writes stays under ``work``, inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g" if phys_gb >= 8 else f"{max(1, int(phys_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # the query mix's generated tables; also the package's default
        "SPARK_GRAFT_SF_DIR": os.path.join(work, "data"),
    }
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    return env


def start_spark(work: str, env: dict[str, str]):
    """The package's session; it reads the pinned driver memory and CPUs,
    and Spark reads ``SPARK_LOCAL_DIRS``, from the environment."""
    from ecommerce_realtime_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{env['SPARK_GRAFT_CPUS']}]",
        extra_conf={
            # no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sets (VmHWM) of the driver processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


class Run:
    def __init__(self, args, spark, work: str, tracer, counters):
        self.args, self.spark, self.work = args, spark, work
        self.tracer, self.counters = tracer, counters
        self.attempted = 0
        self.failures: list[str] = []
        self.report: dict[str, tuple[float, str, str]] = {}

    def op(self, fn, *a):
        """Attempt one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failures.append(traceback.format_exc(limit=4))
            return None

    def put(self, name: str, value: float, unit: str, note: str = "") -> None:
        self.report[name] = (value, unit, note)

    # -- ingest_small_batch ---------------------------------------------------
    def ingest(self, t_start: float) -> dict:
        from perfbench import ingest
        from perfbench.spans import StreamingProgress

        batch = ingest.SMOKE_BATCH if self.args.smoke else ingest.SMALL_BATCH
        wl = ingest.IngestWorkload(
            self.spark, os.path.join(self.work, "pipeline"), self.args.seed, batch,
            self.tracer, self.counters,
        )
        listener = None
        if self.tracer is not None:
            listener = StreamingProgress(self.counters, wl.timed_run_ids)
            self.spark.streams.addListener(listener)
        warm = self.op(wl.cycle)
        setup_s = time.perf_counter() - t_start
        if warm is None:
            return {}
        self.failures.extend(wl.check_cycle(warm))
        if self.tracer is not None:
            self.tracer.discard()
        self.counters.clear()
        wl.silver_bytes_written()
        wl.timing = True
        lat, msgs, silver_written, last = [], 0, 0, warm
        layers = wl.layer_bytes()
        while not lat or sum(lat) < self.args.seconds:
            res = self.op(wl.cycle)
            if res is None:
                break
            lat.append(res["latency_s"])
            print(f"perfbench cycle {len(lat)} {res['latency_s']:.3f} s", file=sys.stderr)
            msgs += res["msgs"]
            last = res
            if self.tracer is not None:
                self.tracer.collect()
            silver_written += wl.silver_bytes_written()
            layers = wl.layer_bytes()
            errors = wl.check_cycle(res, self.args.break_check)
            self.failures.extend(errors)
            if errors:
                break
        stored = sum(layers.values()) / max(1, wl.payload_bytes)
        self.attempted += 1
        self.failures.extend(wl.check_gold(last["marts"]))
        if listener is not None:
            if not listener.wait_terminated(set(wl.timed_run_ids)):
                self.failures.append("streaming progress for the timed cycles never arrived")
            self.spark.streams.removeListener(listener)
        if not lat:
            return {}
        n = len(lat)
        self.put("msgs_per_s", msgs / sum(lat), "1/s", "published and visible in gold / timed wall")
        self.put("cycle_p50_s", statistics.median(lat), "s", f"n={n}")
        self.put("stored_bytes_per_msg_byte", stored, "ratio",
                 " ".join(f"{k}={v}" for k, v in layers.items()) + f" payload={wl.payload_bytes}")
        per = {
            "ops": n,
            "wall": sum(lat),
            "silver.bytes_written": silver_written / n,
        }
        return {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(lat),
            "throughput_per_s": msgs / sum(lat),
            "stored_bytes_per_input_byte": stored,
            "_per": per,
        }

    # -- query_mix --------------------------------------------------------------
    def query_mix(self, t_start: float) -> dict:
        from perfbench import datagen, querymix

        sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        datagen.generate(sf_dir, self.args.seed, "smoke" if self.args.smoke else "sf0.01")
        names = querymix.SMOKE_MIX if self.args.smoke else tuple(querymix.MIX)
        wl = querymix.QueryMixWorkload(self.spark, sf_dir, self.args.seed, names, self.tracer)
        collected = {}
        for name in wl.order():
            got = self.op(wl.run, name, True)
            if got is not None:
                collected[name] = got[1]
        setup_s = time.perf_counter() - t_start
        for i, (name, result) in enumerate(collected.items()):
            self.failures.extend(wl.check(name, result, self.args.break_check and i == 0))
        if self.tracer is not None:
            self.tracer.discard()
        lat, passes = [], []
        while not passes or sum(passes) < self.args.seconds:
            t_pass = 0.0
            for name in wl.order():
                got = self.op(wl.run, name)
                if got is None:
                    continue
                lat.append(got[0])
                t_pass += got[0]
                print(f"perfbench query {name} {got[0]:.3f} s", file=sys.stderr)
                if self.tracer is not None:
                    self.tracer.collect()
            if not t_pass:  # every query of the pass failed
                break
            passes.append(t_pass)
        input_bytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
        # the session fixtures and persisted indexes the queries keep
        from ecommerce_realtime_pipeline_spark.plans import llm

        kept = sum(
            os.path.getsize(os.path.join(r, f))
            for d in llm._SESSION_FIXTURE_DIRS for r, _d, fs in os.walk(d) for f in fs
        )
        if not lat:
            return {}
        n = len(lat)
        p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] if n > 1 else lat[0]
        beyond = sum(1 for x in lat if x > p90)
        self.put("query_p50_s", statistics.median(lat), "s", f"n={n}")
        self.put("query_p90_s", p90, "s", f"n={n} beyond={beyond}")
        self.put("mix_pass_s", statistics.median(passes), "s", f"passes={len(passes)} queries/pass={len(names)}")
        return {
            "setup_s": setup_s,
            "latency_p50_s": statistics.median(passes),
            "throughput_per_s": n / sum(lat),
            "stored_bytes_per_input_byte": (kept + input_bytes) / input_bytes,
            "_per": {"ops": len(passes), "wall": sum(passes)},
        }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer_metrics(spec: dict, tracer, counters, per: dict, cpus: int) -> dict:
    """Per-layer values per timed operation (a cycle or a full pass); a
    layer the workload never calls reads 0."""
    ops = per["ops"]
    c = counters.values
    values = {}
    for name, tot in tracer.totals.items():
        for field, value in tot.items():
            values[f"{name}.{field}"] = value / ops
    extra = {
        "streaming.ingest.batches": c["batches"],
        "streaming.ingest.empty_batches": c["empty_batches"],
        "streaming.ingest.input_rows": c["input_rows"],
        "streaming.ingest.addbatch_s": c["addbatch_s"],
        "streaming.ingest.queryplanning_s": c["queryplanning_s"],
        "streaming.ingest.walcommit_s": c["walcommit_s"],
        "streaming.ingest.commitoffsets_s": c["commitoffsets_s"],
        "streaming.ingest.latestoffset_s": c["latestoffset_s"],
        "streaming.ingest.upsert_s": c["upsert_s"],
        "streaming.ingest.offsets_s": c["offsets_s"],
        "streaming.ingest.touched_buckets": c["touched_buckets"],
        "pipeline.dq_gate.rows_in": c["dq_rows_in"],
        "pipeline.dq_gate.rows_quarantined": c["dq_rows_quarantined"],
        "sources.produce.msgs": c["produce_msgs"],
        "sources.produce.bytes": c["produce_bytes"],
    }
    values.update({k: v / ops for k, v in extra.items()})
    values["streaming.ingest.upsert_useful_ratio"] = (
        c["input_rows"] / c["rows_rewritten"] if c["rows_rewritten"] else 0.0
    )
    values["silver.bytes_written"] = per.get("silver.bytes_written", 0.0)
    values["spark.executor_busy_ratio"] = tracer.executor_run_s / (per["wall"] * cpus)
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec["per_layer"]
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    p.add_argument("--break-check", action="store_true",
                   help="corrupt one expected output, to show the checks catch it")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "ecommerce_realtime_pipeline_spark")
    ):
        print(f"perfbench: no ecommerce_realtime_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    t_start = time.perf_counter()
    env = pin_environment(work)
    print("perfbench env " + json.dumps({**env, "workload": args.workload, "seed": args.seed}), flush=True)
    spark = None
    try:
        spark = start_spark(work, env)
        from perfbench.spans import Counters, Tracer

        tracer = Tracer(spark) if args.trace else None
        counters = Counters()
        run = Run(args, spark, work, tracer, counters)
        e2e = run.ingest(t_start) if args.workload == "ingest_small_batch" else run.query_mix(t_start)
        if e2e:
            e2e["peak_rss_mb"] = peak_rss_mb((os.getpid(), spark.sparkContext._gateway.proc.pid))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for err in run.failures:
        print("perfbench FAILED: " + err.strip().replace("\n", "\n    "), file=sys.stderr)
    if not e2e:
        print("perfbench: no timed operation completed; no result", file=sys.stderr)
        return 1
    failed, attempted = len(run.failures), run.attempted
    run.put("failed_ratio", failed / attempted, "ratio", f"failed={failed} attempted={attempted}")
    run.put("setup_s", e2e["setup_s"], "s")
    run.put("peak_rss_mb", e2e["peak_rss_mb"], "MB", "VmHWM of the Python driver plus its JVM")
    for name, (value, unit, note) in run.report.items():
        print(f"perfbench {args.workload} {name} {value:.6g} {unit} {note}".rstrip(), flush=True)
    per = e2e.pop("_per")
    end_to_end = {
        m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]} for m in spec["end_to_end"]
    }
    if args.trace:
        print("perfbench traced end_to_end " + json.dumps(end_to_end), flush=True)
        if tracer.lost_jobs:
            print(f"perfbench warning: {tracer.lost_jobs} jobs left the status store unread", file=sys.stderr)
        metrics = per_layer_metrics(spec, tracer, counters, per, int(env["SPARK_GRAFT_CPUS"]))
    else:
        metrics = end_to_end
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}), flush=True)
    return 0 if failed == 0 else 1


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM the session launched to exit."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    spark.stop()
    sc._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
