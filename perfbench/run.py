"""Benchmark of the flouds_vectordb_spark engine on local Spark.

    python3 perfbench/run.py --workload serve|curate --seed N --seconds S --trace 0|1

Run from the root of a checkout. It pins the box (local[min(nproc, 4)],
a 2 GB driver heap, PYTHONPATH for the Python workers, private Spark local
and temp directories under perfbench/.work), builds its seeded inputs,
runs the workload's timed loop for S seconds of timed calls, checks every
output it timed and prints, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the run also writes the Spark
event log, sets a job group per timed call, counts py4j round trips and
reports per-layer metrics. The line before it ("detail ...") carries the
workload's own named metrics, per-layer figures with the end-to-end metric
each should move, and the box the run saw (cpus, memory, load average).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = min(len(os.sched_getaffinity(0)), 4)
DRIVER_MEMORY = "2g"

# per-layer figure -> (end-to-end metric it should move, workload)
TARGETS = {
    "session": "setup_s (all)",
    "catalog": "setup_s, upsert_p50_ms (serve)",
    "corpus": "setup_s (curate)",
    "upsert.insert_data": "upsert_p50_ms, ingest_rows_per_s, disk_bytes_per_row (serve)",
    "upsert.bulk_insert": "setup_s (serve)",
    "upsert.flush": "flush_p50_ms (serve)",
    "upsert.build_index": "setup_s (serve)",
    "upsert.build_sparse_index": "setup_s (serve)",
    "dense": "search_p50_ms, search_qps (serve)",
    "ivf": "search_p50_ms, search_qps, fresh_search_p50_ms, recall_at_10 (serve)",
    "sparse": "search_p90_ms, fresh_search_p50_ms (serve)",
    "hybrid": "search_p90_ms (serve)",
    "batch": "batch_qps (serve)",
    "lang_id": "curate_docs_per_s (curate)",
    "gopher_quality": "curate_docs_per_s (curate)",
    "dedup_minhash": "curate_docs_per_s (curate)",
    "decontaminate": "curate_docs_per_s (curate)",
    "pack_sequences": "curate_docs_per_s (curate)",
    "spark": "op_gmean_ms, throughput_per_s, cpu_ms_per_op (this workload)",
    "driver": "op_gmean_ms (this workload)",
    "trace": "none: tracing overhead",
}


def pin_box(work: str, trace: bool) -> None:
    """Environment for the engine and its Python workers; must run before
    the first pyspark import starts a JVM."""
    for d in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    sys.path[:0] = [ROOT, HERE]


def box() -> dict:
    mem = {}
    with open("/proc/meminfo", encoding="utf-8") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    return {"cpus": CPUS, "nproc": os.cpu_count(),
            "mem_total_gb": round(mem["MemTotal"] / 2**30, 2),
            "mem_available_gb": round(mem["MemAvailable"] / 2**30, 2),
            "driver_memory": DRIVER_MEMORY,
            "loadavg": [round(x, 2) for x in os.getloadavg()]}


def stop_spark(spark) -> float:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until each has exited. Returns the JVM's peak RSS in MB."""
    from spans import descendants, peak_rss_mb

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    jvm_mb = peak_rss_mb(proc.pid) if proc is not None else 0.0
    spark.stop()
    kids = descendants(os.getpid())
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:       # noqa: BLE001 - escalate to kill
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return jvm_mb
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass
    return jvm_mb


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def layer_metrics(tracer, groups, start_s: float) -> dict:
    """Per-layer figures from the spans and the event log's job groups.
    Figures of one span name are per traced call."""
    from eventlog import FIELDS, merge

    by_name: dict[str, list] = {}
    for s in (s for s in tracer.spans if s["traced"]):
        by_name.setdefault(s["name"], []).append(s)

    def stats(name: str) -> dict:
        spans = by_name.get(name, [])
        tot = dict.fromkeys(FIELDS, 0.0)
        for s in spans:
            t = merge(groups, s["group"])
            for k in FIELDS:
                tot[k] += t[k]
        n = max(len(spans), 1)
        return {"n": len(spans), **{k: v / n for k, v in tot.items()},
                "py4j_calls": sum(s["py4j_calls"] for s in spans) / n}

    def med_ms(name: str) -> float:
        xs = tracer.durations(name)
        return 1e3 * statistics.median(xs) if xs else 0.0

    out: dict[str, tuple] = {"session.start_s": (start_s, "s")}
    for name in sorted({s["name"] for s in tracer.spans}):
        if "." in name and name.rsplit(".", 1)[1] in ("build", "exec"):
            continue
        if name == "setup":
            continue
        st = stats(name)
        out[f"{name}.ms"] = (med_ms(name), "ms")
        if (name + ".build") in by_name:
            out[f"{name}.build_ms"] = (med_ms(name + ".build"), "ms")
        if (name + ".exec") in by_name:
            out[f"{name}.exec_ms"] = (med_ms(name + ".exec"), "ms")
        for k, unit in (("jobs", "count"), ("tasks", "count"),
                        ("input_records", "count"), ("output_mb", "MB"),
                        ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
                        ("spill_mb", "MB"), ("executor_cpu_s", "s"),
                        ("py4j_calls", "count")):
            out[f"{name}.{k}"] = (st[k], unit)
        if name in ("ivf", "ivf.fresh", "sparse", "sparse.fresh"):
            out[f"{name}.rows_scanned_per_hit"] = (st["input_records"] / 10, "count")
    for name, secs in sorted(tracer.self_times().items()):
        out[f"{name}.self_s"] = (secs, "s")
    for name, n in tracer.fallbacks.items():
        out[f"{name}.codegen_fallbacks"] = (n, "count")
    return out


def contract_layers(tracer, groups, start_s: float) -> dict:
    """The per-layer metrics every workload reports (BENCHMARK.json)."""
    from eventlog import merge

    ops = [s for s in tracer.spans if s["op"] and s["traced"]]
    kids: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            part = s["name"].rsplit(".", 1)[-1]
            kids.setdefault(s["parent"], {})[part] = s["end"] - s["start"]
    # plan share over the calls that separate plan building from the action
    split = [kids[s["id"]] for s in ops if "exec" in kids.get(s["id"], {})]
    build = sum(k["build"] for k in split)
    execs = sum(k["exec"] for k in split)
    on = [s["end"] - s["start"] for s in ops]
    off = [s["end"] - s["start"] for s in tracer.spans
           if s["op"] and not s["traced"]]
    n = max(len(ops), 1)
    total = merge(groups)
    m = {
        "session.start_s": (start_s, "s"),
        "driver.plan_share": (build / max(build + execs, 1e-9), "ratio"),
        "driver.py4j_calls_per_op": (sum(s["py4j_calls"] for s in ops) / n, "count"),
        "driver.jobs_per_op": (sum(merge(groups, s["group"])["jobs"]
                                   for s in ops) / n, "count"),
        "trace.overhead_ms": (
            1e3 * (statistics.median(on) - statistics.median(off))
            if on and off else 0.0, "ms"),
    }
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (total[k], "count")
    for k in ("executor_cpu_s", "executor_run_s", "gc_s", "scheduler_delay_s"):
        m[f"spark.{k}"] = (total[k], "s")
    for k in ("shuffle_write_mb", "shuffle_read_mb"):
        m[f"spark.{k}"] = (total[k], "MB")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="minimal sizes, for the harness smoke test")
    args = ap.parse_args(argv)

    engine = os.path.join(ROOT, "flouds_vectordb_spark", "__init__.py")
    corpus_gen = os.path.join(ROOT, "scripts", "gen_scale_corpus.py")
    if not (os.path.isfile(engine) and os.path.isfile(corpus_gen)):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_box(work, bool(args.trace))
    box_before = box()
    stderr_fd = None
    if args.trace:
        # the JVM's log (codegen fallbacks are counted from it) goes to a
        # file for the traced run; it is replayed on failure
        log_path = os.path.join(work, "stderr.log")
        stderr_fd = os.dup(2)
        log = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(log, 2)
        os.close(log)

    from spans import Tracer, peak_rss_mb
    from workloads import TINY, Curate, Serve, Sizes

    ok = False
    try:
        t0 = time.perf_counter()
        from flouds_vectordb_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        start_s = time.perf_counter() - t0
        try:
            tracer = Tracer(spark, bool(args.trace),
                            log_path if args.trace else None)
            cls = Serve if args.workload == "serve" else Curate
            wl = cls(spark, tracer, work, args.seed,
                     TINY if args.tiny else Sizes())
            res = wl.run(args.seconds)
        finally:
            jvm_mb = stop_spark(spark)
        ok = True
    finally:
        if stderr_fd is not None:
            os.dup2(stderr_fd, 2)
            os.close(stderr_fd)
            if not ok:
                with open(log_path, encoding="utf-8", errors="replace") as f:
                    sys.stderr.write("".join(f.readlines()[-200:]))
        if not ok:
            shutil.rmtree(work, ignore_errors=True)

    timed = [s for s in tracer.spans if s["op"]]
    op_s = [s["end"] - s["start"] for s in timed]
    metrics = {
        "setup_s": (start_s + res.setup_s, "s"),
        "op_gmean_ms": (1e3 * statistics.geometric_mean(op_s), "ms"),
        "throughput_per_s": (res.units / sum(op_s), "1/s"),
        "cpu_ms_per_op": (1e3 * sum(s["cpu_s"] for s in timed) / len(timed), "ms"),
        # driver and JVM; forked Python workers share most of their pages
        # with their daemon, so summing their RSS would count them again
        "peak_rss_mb": (peak_rss_mb(os.getpid()) + jvm_mb, "MB"),
    }
    detail = {"workload": args.workload, "seed": args.seed, "box": box_before,
              "loadavg_after": [round(x, 2) for x in os.getloadavg()],
              "failures": res.failures[:20],
              "session_start_s": start_s,
              "op_ms": [(s["name"], round(1e3 * (s["end"] - s["start"]), 1))
                        for s in timed],
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {
                  **metrics, "op_p50_ms": (1e3 * statistics.median(op_s), "ms"),
                  **res.detail}.items()}}
    if res.hashes:
        detail["stage_hashes"] = res.hashes
    if args.trace:
        from eventlog import group_totals

        groups = group_totals(os.path.join(work, "events"))
        metrics = contract_layers(tracer, groups, start_s)
        layers = layer_metrics(tracer, groups, start_s)
        detail["per_layer"] = {
            k: {"value": v, "unit": u,
                "target": TARGETS.get(k.split(".")[0] if not k.startswith("upsert.")
                                      else ".".join(k.split(".")[:2]), "")}
            for k, (v, u) in {**layers, **metrics}.items()}
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        tracer.write(os.path.join(
            HERE, ".out", f"{args.workload}-seed{args.seed}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not res.failures,
        "attempted": res.attempted,
        "failed": min(len(res.failures), res.attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
