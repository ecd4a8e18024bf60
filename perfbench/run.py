"""Layered benchmark of the ER engine at ``local[<cores>]``.

    python3 perfbench/run.py --workload er_snapshots --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds its inputs from ``--seed``,
sets up (session start, input generation, warm-up), then runs the
workload's operation in a closed loop with one client until
``--seconds`` have passed (at least one operation). The correctness gate runs after the timed region. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run then repeats
the first operation traced, on the same input, and reports its wall
minus the untraced one's as the tracing overhead.

Every process the run starts (the driver JVM, the Python workers it
forks, the host probe's pool) has ended before it exits.

Each run appends its full record (host probe, per-operation walls,
failures, digests; spans for a traced run) to ``perfbench/_out/``.
Exits 2 without a result when the program's sources are not there.
"""

from __future__ import annotations

import argparse
import ctypes
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
WORK = os.path.join(HERE, "_work")

END_TO_END = {
    "op_s.p50": "s",
    "setup_s": "s",
    "pair_f1": "ratio",
}

SPAN_LAYERS = (
    "operators.mentions.extract_mentions",
    "operators.blocking.entity_names",
    "operators.blocking.surface_blocking_keys",
    "operators.blocking.block_candidates",
    "operators.scoring.fit_idf",
    "operators.scoring.score_pairs.me",
    "operators.scoring.score_pairs.mm",
    "operators.clustering.connected_components",
    "operators.clustering.merge_into_clusters",
    "plans.incremental_er.relabel_mentions",
    "plans.resume.StageStore.commit",
    "plans.pipeline.run_pipeline",
)
SPAN_UNITS = {
    "self_s": "s",
    "task_s": "s",
    "core_util": "ratio",
    "driver_gap_s": "s",
    "jobs": "count",
    "shuffle_mb": "MB",
    "task_skew": "ratio",
    "rows_out": "count",
}
EXTRA_UNITS = {
    "operators.blocking.block_candidates.hot_keys": "count",
    "operators.scoring.score_pairs.keep_ratio": "ratio",
    "operators.clustering.connected_components.rounds": "count",
    "operators.clustering.merge_into_clusters.rounds": "count",
    "plans.resume.StageStore.commit.mb_written": "MB",
    "functions.strings.jaro_winkler_batch.rows_per_s": "rows/s",
    "functions.strings.tfidf_cosine_batch.rows_per_s": "rows/s",
    "trace.overhead_s": "s",
    # memory of the timed region: at the program's own adaptive heap it
    # spreads too widely between runs to hold an end-to-end bound
    "memory.peak_rss_mb": "MB",
    "memory.jvm_heap_peak_mb": "MB",
}
SUITE_SPAN_UNITS = {"self_s": "s", "jobs": "count"}


def suite_spans() -> list[str]:
    from workloads import SUITE_QUERIES

    return ["plans.preprocess.pubtator_to_context"] + [
        f"spark_entry.{q}" for q in SUITE_QUERIES
    ]


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    units = {f"{s}.{m}": u for s in SPAN_LAYERS for m, u in SPAN_UNITS.items()}
    units.update(EXTRA_UNITS)
    units.update(
        {f"{s}.{m}": u for s in suite_spans() for m, u in SUITE_SPAN_UNITS.items()}
    )
    return units


def start_session(work: str, cores: int, event_log: str | None):
    """The program's own session factory, at its own driver heap, with
    every file it writes kept inside ``work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from entity_linking_in_biomedical_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)


def settle(spark, quiet_s: float = 0.5, max_s: float = 5.0) -> float:
    """After the warm-up: collect garbage in the driver JVM and Python,
    then wait until the JVM's JIT compiler has been idle for
    ``quiet_s`` (at most ``max_s``), so that the timed operation does
    not start while the compile queue the warm-up filled still drains
    or with the warm-up's garbage still on the heap. Returns the wait."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    gc.collect()
    compiler = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    t0 = time.perf_counter()
    last = compiler.getTotalCompilationTime()
    while time.perf_counter() - t0 < max_s:
        time.sleep(quiet_s)
        now = compiler.getTotalCompilationTime()
        if now == last:
            break
        last = now
    return time.perf_counter() - t0


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every process below it whose own
    parent ends first (the JVM's Python workers outlive the JVM by a
    moment), so that :func:`stop_children` can wait for each."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children(grace_s: float = 30.0, kill_wait_s: float = 10.0) -> None:
    """End every process below this one and wait until each has ended.
    The driver JVM is asked first, the way pyspark does when the driver
    exits: its stdin closes, and it runs its shutdown hooks and exits.
    Whatever is left after ``grace_s`` gets SIGTERM, then SIGKILL."""
    import probe

    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    if gateway is not None:
        # release the JVM objects Python still holds while the JVM runs,
        # and close the connection so no later release goes to a dead JVM
        gc.collect()
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, kill_wait_s), (signal.SIGKILL, kill_wait_s)):
        if sig is not None:
            for pid in probe.descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            if not probe.descendants(os.getpid()):
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    left = probe.descendants(os.getpid())
    raise RuntimeError(f"processes {left} did not end")


class DigestStore:
    """Output digests per (workload, seed) kept across runs in one
    checkout: a later run with the same seed must reproduce them."""

    def __init__(self, path: str):
        self.path = path

    def compare_and_add(self, key: str, digests: dict[str, str | None]) -> list[str]:
        try:
            with open(self.path, encoding="utf-8") as f:
                known = json.load(f)
        except (OSError, ValueError):
            known = {}
        old = known.setdefault(key, {})
        bad = [
            f"{item}: output digest differs from an earlier run with the same seed"
            for item, d in digests.items()
            if d is not None and old.get(item) not in (None, d)
        ]
        old.update({k: v for k, v in digests.items() if v is not None})
        tmp = self.path + f".{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
        return bad


def run(args, work: str) -> dict:
    import bench
    import probe
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    os.makedirs(OUT, exist_ok=True)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    record["probe"] = bench._host_probe(cores)
    traced = bool(args.trace)
    event_log = os.path.join(work, "eventlog") if traced else None

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, event_log)
        record["session_s"] = time.perf_counter() - t0
        wl = W.WORKLOADS[args.workload](spark, args.seed, work)
        record["setup_parts_s"] = wl.setup()
        record["setup_parts_s"]["settle"] = settle(spark)
        setup_s = time.perf_counter() - t0

        walls: list[float] = []
        attempted = 0
        digests: dict[str, str | None] = {}
        probe.jvm_heap_peak_mb(spark, reset=True)
        probe.reset_peak_rss(os.getpid())
        t_start = time.perf_counter()
        while not walls or time.perf_counter() - t_start < args.seconds:
            if not wl.more():
                break
            r = wl.op()
            walls.append(r.wall_s)
            attempted += r.attempted
            digests.update(r.digests)
        record.update(
            setup_s=setup_s,
            op_walls=walls,
            peak_rss_mb=probe.peak_rss_mb(os.getpid()),
            jvm_heap_peak_mb=probe.jvm_heap_peak_mb(spark),
        )
        # a tail percentile only with ten samples beyond it (None here:
        # every operation outlasts --seconds, so a run times one)
        from spans import percentile_with_tail

        record["op_s_p90"] = percentile_with_tail(walls, 0.9)
        record["item_walls"] = getattr(wl, "item_walls", None)

        problems: list[str] = []
        tracer = None
        repeats = []
        if traced:
            from spans import Tracer

            # the first operation again, traced, on the same input: the
            # overhead compares it with the first (untraced) timed one
            tracer = Tracer(spark)
            tracer.install()
            try:
                tr = wl.repeat("traced", tracer)
            finally:
                tracer.uninstall()
            repeats = ["traced"]
            record["trace_overhead_s"] = tr.wall_s - walls[0]
            attempted += tr.attempted
            problems += [
                f"{k}: the traced run changed the output"
                for k, d in tr.digests.items()
                if d is not None and d != digests.get(k)
            ]

        # ---- correctness gate (untimed) ---------------------------------
        t_gate = time.perf_counter()
        bad, f1 = wl.check(repeats)
        problems += bad
        problems += DigestStore(os.path.join(OUT, "digests.json")).compare_and_add(
            f"{args.workload}/seed{args.seed}/{W.config_key(args.workload)}", digests
        )
        record.update(pair_f1=f1, digests=digests, gate_s=time.perf_counter() - t_gate)

        if traced:
            import kernels

            pairs, idf = wl.kernel_inputs(tracer)
            rates, kbad = kernels.bench_kernels(pairs, idf, args.seed)
            attempted += 2
            problems += [f"kernels: {m}" for m in kbad]
            record["kernel_rows_per_s"] = rates
    finally:
        if spark is not None:
            spark.stop()
    record["probe"]["probe_membw_gbps_post"] = probe.membw_gbps()
    record["degraded"] = probe.degraded(record["probe"])

    # a failed operation or check is named by the item before its ':'
    failed = min(attempted, len({p.split(":", 1)[0] for p in problems}))
    record.update(attempted=attempted, failed=failed, problems=problems)
    e2e = {
        "op_s.p50": statistics.median(walls),
        "setup_s": setup_s,
        "pair_f1": f1,
    }
    record["end_to_end"] = e2e
    if traced:
        from spans import fold_event_log, layer_metrics, read_event_log

        groups, jobs = fold_event_log(read_event_log(event_log))
        layers = layer_metrics(tracer.spans, tracer.hidden, groups, jobs, cores)
        record["spans"] = [vars(s) for s in tracer.spans]
        record["layers"] = layers
        metrics = layer_values(layers, record)
    else:
        metrics = e2e
    units = END_TO_END if not traced else per_layer_units()
    record["metrics"] = metrics
    with open(os.path.join(OUT, "runs.jsonl"), "a", encoding="utf-8") as f:
        f.write(json.dumps(record, default=str) + "\n")
    for p in problems:
        print(f"FAILED {p}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed} ops={len(walls)} "
        f"walls={[round(w, 2) for w in walls]} setup_s={setup_s:.2f} "
        f"session_s={record['session_s']:.2f} parts={record['setup_parts_s']} "
        f"gate_s={record['gate_s']:.2f} "
        f"pair_f1={f1:.4f} error_rate={failed / attempted:.4f} "
        f"peak_rss_mb={record['peak_rss_mb']:.0f} "
        f"jvm_heap_peak_mb={record['jvm_heap_peak_mb']:.0f} "
        f"degraded={record['degraded']} probe={json.dumps(record['probe'])}",
        file=sys.stderr,
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def layer_values(layers: dict, record: dict) -> dict[str, float]:
    """The per-layer metric set, 0 for a layer the workload never ran."""
    out = {}
    for name in per_layer_units():
        span, _, metric = name.rpartition(".")
        out[name] = float(layers.get(span, {}).get(metric, 0.0))
    me = layers.get("operators.scoring.score_pairs.me", {})
    mm = layers.get("operators.scoring.score_pairs.mm", {})
    scored = me.get("scored", 0) + mm.get("scored", 0)
    out["operators.scoring.score_pairs.keep_ratio"] = (
        (me.get("kept", 0) + mm.get("kept", 0)) / scored if scored else 0.0
    )
    rates = record.get("kernel_rows_per_s", {})
    out["functions.strings.jaro_winkler_batch.rows_per_s"] = rates.get("jaro_winkler_batch", 0.0)
    out["functions.strings.tfidf_cosine_batch.rows_per_s"] = rates.get("tfidf_cosine_batch", 0.0)
    out["trace.overhead_s"] = record.get("trace_overhead_s", 0.0)
    out["memory.peak_rss_mb"] = record["peak_rss_mb"]
    out["memory.jvm_heap_peak_mb"] = record["jvm_heap_peak_mb"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        # synth_corpus hands out synonym embeddings in set order, which
        # follows Python's per-process string hash seed: pin it, so a
        # seed gives the same inputs in every process
        os.execve(sys.executable, [sys.executable, *sys.argv], {**os.environ, "PYTHONHASHSEED": "0"})
    missing = [
        p
        for p in (
            "entity_linking_in_biomedical_spark",
            "__spark_entry__.py",
            "bench.py",
            "tests",
            "tools",
        )
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    adopt_orphans()
    try:
        result = run(args, work)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
