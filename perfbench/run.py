"""Benchmark entry point.

    python3 perfbench/run.py --workload docling_eval --seed 1 --seconds 40 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` (outside the timed region), sets up the SparkSession
several times, then times one whole pass of the workload (every layer
call once; a pass lasts about 40 s on a 4-core host, so ``--seconds``
is that nominal length and does not cut the pass short or add
another), checks every output, and prints one JSON object as the last
line of stdout: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reads the
engine counters after every layer call and reports the per-layer
metrics.

Load is one closed-loop client: one call at a time, each started when
the previous one returned, at ``local[<usable cores>]``, with the
package's default session settings (driver memory included). Everything
the run writes lives under ``.perfbench_work/`` in the repository root
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3  # set-ups per run; setup_s is their median

# every layer call of both workloads, in pass order
LAYERS = [
    "pipelines.create",
    "evaluators.markdown_text",
    "evaluators.table_structure",
    "evaluators.layout",
    "evaluators.reading_order",
    "evaluators.bbox_text",
    "reporting.visualize",
    "operators.clean",
    "operators.ingest",
    "operators.page_rank",
    "operators.trust_rank",
    "operators.hits",
    "operators.crawl_depth",
    "operators.connected_components",
    "streaming.incremental_extract",
    "streaming.windowed_match_rate",
]
GRAPH_OPS = ["page_rank", "trust_rank", "hits", "crawl_depth", "connected_components"]

END_TO_END = [
    ("rows_per_s", "1/s", "higher"),
    ("setup_s", "s", "lower"),
    ("mem_mb", "MB", "lower"),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    spec = []
    for layer in LAYERS:
        spec += [
            (f"{layer}.wall_s", "s", "lower"),
            (f"{layer}.stages", "count", "lower"),
            (f"{layer}.task_s", "s", "lower"),
            (f"{layer}.par_eff", "ratio", "higher"),
            (f"{layer}.shuffle_mb", "MB", "lower"),
        ]
    spec += [
        ("session.start_s", "s", "lower"),
        ("session.warmup_s", "s", "lower"),
        ("session.jvm_start_s", "s", "lower"),
        ("session.cold_setup_s", "s", "lower"),
        ("mem.tree_rss_mb", "MB", "lower"),
        ("mem.py_rss_mb", "MB", "lower"),
        ("mem.jvm_heap_after_gc_mb", "MB", "lower"),
        ("mem.jvm_live_heap_mb", "MB", "lower"),
        ("mem.jvm_nonheap_mb", "MB", "lower"),
        ("pass.cpu_steal_s", "s", "lower"),
        ("datagen.gen_s", "s", "lower"),
        ("extraction.py_s", "s", "lower"),
        ("evaluators.markdown_text.py_s", "s", "lower"),
        ("extraction.kernel_docs_per_core_s", "1/s", "higher"),
        ("evaluators.text_kernel_rows_per_core_s", "1/s", "higher"),
        ("evaluators.teds_kernel_tables_per_core_s", "1/s", "higher"),
        ("extraction.failure_rows", "count", "lower"),
        ("pass.py_boot_s", "s", "lower"),
        ("streaming.batches", "count", "lower"),
        ("streaming.batch_latency_s", "s", "lower"),
        ("streaming.kernel_rows_per_input_row", "ratio", "lower"),
    ]
    spec += [(f"operators.{g}.jobs", "count", "lower") for g in GRAPH_OPS]
    spec += [(f"operators.{g}.pinned_after", "count", "lower") for g in GRAPH_OPS]
    spec += [
        ("pipelines.create.output_mb", "MB", "lower"),
        ("operators.ingest.output_mb", "MB", "lower"),
        ("pass.wall_s", "s", "lower"),
        ("pass.leftover_s", "s", "lower"),
        ("trace.overhead_s", "s", "lower"),
        ("trace.overhead_frac", "ratio", "lower"),
    ]
    return spec


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: Path) -> None:
    """Keep every file the run (and the JVM it starts) writes inside
    the work directory, and let Python workers import the package."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    # the package's own default driver memory, not the caller's
    os.environ.pop("SPARK_DRIVER_MEM", None)
    os.environ["TZ"] = "UTC"
    time.tzset()
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + prev if prev else "")
    tempfile.tempdir = None  # re-read TMPDIR


def _session(work: Path, cores: int):
    from docling_eval_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )


def _warm_up(spark, cores: int) -> None:
    """Start a Python worker on every core and import the package's
    kernels in it, as the first real Python stage would."""

    def imports(batches):
        import docling_eval_spark.evaluators.text_metrics  # noqa: F401
        import docling_eval_spark.extraction.kernel  # noqa: F401

        yield from batches

    spark.range(cores, numPartitions=cores).mapInPandas(imports, "id long").collect()


def _set_up(work: Path, cores: int):
    """SETUPS session starts, each followed by the warm-up; the first
    also launches the JVM. Returns the last session (kept for the
    pass) and the per-set-up (start_s, warmup_s) times."""
    times = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(work, cores)
        t1 = time.perf_counter()
        _warm_up(spark, cores)
        times.append((t1 - t0, time.perf_counter() - t1))
    spark.sparkContext.setLogLevel("ERROR")
    return spark, times


def _shut_down(spark) -> None:
    """Stop Spark, end the JVM and wait for every descendant process."""
    from pyspark import SparkContext

    from counters import process_tree

    gateway = SparkContext._gateway
    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def _mem_mb(mem, live_heap: int) -> float:
    """Memory the run holds: peak resident memory of the Python
    processes, plus the JVM's heap that survives a full collection
    after the pass and its peak non-heap use."""
    return mem.sustained_peak_mb("py_rss") + (live_heap + max(mem.series["nonheap"], default=0)) / 1e6


def _per_layer(w, pass_s, results, reader, setup_times, gen_s, batches, mem, live_heap, steal_s, rates) -> dict[str, float]:
    """Every per-layer metric of the pass; layers this workload does
    not run report 0."""
    out = {name: 0.0 for name, _, _ in per_layer_spec()}
    rows_landed = w.extras.get("streaming.rows_landed", 0)
    for r in results:
        c = r.counters
        for k in ("wall_s", "stages", "task_s", "par_eff", "shuffle_mb"):
            out[f"{r.layer}.{k}"] = c[k]
        if r.layer.startswith("operators.") and r.layer.split(".")[1] in GRAPH_OPS:
            out[f"{r.layer}.jobs"] = c["jobs"]
            out[f"{r.layer}.pinned_after"] = c["pinned_after"]
        if r.layer in ("pipelines.create", "streaming.incremental_extract"):
            out["extraction.py_s"] = c["py_s"]
        if r.layer == "evaluators.markdown_text":
            out["evaluators.markdown_text.py_s"] = c["py_s"]
        if r.layer == "streaming.incremental_extract" and rows_landed:
            out["streaming.kernel_rows_per_input_row"] = c["py_rows"] / rows_landed
    out["pass.py_boot_s"] = sum(r.counters["py_boot_s"] for r in results)
    out["pass.wall_s"] = pass_s
    out["pass.leftover_s"] = pass_s - sum(r.wall_s for r in results)
    out["session.start_s"] = statistics.median(s for s, _ in setup_times)
    out["session.warmup_s"] = statistics.median(w_ for _, w_ in setup_times)
    out["session.jvm_start_s"] = setup_times[0][0]
    out["session.cold_setup_s"] = sum(setup_times[0])
    out["datagen.gen_s"] = gen_s
    out["mem.tree_rss_mb"] = mem.sustained_peak_mb("tree_rss")
    out["mem.py_rss_mb"] = mem.sustained_peak_mb("py_rss")
    out["mem.jvm_heap_after_gc_mb"] = max(mem.series["heap_after_gc"], default=0) / 1e6
    out["mem.jvm_live_heap_mb"] = live_heap / 1e6
    out["mem.jvm_nonheap_mb"] = max(mem.series["nonheap"], default=0) / 1e6
    out["pass.cpu_steal_s"] = steal_s
    out.update(rates)
    for k in ("extraction.failure_rows", "pipelines.create.output_mb", "operators.ingest.output_mb"):
        if k in w.extras:
            out[k] = w.extras[k]
    # micro-batches of incremental_extract (windowed_match_rate's query is named)
    extract_batches = [d for name, d, n in batches if name is None and n > 0]
    if extract_batches:
        out["streaming.batches"] = len(extract_batches)
        out["streaming.batch_latency_s"] = statistics.median(extract_batches)
    out["trace.overhead_s"] = reader.read_s
    out["trace.overhead_frac"] = reader.read_s / pass_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt",
        default=None,
        help="damage this layer's in-memory output before its check (self-test of the checks)",
    )
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    def log(msg: str) -> None:
        print(f"perfbench [{time.perf_counter() - t_start:6.1f}s] {msg}", file=sys.stderr, flush=True)

    if not (ROOT / "docling_eval_spark" / "pipelines.py").is_file():
        print(f"perfbench: package docling_eval_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.corrupt is not None and args.corrupt not in workloads.CORRUPTIBLE:
        print(f"perfbench: --corrupt takes one of {', '.join(workloads.CORRUPTIBLE)}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    cores = _cores()
    spark = None
    try:
        t = time.perf_counter()
        w = workloads.WORKLOADS[args.workload](str(work), args.seed)
        gen_s = time.perf_counter() - t

        from counters import CounterReader, MemSampler, batch_listener, cpu_steal_s

        log(f"inputs generated in {gen_s:.2f}s")
        spark, setup_times = _set_up(work, cores)
        log("set-ups (start_s, warmup_s): " + ", ".join(f"({a:.2f}, {b:.2f})" for a, b in setup_times))
        reader = CounterReader(spark) if args.trace else None
        listener, batches = batch_listener(spark) if args.trace else (None, [])

        steal0 = cpu_steal_s()
        with MemSampler(spark) as mem:
            pass_s, results, outputs = workloads.run_pass(spark, w, reader)
        steal_s = cpu_steal_s() - steal0
        live_heap = mem.jvm.live_heap()
        workloads.check_pass(w, results, outputs, args.corrupt)
        if listener is not None:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            spark.streams.removeListener(listener)

        log(f"pass run in {pass_s:.2f}s (cpu steal {steal_s:.2f}s) and checked")
        failures = [(r.layer, r.error) for r in results if r.error]
        setup_s = [a + b for a, b in setup_times]

        if args.trace:
            from probes import kernel_rates

            metrics = _per_layer(
                w, pass_s, results, reader, setup_times, gen_s, batches, mem, live_heap, steal_s, kernel_rates()
            )
            units = {n: u for n, u, _ in per_layer_spec()}
        else:
            metrics = {
                "rows_per_s": w.rows / pass_s,
                "setup_s": statistics.median(setup_s),
                "mem_mb": _mem_mb(mem, live_heap),
            }
            units = {n: u for n, u, _ in END_TO_END}

        print("inputs " + json.dumps(w.props, sort_keys=True))
        print(
            f"run workload={w.name} seed={args.seed} cores={cores} "
            f"rows={w.rows} ({w.row_unit}) set-ups={len(setup_s)} mem_samples={mem.samples}"
        )
        print(
            f"memory: held {_mem_mb(mem, live_heap):.0f} MB, jvm live heap {live_heap / 1e6:.0f} MB, "
            f"peak python rss {mem.sustained_peak_mb('py_rss'):.0f} MB, "
            f"jvm heap after gc {max(mem.series['heap_after_gc'], default=0) / 1e6:.0f} MB, "
            f"jvm non-heap {max(mem.series['nonheap'], default=0) / 1e6:.0f} MB, "
            f"tree rss {mem.sustained_peak_mb('tree_rss'):.0f} MB; at the largest tree rss: "
            + ", ".join(f"{k} x{n} {b / 1e6:.0f} MB" for k, (n, b) in sorted(mem.at_peak.items()))
        )
        for r in results:
            print(f"call {r.layer} wall_s={r.wall_s:.3f} {'FAIL ' + r.error if r.error else 'ok'}")
        for layer, err in failures:
            print(f"FAILED {layer}: {err}", file=sys.stderr)
        samples = {"setup_s": len(setup_s), "mem_mb": mem.samples}
        for name, v in metrics.items():
            print(f"metric {name} = {v:.6g} {units[name]} (samples={samples.get(name, 1)})")
        result = {
            "correct": not failures,
            "attempted": len(results),
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
    finally:
        if spark is not None:
            _shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    log("done")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
