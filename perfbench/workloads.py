"""The benchmark workloads.

A workload generates its inputs from the seed, then runs one *pass*:
its layer calls back to back through the package's public functions,
each call timed on its own. Output checks run after the pass, outside
the timed region, against the references in ``checks``.

Layer names follow the package modules (``pipelines.create``,
``evaluators.<modality>``, ``reporting.visualize``,
``operators.<op>``, ``streaming.<fn>``).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import checks
import gen

# ---- input sizes and loop lengths (fixed: a change here is a new benchmark)
DOC_PAGES = 2000  # docling_eval corpus
DOC_FILES = 4
PERTURB = 0.1
VISUALIZE = ["table_structure"]  # modalities reported by reporting.visualize
GRAPH_HOSTS, GRAPH_PAGES_PER_HOST = 60, 100
PAGE_RANK_ITERS = 5
TRUST_RANK_ITERS = 5
HITS_ITERS = 3
CRAWL_HOPS = 4
CC_ITERS = 5
CLEAN_BASE_DOCS = 800
QUALITY_MIN = 0.5
INGEST_URLS = 1000
JSONL_RECORDS_PER_FILE = 500
STREAM_FILES, STREAM_PAGES_PER_FILE = 100, 2
STREAM_FILES_PER_TRIGGER = 64  # incremental_extract's maxFilesPerTrigger

REPORT_COLS = {
    "markdown_text": ["bleu", "f1_score", "precision", "recall", "edit_distance", "meteor"],
    "table_structure": ["teds", "teds_struct"],
    "layout": ["map_val", "map_50", "map_75"],
    "reading_order": ["ard_norm", "w_ard_norm"],
    "bbox_text": ["bleu", "f1_score", "precision", "recall", "edit_distance", "meteor"],
}


@dataclass
class Call:
    layer: str
    run: Callable[[Any], Any]  # called with the SparkSession
    check: Callable[[Any], str | None]


@dataclass
class Workload:
    name: str
    row_unit: str
    rows: int
    props: dict
    calls: list[Call]
    # extras the traced run reads off the pass (filled by checks)
    extras: dict = field(default_factory=dict)


# ------------------------------------------------------------ docling_eval


def docling_eval(work: str, seed: int) -> Workload:
    """create (perturbed predictions) → evaluate all five modalities →
    visualize, over a datagen.pages corpus."""
    from docling_eval_spark import pipelines

    pages = os.path.join(work, "in", "pages")
    props, ref = gen.write_pages(pages, seed, DOC_PAGES, DOC_FILES)
    ds = os.path.join(work, "out", "dataset")
    ev = os.path.join(work, "out", "evaluation")
    rp = os.path.join(work, "out", "reports")
    w = Workload("docling_eval", "pages", DOC_PAGES, {"pages": props}, [])
    dataset: list[dict] = []

    def check_create(_):
        t = checks.read_parquet(
            ds, ["url", "status", "extracted_text", "gt_text", "tables", "pred_tables", "layout", "items"]
        )
        dataset[:] = t.to_pylist()
        w.extras["extraction.failure_rows"] = sum(r["status"] == "FAILURE" for r in dataset)
        w.extras["pipelines.create.output_mb"] = checks.dir_mb(ds)
        return checks.check_dataset(dataset, ref)

    def per_row(m: str, cols=None) -> list[dict]:
        return checks.read_parquet(os.path.join(ev, f"evaluation_{m}"), cols).to_pylist()

    def stats(m: str) -> str:
        return os.path.join(ev, f"evaluation_{m}_stats")

    def check_markdown(_):
        rows = per_row("markdown_text")
        return checks.check_text_metrics(rows, len(dataset)) or checks.check_stats(
            stats("markdown_text"), set(REPORT_COLS["markdown_text"]), "metric", len(dataset)
        )

    def check_tables(_):
        rows = per_row("table_structure", ["url", "table_id", "teds", "teds_struct"])
        return (
            checks.check_teds(rows, dataset)
            or checks.check_unit_interval("table_structure", rows, ["teds", "teds_struct"])
            or checks.check_stats(stats("table_structure"), {"all", "simple", "complex", "struct"}, "split")
        )

    def check_layout(_):
        rows = per_row("layout", ["url", "map_val", "map_50", "map_75"])
        want = sum(1 for d in dataset if d["layout"])
        return checks.check_rows("layout", len(rows), want) or checks.check_unit_interval(
            "layout", rows, REPORT_COLS["layout"]
        )

    def check_reading_order(_):
        rows = per_row("reading_order", ["url", "ard_norm", "w_ard_norm"])
        want = sum(1 for d in dataset if d["items"])
        return (
            checks.check_rows("reading_order", len(rows), want)
            or checks.check_unit_interval("reading_order", rows, REPORT_COLS["reading_order"])
            or checks.check_stats(stats("reading_order"), set(REPORT_COLS["reading_order"]), "metric", want)
        )

    def check_bbox(_):
        rows = per_row("bbox_text", ["url", "match_id", *REPORT_COLS["bbox_text"]])
        return checks.check_bbox_text(rows, dataset)

    def check_visualize(_):
        for m in VISUALIZE:
            n = len(per_row(m, ["url"]))
            err = checks.check_reports(rp, [f"{m}_{c}" for c in REPORT_COLS[m]], n)
            if err:
                return err
        return None

    w.calls.append(
        Call(
            "pipelines.create",
            lambda spark: pipelines.create_dataset(spark, pages, ds, perturb=PERTURB),
            check_create,
        )
    )
    evaluator_checks = {
        "markdown_text": check_markdown,
        "table_structure": check_tables,
        "layout": check_layout,
        "reading_order": check_reading_order,
        "bbox_text": check_bbox,
    }
    for m in pipelines.MODALITIES:
        w.calls.append(
            Call(
                f"evaluators.{m}",
                lambda spark, m=m: pipelines.evaluate(spark, ds, m, ev),
                evaluator_checks[m],
            )
        )
    w.calls.append(
        Call(
            "reporting.visualize",
            lambda spark: [pipelines.visualize(spark, ds, ev, m, rp) for m in VISUALIZE],
            check_visualize,
        )
    )
    return w


# ------------------------------------------------------------ web_corpus


def web_corpus(work: str, seed: int) -> Workload:
    """Link-graph loops, corpus cleaning and ingest with their sinks,
    and streaming extraction over landed page shards."""
    from docling_eval_spark import pipelines
    from docling_eval_spark.extraction.kernel import extract_document
    from docling_eval_spark.operators import web_ops
    from docling_eval_spark.sources.jsonl_sink import write_jsonl_shards
    from docling_eval_spark.streaming import incremental

    gdir = os.path.join(work, "in", "graph")
    gprops, g = gen.link_graph(gdir, seed, GRAPH_HOSTS, GRAPH_PAGES_PER_HOST)
    cdir = os.path.join(work, "in", "corpus")
    cprops, c = gen.clean_corpus(cdir, seed, CLEAN_BASE_DOCS)
    fdir = os.path.join(work, "in", "fetches")
    fprops, f = gen.web_fetches(fdir, seed, INGEST_URLS)
    sdir = os.path.join(work, "in", "shards")
    sprops, sref = gen.stream_shards(sdir, seed, STREAM_FILES, STREAM_PAGES_PER_FILE)
    sprops["files_per_micro_batch"] = STREAM_FILES_PER_TRIGGER
    sprops["micro_batches"] = -(-STREAM_FILES // STREAM_FILES_PER_TRIGGER)
    out = os.path.join(work, "out")
    rows = gprops["edges"] + c["rows"] + f["rows"] + sprops["pages"]
    w = Workload(
        "web_corpus",
        "edges + corpus rows + fetch rows + landed pages",
        rows,
        {"graph": gprops, "clean": cprops, "ingest": fprops, "stream": sprops},
        [],
    )

    def edges(spark):
        return spark.read.parquet(os.path.join(gdir, "edges.parquet"))

    def seeds(spark):
        return spark.read.parquet(os.path.join(gdir, "seeds.parquet"))

    def rank_call(name, fn, ref_fn, cols, exact):
        def run(spark):
            pdf = fn(spark).toPandas()
            vals = pdf[cols[0]].tolist() if len(cols) == 1 else list(zip(*(pdf[c].tolist() for c in cols)))
            return dict(zip(pdf["node"].tolist(), vals))

        def check(got):
            want = ref_fn()
            return checks.check_equal(name, got, want) if exact else checks.check_close(name, got, want)

        return Call(f"operators.{name}", run, check)

    src, dst, sd = g["src"], g["dst"], g["seeds"]
    w.calls += [
        rank_call(
            "page_rank",
            lambda spark: web_ops.page_rank(edges(spark), iterations=PAGE_RANK_ITERS, tol=0.0),
            lambda: checks.ref_page_rank(src, dst, PAGE_RANK_ITERS),
            ["rank"],
            False,
        ),
        rank_call(
            "trust_rank",
            lambda spark: web_ops.trust_rank(edges(spark), seeds(spark), iterations=TRUST_RANK_ITERS, tol=0.0),
            lambda: checks.ref_trust_rank(src, dst, sd, TRUST_RANK_ITERS),
            ["rank"],
            False,
        ),
        rank_call(
            "hits",
            lambda spark: web_ops.hits(edges(spark), iterations=HITS_ITERS),
            lambda: checks.ref_hits(src, dst, HITS_ITERS),
            ["hub", "auth"],
            False,
        ),
        rank_call(
            "crawl_depth",
            lambda spark: web_ops.crawl_depth(edges(spark), seeds(spark), max_hops=CRAWL_HOPS),
            lambda: checks.ref_crawl_depth(src, dst, sd, CRAWL_HOPS),
            ["depth"],
            True,
        ),
        rank_call(
            "connected_components",
            lambda spark: web_ops.connected_components(edges(spark), iterations=CC_ITERS),
            lambda: checks.ref_components(src, dst, CC_ITERS),
            ["component"],
            True,
        ),
    ]

    clean_out = os.path.join(out, "clean")

    def run_clean(spark):
        docs = spark.read.parquet(os.path.join(cdir, "docs.parquet"))
        pipelines.clean_corpus(docs, "url", quality_min=QUALITY_MIN).write.mode("overwrite").parquet(clean_out)

    def check_clean(_):
        n = checks.read_parquet(clean_out, ["url"]).num_rows
        return checks.check_rows("clean", n, c["survivors"])

    ingest_out = os.path.join(out, "ingest")

    def run_ingest(spark):
        fetches = spark.read.parquet(os.path.join(fdir, "fetches.parquet"))
        blocked = spark.read.text(os.path.join(fdir, "blocklist.txt")).withColumnRenamed("value", "domain")
        return write_jsonl_shards(
            pipelines.web_ingest(fetches, blocked), ingest_out, max_records_per_file=JSONL_RECORDS_PER_FILE
        )

    def check_ingest(manifest):
        w.extras["operators.ingest.output_mb"] = checks.dir_mb(ingest_out)
        lines = checks.read_json_lines(ingest_out)
        return checks.check_rows("ingest manifest", manifest["total_rows"], len(f["kept"])) or checks.check_ingest(
            lines, f["kept"]
        )

    w.calls += [
        Call("operators.clean", run_clean, check_clean),
        Call("operators.ingest", run_ingest, check_ingest),
    ]

    stream_out = os.path.join(out, "stream")

    def check_stream(n):
        w.extras["streaming.rows_landed"] = len(sref)
        rows = checks.read_parquet(stream_out, ["url", "status", "extracted_text", "text_md5"]).to_pylist()
        w.extras["extraction.failure_rows"] = sum(r["status"] == "FAILURE" for r in rows)
        batch = {u: extract_document(r["html"]) for u, r in sref.items()}
        return checks.check_rows("incremental_extract return", n, len(sref)) or checks.check_extracted(
            rows, sref, batch
        )

    w.calls += [
        Call(
            "streaming.incremental_extract",
            lambda spark: incremental.incremental_extract(
                spark, sdir, stream_out, os.path.join(out, "stream_ckpt")
            ),
            check_stream,
        ),
        Call(
            "streaming.windowed_match_rate",
            lambda spark: [
                r.asDict()
                for r in incremental.windowed_match_rate(spark, sdir, os.path.join(out, "window_ckpt")).collect()
            ],
            lambda rows: checks.check_windows(rows, sref),
        ),
    ]
    return w


WORKLOADS = {"docling_eval": docling_eval, "web_corpus": web_corpus}
# layers whose output the run holds in memory, so corrupt_output can damage it
CORRUPTIBLE = [
    "operators.page_rank",
    "operators.trust_rank",
    "operators.hits",
    "operators.crawl_depth",
    "operators.connected_components",
    "operators.ingest",
    "streaming.incremental_extract",
    "streaming.windowed_match_rate",
]


@dataclass
class CallResult:
    layer: str
    wall_s: float
    error: str | None
    counters: dict | None = None


def run_pass(spark, w: Workload, reader=None) -> tuple[float, list[CallResult], list[Any]]:
    """Run every call back to back; returns the pass time, one result
    per call and the calls' outputs. With a ``reader`` each call's
    engine counters are read right after it returns."""
    outputs: list[Any] = []
    results: list[CallResult] = []
    t_pass = time.perf_counter()
    for call in w.calls:
        snap = reader.snapshot() if reader else None
        t = time.perf_counter()
        try:
            outputs.append(call.run(spark))
            err = None
        except Exception as exc:  # a raising call is a failed operation
            outputs.append(None)
            err = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
        wall = time.perf_counter() - t
        results.append(CallResult(call.layer, wall, err, reader.since(snap, wall) if reader else None))
    return time.perf_counter() - t_pass, results, outputs


def check_pass(w: Workload, results: list[CallResult], outputs: list[Any], corrupt: str | None = None) -> None:
    """Check every output that a call returned, recording failures in
    ``results``. ``corrupt`` names a layer whose output is damaged
    before its check (the self-test of the checks)."""
    for call, res, out in zip(w.calls, results, outputs):
        if res.error is not None:
            continue
        if corrupt == call.layer:
            out = corrupt_output(out)
        try:
            res.error = call.check(out)
        except Exception as exc:  # a check that cannot read the output fails it
            res.error = f"check raised {type(exc).__name__}: {exc}".splitlines()[0][:300]


def corrupt_output(out: Any) -> Any:
    """Damage one value of a call's in-memory output: shift one node's
    rank by 1e-6 or its depth/label by 1, drop the last row of a row
    list, or miscount by one."""
    if isinstance(out, dict) and out and all(isinstance(k, int) for k in out):
        k = sorted(out)[len(out) // 2]
        v = out[k]
        out = dict(out)
        out[k] = tuple(x + 1e-6 for x in v) if isinstance(v, tuple) else v + (1 if isinstance(v, int) else 1e-6)
        return out
    if isinstance(out, int):
        return out + 1
    if isinstance(out, list) and out:
        return out[:-1]
    if isinstance(out, dict) and "total_rows" in out:
        return {**out, "total_rows": out["total_rows"] - 1}
    return out
