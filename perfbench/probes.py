"""Kernel-ceiling probes: single-thread, in-process rates of the three
Python kernels on a fixed sample (seed 0, independent of the run's
seed), so the number is the kernel's own speed with no Spark, Arrow or
scheduling cost around it."""

from __future__ import annotations

import time

from docling_eval_spark.datagen.pages import gen_page
from docling_eval_spark.evaluators.teds import teds_score
from docling_eval_spark.evaluators.text_metrics import text_metrics
from docling_eval_spark.extraction.kernel import extract_document
from docling_eval_spark.extraction.perturb import perturb_table, perturb_text

SAMPLE_PAGES = 200
MIN_SECONDS = 0.3
REPEATS = 3


def _rate(items: list, fn) -> float:
    """Items per second: best of REPEATS timed sweeps, each sweep
    repeated until it lasts MIN_SECONDS."""
    best = 0.0
    for _ in range(REPEATS):
        n = 0
        t0 = time.perf_counter()
        while True:
            for it in items:
                fn(it)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= MIN_SECONDS:
                break
        best = max(best, n / dt)
    return best


def kernel_rates() -> dict[str, float]:
    pages = [gen_page(i, 0) for i in range(SAMPLE_PAGES)]
    docs = [extract_document(p["html"]) for p in pages]
    pairs = [(p["text"], perturb_text(p["url"], p["text"], 0.1)) for p in pages]
    grids = []
    for p, d in zip(pages, docs):
        for ti, t in enumerate(d["tables"]):
            grids.append((t, perturb_table(p["url"], ti, t, 0.1)))

    def teds_both(pair):
        teds_score(*pair)
        teds_score(*pair, structure_only=True)

    return {
        "extraction.kernel_docs_per_core_s": _rate([p["html"] for p in pages], extract_document),
        "evaluators.text_kernel_rows_per_core_s": _rate(pairs, lambda tp: text_metrics(*tp)),
        "evaluators.teds_kernel_tables_per_core_s": _rate(grids, teds_both),
    }
