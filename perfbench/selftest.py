"""Self-test of the output checks: every check passes on a correct
output and fails on a corrupted one. Needs no Spark.

    python3 perfbench/selftest.py

The same corruption can be injected into a real run, where it raises
``failed`` and turns ``correct`` false:

    python3 perfbench/run.py --workload web_corpus --seed 1 --seconds 40 --trace 0 \\
        --corrupt operators.page_rank
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import corrupt_output  # noqa: E402

from docling_eval_spark.evaluators.bbox_text import evaluate_document  # noqa: E402
from docling_eval_spark.evaluators.teds import teds_score  # noqa: E402
from docling_eval_spark.evaluators.text_metrics import text_metrics  # noqa: E402
from docling_eval_spark.extraction.kernel import extract_document  # noqa: E402
from docling_eval_spark.extraction.perturb import perturb_table, perturb_text  # noqa: E402


def _cases(tmp: str):
    """(name, check on the correct output, check on a corrupted one)."""
    _, g = gen.link_graph(f"{tmp}/graph", 1, 6, 20)
    src, dst, seeds = g["src"], g["dst"], g["seeds"]
    for name, ref, check in [
        ("page_rank", checks.ref_page_rank(src, dst, 5), checks.check_close),
        ("trust_rank", checks.ref_trust_rank(src, dst, seeds, 5), checks.check_close),
        ("hits", checks.ref_hits(src, dst, 3), checks.check_close),
        ("crawl_depth", checks.ref_crawl_depth(src, dst, seeds, 4), checks.check_equal),
        ("connected_components", checks.ref_components(src, dst, 5), checks.check_equal),
    ]:
        yield name, lambda ref=ref, check=check, name=name: check(name, ref, ref), (
            lambda ref=ref, check=check, name=name: check(name, corrupt_output(ref), ref)
        )

    _, pages = gen.write_pages(f"{tmp}/pages", 1, 30, 2)
    rows = [
        {"url": u, "status": "SUCCESS", "extracted_text": r["text"], "gt_text": r["text"]}
        for u, r in pages.items()
    ]
    bad = [dict(r) for r in rows]
    bad[3]["extracted_text"] = bad[3]["extracted_text"][:-1] + "#"
    yield "create", lambda: checks.check_dataset(rows, pages), lambda: checks.check_dataset(bad, pages)

    docs = {u: extract_document(r["html"]) for u, r in pages.items()}
    stream = [
        {"url": u, "status": d["status"], "extracted_text": d["text"], "text_md5": d["text_md5"]}
        for u, d in docs.items()
    ]
    yield (
        "incremental_extract",
        lambda: checks.check_extracted(stream, pages, docs),
        lambda: checks.check_extracted(corrupt_output(stream), pages, docs),
    )

    metric_rows = []
    for u, r in pages.items():
        pred = perturb_text(u, r["text"], 0.1)
        metric_rows.append({"url": u, "gt_text": r["text"], "pred": pred, **text_metrics(r["text"], pred)})
    bad = [dict(r) for r in metric_rows]
    first = min(bad, key=lambda r: r["url"])
    first["meteor"] += 1e-9
    yield (
        "markdown_text",
        lambda: checks.check_text_metrics(metric_rows, len(pages)),
        lambda: checks.check_text_metrics(bad, len(pages)),
    )

    dataset, teds_rows = [], []
    for u, d in docs.items():
        pred = [perturb_table(u, i, t, 0.3) for i, t in enumerate(d["tables"])]
        dataset.append({"url": u, "tables": d["tables"], "pred_tables": pred})
        for i, (t, p) in enumerate(zip(d["tables"], pred)):
            teds_rows.append({"url": u, "table_id": i, "teds": teds_score(t, p)})
    bad = [dict(r) for r in teds_rows]
    min(bad, key=lambda r: (r["url"], r["table_id"]))["teds"] -= 0.001
    yield "table_structure", lambda: checks.check_teds(teds_rows, dataset), lambda: checks.check_teds(bad, dataset)

    boxed = [{"url": u, "layout": d["layout"], "items": d["items"]} for u, d in docs.items() if d["layout"]]
    bbox_rows = []
    for d in boxed:
        gt = [{"text": i["text"], **b} for i, b in zip(d["items"], d["layout"])]
        bbox_rows += [{"url": d["url"], "match_id": k, **m} for k, m in enumerate(evaluate_document(gt, gt))]
    bad = [dict(r) for r in bbox_rows]
    bad[0]["meteor"] += 1e-9
    yield "bbox_text", lambda: checks.check_bbox_text(bbox_rows, boxed), lambda: checks.check_bbox_text(bad, boxed)
    yield (
        "bbox_text rows",
        lambda: checks.check_bbox_text(bbox_rows, boxed),
        lambda: checks.check_bbox_text(corrupt_output(bbox_rows), boxed),
    )

    windows = {}
    for r in pages.values():
        key = (r["warc_ts"].replace(minute=0, second=0, microsecond=0), r["lang"])
        windows[key] = windows.get(key, 0) + 1
    wrows = [{"ws": ws, "lang": lang, "docs": n, "match_rate": 1.0} for (ws, lang), n in windows.items()]
    bad = [dict(r) for r in wrows]
    bad[0]["docs"] += 1
    yield "windowed_match_rate", lambda: checks.check_windows(wrows, pages), lambda: checks.check_windows(bad, pages)

    _, f = gen.web_fetches(f"{tmp}/fetches", 1, 60)
    irows = [{"url": u, "crawl_ts": ts.isoformat(), "scrubbed_text": "plain words"} for u, ts in f["kept"].items()]
    leak = [dict(r) for r in irows]
    leak[0]["scrubbed_text"] = "mail u1@mail3.org"
    yield "ingest", lambda: checks.check_ingest(irows, f["kept"]), lambda: checks.check_ingest(leak, f["kept"])
    stale = [dict(r) for r in irows]
    stale[0]["crawl_ts"] = "2023-12-31T00:00:00.000Z"
    yield "ingest latest", lambda: checks.check_ingest(irows, f["kept"]), lambda: checks.check_ingest(stale, f["kept"])
    yield (
        "ingest rows",
        lambda: checks.check_ingest(irows, f["kept"]),
        lambda: checks.check_ingest(corrupt_output(irows), f["kept"]),
    )


def main() -> int:
    work = HERE.parent / ".perfbench_work"
    work.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=str(work))
    missed = 0
    try:
        for name, good, bad in _cases(tmp):
            ok = good()
            err = bad()
            if ok is not None or err is None:
                missed += 1
            print(f"{name:22s} correct: {'pass' if ok is None else 'FAIL ' + ok}; corrupted: {'caught: ' + err if err else 'MISSED'}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            work.rmdir()
        except OSError:
            pass
    print("selftest", "ok" if not missed else f"{missed} case(s) wrong")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
