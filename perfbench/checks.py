"""Independent references and output checks.

Each check takes what a layer call produced (already collected or
written) plus what the generator planted, and returns an error string
or ``None``. The references here share no code with the operators they
check: numpy power iterations for the rank loops, a Python BFS and a
hop-limited label propagation for the label loops, and the generator's
own bookkeeping for every count. Text metrics are recomputed with
``evaluators.text_metrics``, the scoring reference the evaluators are
defined against.
"""

from __future__ import annotations

import json
import math
import os
from collections import Counter
from datetime import datetime, timezone

import numpy as np
import pyarrow.dataset as pads

from docling_eval_spark.evaluators.teds import teds_score
from docling_eval_spark.evaluators.text_metrics import METRIC_COLS, text_metrics, token_metrics, tokenize

RANK_TOL = 1e-9


def read_parquet(path: str, columns: list[str] | None = None):
    return pads.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)


def read_json_lines(path: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(path, name)) as fh:
            rows.extend(json.loads(line) for line in fh if line.strip())
    return rows


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


# ------------------------------------------------------------ extraction


def check_dataset(rows: list[dict], ref: dict) -> str | None:
    """create: one SUCCESS row per page, extracted text byte-identical
    to the generated ground truth, GT text carried alongside."""
    if len(rows) != len(ref):
        return f"dataset has {len(rows)} rows, generator wrote {len(ref)}"
    for r in rows:
        want = ref.get(r["url"])
        if want is None:
            return f"unknown url {r['url']}"
        if r["status"] != "SUCCESS":
            return f"{r['url']}: status {r['status']}"
        if r["extracted_text"] != want["text"] or r["gt_text"] != want["text"]:
            return f"{r['url']}: extracted text differs from ground truth"
    return None


def check_extracted(rows: list[dict], ref: dict, reference_docs: dict) -> str | None:
    """stream output: every landed page once, text identical to the
    ground truth and to an in-process batch extraction of the same
    bytes."""
    urls = Counter(r["url"] for r in rows)
    if set(urls) != set(ref) or max(urls.values()) != 1:
        return f"stream wrote {len(rows)} rows for {len(urls)} urls, landed {len(ref)} pages"
    for r in rows:
        want = reference_docs[r["url"]]
        if r["extracted_text"] != ref[r["url"]]["text"] or r["text_md5"] != want["text_md5"]:
            return f"{r['url']}: stream extraction differs from batch extraction"
        if r["status"] != want["status"]:
            return f"{r['url']}: status {r['status']} != {want['status']}"
    return None


# ------------------------------------------------------------ evaluators


def check_text_metrics(rows: list[dict], expected_rows: int, sample: int = 12) -> str | None:
    """markdown_text: one row per document; the metrics of a fixed
    sample equal text_metrics() recomputed here."""
    if len(rows) != expected_rows:
        return f"{len(rows)} metric rows for {expected_rows} documents"
    for r in sorted(rows, key=lambda r: r["url"])[:sample]:
        want = text_metrics(r["gt_text"] or "", r["pred"] or "")
        for c in METRIC_COLS:
            if not math.isclose(r[c], want[c], rel_tol=0, abs_tol=1e-12):
                return f"{r['url']}: {c} {r[c]} != reference {want[c]}"
    return None


def check_teds(rows: list[dict], dataset: list[dict], sample: int = 12) -> str | None:
    """table_structure: one row per GT table; TEDS of a fixed sample
    equals teds_score() recomputed here from the dataset grids."""
    by_url = {d["url"]: d for d in dataset}
    expected = sum(len(d["tables"] or []) for d in dataset)
    if len(rows) != expected:
        return f"{len(rows)} TEDS rows for {expected} tables"
    for r in sorted(rows, key=lambda r: (r["url"], r["table_id"]))[:sample]:
        d = by_url[r["url"]]
        gt = d["tables"][r["table_id"]]
        pred = d["pred_tables"][r["table_id"]]
        want = teds_score(gt, pred)
        if r["teds"] != want:
            return f"{r['url']}#{r['table_id']}: teds {r['teds']} != reference {want}"
    return None


def _iou(a: tuple, b: tuple) -> float:
    """IoU of two (l, t, r, b) boxes, top-left origin."""
    iw = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
    ih = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
    inter = iw * ih
    union = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
    return inter / union if union > 0 else 0.0


def ref_bbox_self_matches(boxes: list[tuple]) -> list[tuple[int, list[int]]]:
    """Matches of a document's boxes against themselves, by the rule the
    package documents for bbox_text (SURVEY J4): per document, pages
    not told apart, every predicted box goes to the first ground-truth
    box of largest IoU (many-to-one, no threshold), ground-truth boxes
    that get none are orphans. Returns (true box, predicted boxes) in
    the order the matches are emitted; an orphan has no predicted box."""
    pivots: dict[int, list[int]] = {}
    for j, b in enumerate(boxes):
        ious = [_iou(b, a) for a in boxes]
        pivots.setdefault(ious.index(max(ious)), []).append(j)
    return list(pivots.items()) + [(i, []) for i in range(len(boxes)) if i not in pivots]


def check_bbox_text(rows: list[dict], dataset: list[dict], sample: int = 12) -> str | None:
    """bbox_text (ground truth scored against itself): every document
    has the reference's number of matches; where all its boxes are
    distinct every match scores f1 = 1; and the six metrics of every
    match of a fixed sample, plus of every document with two boxes at
    the same coordinates, equal token_metrics() on the reference's
    matched texts."""
    got: dict[str, dict[int, dict]] = {}
    for r in rows:
        got.setdefault(r["url"], {})[r["match_id"]] = r
    docs = sorted((d for d in dataset if d["layout"]), key=lambda d: d["url"])
    if set(got) != {d["url"] for d in docs}:
        return f"bbox_text: {len(got)} documents scored, {len(docs)} have boxes"
    for k, d in enumerate(docs):
        boxes = [(b["l"], b["t"], b["r"], b["b"]) for b in d["layout"]]
        matches = ref_bbox_self_matches(boxes)
        mine = got[d["url"]]
        if sorted(mine) != list(range(len(matches))):
            return f"{d['url']}: {len(mine)} bbox matches, reference has {len(matches)}"
        coincident = len(set(boxes)) < len(boxes)
        if not coincident and any(m["f1_score"] != 1.0 for m in mine.values()):
            return f"{d['url']}: distinct boxes matched to themselves scored f1 < 1"
        if k >= sample and not coincident:
            continue
        texts = [i["text"] or "" for i in d["items"]]
        for mid, (t, preds) in enumerate(matches):
            pred_tokens = [tok for j in preds for tok in tokenize(texts[j])]
            want = token_metrics(tokenize(texts[t]), pred_tokens)
            for c in METRIC_COLS:
                if not math.isclose(mine[mid][c], want[c], rel_tol=0, abs_tol=1e-12):
                    return f"{d['url']} match {mid}: {c} {mine[mid][c]} != reference {want[c]}"
    return None


def check_rows(name: str, rows: int, expected: int) -> str | None:
    return None if rows == expected else f"{name}: {rows} rows, expected {expected}"


def check_unit_interval(name: str, rows: list[dict], cols: list[str]) -> str | None:
    for r in rows:
        for c in cols:
            v = r[c]
            if v is None or not (0.0 <= v <= 1.0):
                return f"{name}: {c}={v} outside [0, 1]"
    return None


def check_stats(path: str, groups: set[str], key: str, total: int | None = None) -> str | None:
    """A stats rollup written as JSON: one row per expected group, and
    (when given) the counted rows of every group add up to ``total``."""
    rows = read_json_lines(path)
    got = {r[key] for r in rows}
    if got != groups:
        return f"{os.path.basename(path)}: groups {sorted(got)} != {sorted(groups)}"
    if total is not None:
        bad = [r for r in rows if r["total"] != total]
        if bad:
            return f"{os.path.basename(path)}: totals {[r['total'] for r in bad]} != {total}"
    return None


def check_reports(out_dir: str, names: list[str], total: int) -> str | None:
    """visualize: every metric report present in all four formats, and
    its JSON counts every metric row."""
    for n in names:
        for ext in ("json", "md", "svg", "png"):
            p = os.path.join(out_dir, f"{n}.{ext}")
            if not os.path.exists(p) or os.path.getsize(p) == 0:
                return f"report {n}.{ext} missing"
        with open(os.path.join(out_dir, f"{n}.json")) as fh:
            got = json.load(fh)["total"]
        if got != total:
            return f"report {n}: total {got} != {total} metric rows"
    return None


# ------------------------------------------------------------ graph loops


def _index(src, dst):
    nodes = np.unique(np.concatenate([src, dst]))
    return nodes, np.searchsorted(nodes, src), np.searchsorted(nodes, dst)


def ref_page_rank(src, dst, iterations, damping=0.85):
    nodes, s, d = _index(np.asarray(src), np.asarray(dst))
    n = len(nodes)
    deg = np.bincount(s, minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    # no early stop: an operator that stops at an exact fixpoint returns
    # the values further iterations would reproduce
    for _ in range(iterations):
        rank = (1.0 - damping) / n + damping * np.bincount(d, rank[s] / deg[s], minlength=n)
    return dict(zip(nodes.tolist(), rank.tolist()))


def ref_trust_rank(src, dst, seeds, iterations, damping=0.85):
    nodes, s, d = _index(np.asarray(src), np.asarray(dst))
    n = len(nodes)
    deg = np.bincount(s, minlength=n).astype(float)
    live = sorted(set(seeds) & set(nodes.tolist()))
    t = np.zeros(n)
    t[np.searchsorted(nodes, live)] = 1.0 / len(live)
    rank = t.copy()
    for _ in range(iterations):
        rank = (1.0 - damping) * t + damping * np.bincount(d, rank[s] / deg[s], minlength=n)
    return dict(zip(nodes.tolist(), rank.tolist()))


def ref_hits(src, dst, iterations):
    nodes, s, d = _index(np.asarray(src), np.asarray(dst))
    n = len(nodes)
    hub = np.ones(n)
    auth = np.zeros(n)
    for _ in range(iterations):
        auth = np.bincount(d, hub[s], minlength=n)
        hub = np.bincount(s, auth[d], minlength=n)
    hub = hub / hub.max() if hub.max() > 0 else hub
    auth = auth / auth.max() if auth.max() > 0 else auth
    return {k: (h, a) for k, h, a in zip(nodes.tolist(), hub.tolist(), auth.tolist())}


def ref_crawl_depth(src, dst, seeds, max_hops):
    adj: dict[int, list[int]] = {}
    for a, b in zip(src, dst):
        adj.setdefault(a, []).append(b)
    depth = {x: 0 for x in seeds}
    frontier = list(depth)
    for hop in range(1, max_hops + 1):
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in depth:
                    depth[v] = hop
                    nxt.append(v)
        frontier = nxt
    return depth


def ref_components(src, dst, iterations):
    nodes, s, d = _index(np.asarray(src), np.asarray(dst))
    a = np.concatenate([s, d])
    b = np.concatenate([d, s])
    comp = nodes.copy()
    for _ in range(iterations):
        new = comp.copy()
        np.minimum.at(new, b, comp[a])
        comp = new
    return dict(zip(nodes.tolist(), comp.tolist()))


def check_close(name: str, got: dict, want: dict, tol: float = RANK_TOL) -> str | None:
    if set(got) != set(want):
        return f"{name}: {len(got)} nodes, reference has {len(want)}"
    for k, w in want.items():
        g = got[k]
        pairs = zip(g, w) if isinstance(w, tuple) else [(g, w)]
        for gv, wv in pairs:
            if not abs(gv - wv) <= tol:
                return f"{name}: node {k} {gv!r} != reference {wv!r}"
    return None


def check_equal(name: str, got: dict, want: dict) -> str | None:
    if got == want:
        return None
    diff = next((k for k in set(got) | set(want) if got.get(k) != want.get(k)), None)
    return f"{name}: node {diff} {got.get(diff)!r} != reference {want.get(diff)!r}"


# ------------------------------------------------------------ corpus


def check_ingest(rows: list[dict], kept: dict) -> str | None:
    """web_ingest: one row per unblocked url, carrying its latest
    fetch, with every planted email and IPv4 address masked."""
    if len(rows) != len(kept):
        return f"ingest wrote {len(rows)} rows, generator kept {len(kept)} urls"
    for r in rows:
        if r["url"] not in kept:
            return f"{r['url']} should have been dropped"
        if datetime.fromisoformat(r["crawl_ts"]) != kept[r["url"]]:
            return f"{r['url']}: kept fetch {r['crawl_ts']}, latest is {kept[r['url']].isoformat()}"
        if "@mail" in r["scrubbed_text"] or " 10." in r["scrubbed_text"]:
            return f"{r['url']}: PII left in scrubbed text"
    return None


def check_windows(rows: list[dict], ref: dict) -> str | None:
    """windowed_match_rate: per (hour, lang) document counts equal a
    Python group-by of the landed pages, and every match rate is 1."""
    want: Counter = Counter()
    for r in ref.values():
        ts = r["warc_ts"]
        want[(ts.replace(minute=0, second=0, microsecond=0), r["lang"])] += 1
    got = {}
    for r in rows:
        ws = r["ws"]
        ws = ws.replace(tzinfo=timezone.utc) if ws.tzinfo is None else ws
        got[(ws, r["lang"])] = r["docs"]
        if r["match_rate"] != 1.0:
            return f"window {ws} {r['lang']}: match rate {r['match_rate']}"
    if got != dict(want):
        return f"{len(got)} windows with {sum(got.values())} docs, reference {len(want)} with {sum(want.values())}"
    return None
