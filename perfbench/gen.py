"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of the seed: it writes files under
a directory and returns the input properties a later claim has to cite
plus the expected counts the output checks compare against. The
program under test only ever reads the written files.
"""

from __future__ import annotations

import os
import random
import unicodedata
from collections import Counter, deque
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from docling_eval_spark.datagen.pages import gen_page

_PAGE_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


def page_kind(data: bytes) -> str:
    if data.startswith(b"%PDF-MINI"):
        return "minipdf"
    if data.startswith(b"%PDF-"):
        return "pdf"
    return "html"


def _page_table(rows: list[dict]) -> pa.Table:
    return pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": [r["warc_ts"].to_pydatetime().replace(tzinfo=timezone.utc) for r in rows],
            "html": [r["html"] for r in rows],
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
        },
        schema=_PAGE_SCHEMA,
    )


def _page_props(rows: list[dict]) -> dict:
    kinds = Counter(page_kind(r["html"]) for r in rows)
    sizes: dict[str, int] = Counter()
    for r in rows:
        sizes[page_kind(r["html"])] += len(r["html"])
    n = len(rows)
    return {
        "pages": n,
        "kind_share": {k: round(kinds[k] / n, 4) for k in sorted(kinds)},
        "kind_mean_bytes": {k: round(sizes[k] / kinds[k], 1) for k in sorted(kinds)},
        "mean_bytes": round(sum(sizes.values()) / n, 1),
        "tables": sum(len(r["_tables"]) for r in rows),
    }


def write_pages(path: str, seed: int, n: int, files: int) -> tuple[dict, dict]:
    """``n`` pages of the default datagen mix (HTML / MiniPDF / real
    PDF) as ``files`` parquet files. Returns (properties, reference)
    where the reference maps url -> (ground-truth text, lang, warc_ts,
    table count)."""
    os.makedirs(path, exist_ok=True)
    rows = [gen_page(i, seed) for i in range(n)]
    per = -(-n // files)
    for k in range(files):
        chunk = rows[k * per : (k + 1) * per]
        if chunk:
            pq.write_table(_page_table(chunk), os.path.join(path, f"part-{k:05d}.parquet"))
    ref = {
        r["url"]: {
            "text": r["text"],
            "lang": r["lang"],
            "warc_ts": r["warc_ts"].to_pydatetime().replace(tzinfo=timezone.utc),
            "tables": len(r["_tables"]),
            "html": r["html"],
        }
        for r in rows
    }
    props = _page_props(rows)
    props["files"] = sum(1 for _ in os.scandir(path))
    return props, ref


# ------------------------------------------------------------------ graph


def link_graph(path: str, seed: int, hosts: int, pages_per_host: int) -> tuple[dict, dict]:
    """Directed web graph clustered by host: most links stay inside the
    host (cycles through the host's home page), the rest point at pages
    drawn from a Zipf-like popularity ranking (skewed in-degree). Node
    ids are page numbers; host h owns ids [h*P, (h+1)*P)."""
    rng = random.Random(seed * 7919 + 1)
    p = pages_per_host
    n = hosts * p
    popular = list(range(n))
    rng.shuffle(popular)
    src: list[int] = []
    dst: list[int] = []
    for h in range(hosts):
        home = h * p
        for k in range(p):
            u = home + k
            # every page links home and home links onward: one cycle per
            # host plus a ring of homes, so no loop settles in a few hops
            src.append(u)
            dst.append(home if k else ((h + 1) % hosts) * p)
            if k and k + 1 < p:
                src.append(u)
                dst.append(u + 1)
            for _ in range(min(40, int(rng.paretovariate(1.6)))):
                if rng.random() < 0.7:
                    v = home + rng.randrange(p)
                else:
                    v = popular[int(n * rng.random() ** 4)]
                src.append(u)
                dst.append(v)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())}),
        os.path.join(path, "edges.parquet"),
    )
    seeds = sorted({h * p for h in range(0, hosts, max(1, hosts // 8))})
    pq.write_table(
        pa.table({"node": pa.array(seeds, pa.int64())}),
        os.path.join(path, "seeds.parquet"),
    )
    indeg = Counter(dst)
    props = {
        "nodes": len(set(src) | set(dst)),
        "edges": len(src),
        "max_in_degree": max(indeg.values()),
        "seeds": len(seeds),
        "largest_component_diameter": _diameter_estimate(src, dst),
    }
    return props, {"src": src, "dst": dst, "seeds": seeds}


def _bfs(adj: dict[int, list[int]], start: int) -> dict[int, int]:
    dist = {start: 0}
    q = deque([start])
    while q:
        u = q.popleft()
        for v in adj[u]:
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


def _diameter_estimate(src: list[int], dst: list[int]) -> int:
    """Undirected diameter of the largest component by repeated double
    sweep (a lower bound that is exact on most graphs; an all-pairs BFS
    is too slow for an input property)."""
    adj: dict[int, list[int]] = {}
    for a, b in zip(src, dst):
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    seen: set[int] = set()
    best_comp: dict[int, int] = {}
    for u in adj:
        if u not in seen:
            comp = _bfs(adj, u)
            seen |= comp.keys()
            if len(comp) > len(best_comp):
                best_comp = comp
    start = next(iter(best_comp))
    best = 0
    for _ in range(4):
        d = _bfs(adj, start)
        far = max(d, key=d.get)
        best = max(best, d[far])
        start = far
    return best


# ------------------------------------------------------------------ corpus


_ACCENTED = ["café", "résumé", "naïve", "Zürich", "déjà", "façade"]
_JUNK = ["zq", "xv", "kk", "qj", "wz", "vv"]
_WORDS = (
    "the of and to in a is that it for on with as by this from data page "
    "crawl index tokens corpus document extract content block words link"
).split()


def clean_corpus(path: str, seed: int, base: int) -> tuple[dict, dict]:
    """Document table (url, text, lang) for clean_corpus: ``base``
    distinct prose documents plus planted exact duplicates, NFD twins of
    accented documents, and short junk documents the quality gate
    drops. Only the base documents survive."""
    rng = random.Random(seed * 104729 + 2)
    docs: list[tuple[str, str, str]] = []
    accented: list[str] = []
    for i in range(base):
        pg = gen_page(i, seed + 1000)
        text = pg["text"]
        if i % 4 == 0:
            text = f"{text} {rng.choice(_ACCENTED)} {rng.choice(_ACCENTED)}"
            accented.append(text)
        docs.append((f"https://corpus.example/{seed}/d{i}", text, pg["lang"]))
    n_dup = base // 6
    n_twin = len(accented) // 3
    n_junk = base // 20
    for j in range(n_dup):
        _, text, lang = docs[rng.randrange(base)]
        docs.append((f"https://mirror.example/{seed}/d{j}", text, lang))
    for j in range(n_twin):
        text = accented[j]
        docs.append((f"https://twin.example/{seed}/d{j}", unicodedata.normalize("NFD", text), "en"))
    for j in range(n_junk):
        text = " ".join(rng.choice(_JUNK) for _ in range(rng.randint(2, 5))) + f" {j}"
        docs.append((f"https://junk.example/{seed}/d{j}", text, "en"))
    rng.shuffle(docs)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": [d[0] for d in docs],
                "text": [d[1] for d in docs],
                "lang": [d[2] for d in docs],
            }
        ),
        os.path.join(path, "docs.parquet"),
    )
    n = len(docs)
    props = {
        "rows": n,
        "dup_share": round(n_dup / n, 4),
        "nfc_twin_share": round(n_twin / n, 4),
        "junk_share": round(n_junk / n, 4),
    }
    return props, {"rows": n, "survivors": base}


def web_fetches(path: str, seed: int, urls: int) -> tuple[dict, dict]:
    """Crawl table (url, crawl_ts, text) with recrawls (2-4 fetches of
    some urls) and a blocklist of registered domains. Texts carry
    emails and IPv4 addresses for the PII scrub."""
    rng = random.Random(seed * 15485863 + 3)
    sites = max(8, urls // 40)
    blocked = sorted(rng.sample(range(sites), max(1, sites // 10)))
    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows: list[tuple[str, datetime, str]] = []
    latest: dict[str, datetime] = {}
    recrawled = 0
    for i in range(urls):
        s = rng.randrange(sites)
        host = f"www.site{s}.com" if s % 3 else f"blog.site{s}.co.uk"
        url = f"https://{host}/p/{seed}/{i}"
        fetches = 1 if rng.random() < 0.7 else rng.randint(2, 4)
        recrawled += fetches > 1
        for f in range(fetches):
            ts = t0 + timedelta(hours=rng.randrange(24 * 90), seconds=f)
            words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(12, 40)))
            pii = rng.random()
            if pii < 0.2:
                words += f" contact u{i}@mail{s}.org"
            elif pii < 0.3:
                words += f" host 10.{s % 250}.{i % 250}.{f + 1}"
            rows.append((url, ts, words))
            latest[url] = max(latest.get(url, ts), ts)
    rng.shuffle(rows)
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "url": [r[0] for r in rows],
                "crawl_ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
                "text": [r[2] for r in rows],
            }
        ),
        os.path.join(path, "fetches.parquet"),
    )
    block_domains = [f"site{s}.com" if s % 3 else f"site{s}.co.uk" for s in blocked]
    with open(os.path.join(path, "blocklist.txt"), "w") as fh:
        fh.write("\n".join(block_domains) + "\n")
    blocked_set = set(block_domains)

    def reg_domain(url: str) -> str:
        host = url.split("/")[2]
        parts = host.split(".")
        return ".".join(parts[-3:]) if host.endswith(".co.uk") else ".".join(parts[-2:])

    kept = {u: ts for u, ts in latest.items() if reg_domain(u) not in blocked_set}
    props = {
        "fetch_rows": len(rows),
        "urls": len(latest),
        "recrawl_share": round(recrawled / len(latest), 4),
        "blocked_domains": len(block_domains),
        "blocked_url_share": round(1 - len(kept) / len(latest), 4),
    }
    return props, {"rows": len(rows), "kept": kept}



def stream_shards(path: str, seed: int, files: int, pages_per_file: int) -> tuple[dict, dict]:
    """Page shards for the streaming source: ``files`` parquet files of
    ``pages_per_file`` pages each, landed before the stream starts."""
    return write_pages(path, seed + 2000, files * pages_per_file, files)
