"""Seeded input generators for the benchmark workloads.

Everything here is pure Python plus pyarrow: inputs are made once per
seed, before any Spark session starts, so generation is outside every
timed region and outside ``setup_s``. The program under test only ever
sees the parquet tables written here.

Page-size mix. ``sources.pages.make_page`` draws 2% giant pages
(120-400 paragraphs), 18% medium (20-60) and 80% small (1-8). The
inputs keep that mix *exactly* by quota (extraction pages are taken in
id order and a page whose size class is already full is skipped), so
two seeds differ in content but not in how many giants they carry.

Corpus pages (``corpus_pages``) are for the corpus-preparation probes:
the same size mix, rendered with ``sources.pages.render_page_html``,
but with words drawn from a Zipfian vocabulary of ``VOCAB_SIZE`` words
(under ``make_page``'s 70-word list every long page holds nearly the
whole list, so unrelated pages would look like near-duplicates), plus
planted exact duplicates, near-duplicates and one template cluster.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import random
import statistics

# (name, lowest paragraph count, highest, share) — make_page's classes
SIZE_CLASSES = (("giant", 120, 400, 0.02), ("medium", 20, 60, 0.18), ("small", 1, 8, 0.80))


def size_class(n_paras: int) -> str:
    for name, lo, hi, _share in SIZE_CLASSES:
        if lo <= n_paras <= hi:
            return name
    raise ValueError(f"paragraph count {n_paras} is in no size class")


def quotas(n: int) -> dict[str, int]:
    q = {name: round(n * share) for name, _lo, _hi, share in SIZE_CLASSES[:-1]}
    q[SIZE_CLASSES[-1][0]] = n - sum(q.values())
    return q


def committed_rows(rows: list[dict], share: float = 0.75) -> list[dict]:
    """The rows the resume workload commits before timing: in each
    stratum of size class and payload kind, the ``share`` of urls that
    come first by md5 (independent of PYTHONHASHSEED). Holding the share
    per stratum keeps how many giant and PDF pages are left to do the
    same for every seed."""
    strata: dict[tuple, list[dict]] = {}
    for r in rows:
        strata.setdefault((size_class(r["text"].count("\n")), r["html"].startswith(b"%PDF-")), []).append(r)
    done = set()
    for group in strata.values():
        group.sort(key=lambda r: hashlib.md5(r["url"].encode()).digest())
        done.update(r["url"] for r in group[: round(share * len(group))])
    return [r for r in rows if r["url"] in done]


def pdf_payload(text: str, position: int) -> bytes:
    """The PDF form ``pages_dataframe(payload="mixed")`` gives a page:
    one text run per line, every fourth file with an xref stream."""
    from gluon_ocr_spark.kernels.pdf import encode_pdf

    runs = [(72.0, 740.0 - 14.0 * k, 10.0, line) for k, line in enumerate(text.split("\n"))]
    return encode_pdf([runs], xref_stream=bool(position % 4 == 3))


def extraction_pages(n: int, seed: int, payload: str = "html") -> list[dict]:
    """``n`` pages from ``make_page(i, seed)`` with make_page's size mix
    held exactly. ``payload="mixed"`` turns every other page (by
    position) into its PDF form, as ``pages_dataframe`` does."""
    from gluon_ocr_spark.sources.pages import make_page

    left = quotas(n)
    rows: list[dict] = []
    page_id = 0
    while len(rows) < n:
        page = make_page(page_id, seed)
        page_id += 1
        cls = size_class(page["text"].count("\n"))
        if left[cls] == 0:
            continue
        left[cls] -= 1
        if payload == "mixed" and len(rows) % 2 == 1:
            page["html"] = pdf_payload(page["text"], len(rows))
        rows.append(page)
    return rows


# -- corpus pages ---------------------------------------------------------

VOCAB_SIZE = 12_000
EXACT_SHARE, NEAR_SHARE, TEMPLATE_SHARE = 0.10, 0.10, 0.10
TEMPLATE_MAX = 50  # pages in the template cluster
TEMPLATE_PARAS = 12


def zipf_vocabulary(size: int = VOCAB_SIZE) -> list[str]:
    """``size`` distinct lowercase words (syllable strings, rank order)."""
    syl = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    words = []
    for i in range(size):
        w, k = "", i
        while True:
            w, k = w + syl[k % len(syl)], k // len(syl)
            if k == 0:
                break
        words.append(w)
    return words


class _Words:
    """Zipf(1) word draws over the vocabulary."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.vocab = zipf_vocabulary()
        self.cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(self.vocab))))

    def sentence(self, lo: int = 6, hi: int = 16) -> str:
        return " ".join(self.rng.choices(self.vocab, cum_weights=self.cum, k=self.rng.randint(lo, hi)))

    def paragraph(self) -> str:
        return " ".join(self.sentence() for _ in range(self.rng.randint(1, 4)))


def _corpus_page(rng: random.Random, url: str, title: str, paras: list[str], group: str | None) -> dict:
    from gluon_ocr_spark.sources.pages import render_page_html

    html = render_page_html(rng, paras, title=title).encode("utf-8")
    return {"url": url, "html": html, "text": "\n".join([title] + paras), "group": group, "kind": "base"}


def corpus_pages(n: int, seed: int, giant_paras: int | None = None) -> list[dict]:
    """``n`` corpus pages: distinct pages in make_page's size mix (held
    by quota), about 10% exact duplicates of them (same bytes, new url),
    10% near-duplicates (one paragraph replaced) and a template cluster
    (10%, at most 50 pages: one shared page with one paragraph varied).
    Duplicates are planted from small and medium pages only.

    ``giant_paras`` fixes the paragraph count of every giant page
    (otherwise drawn from make_page's 120-400). ``group`` names each
    planted exact-duplicate group (its source url); ``kind`` is base,
    exact, near or template."""
    rng = random.Random(seed * 7919 + 11)
    words = _Words(rng)
    n_exact, n_near = round(n * EXACT_SHARE), round(n * NEAR_SHARE)
    n_template = min(TEMPLATE_MAX, round(n * TEMPLATE_SHARE))
    n_base = n - n_exact - n_near - n_template

    classes = [name for name, count in quotas(n_base).items() for _ in range(count)]
    rng.shuffle(classes)
    bounds = {name: (lo, hi) for name, lo, hi, _share in SIZE_CLASSES}
    if giant_paras is not None:
        bounds["giant"] = (giant_paras, giant_paras)
    base = []
    for i, cls in enumerate(classes):
        paras = [words.paragraph() for _ in range(rng.randint(*bounds[cls]))]
        base.append(_corpus_page(rng, f"https://corpus.example/p/{seed}/{i:07d}", words.sentence(3, 7).title(), paras, None))

    # exact copies of distinct sources; near copies of other sources
    order = [i for i in rng.sample(range(n_base), n_base) if classes[i] != "giant"]
    exact_src, near_src = order[:n_exact], order[n_exact : n_exact + n_near]
    rows = list(base)
    for k, i in enumerate(exact_src):
        src = base[i]
        src["group"] = src["url"]
        rows.append(dict(src, url=f"{src['url']}/copy{k}", kind="exact"))
    for k, i in enumerate(near_src):
        src = base[i]
        paras = src["text"].split("\n")
        title, paras = paras[0], paras[1:]
        paras[rng.randrange(len(paras))] = words.paragraph()
        rows.append(dict(_corpus_page(rng, f"{src['url']}/near{k}", title, paras, None), kind="near"))

    title = words.sentence(3, 7).title()
    template = [words.paragraph() for _ in range(TEMPLATE_PARAS)]
    slot = rng.randrange(TEMPLATE_PARAS)
    for k in range(n_template):
        paras = list(template)
        paras[slot] = words.sentence()
        rows.append(dict(_corpus_page(rng, f"https://corpus.example/t/{seed}/{k:05d}", title, paras, None), kind="template"))
    rng.shuffle(rows)
    return rows


# -- tables and input properties ----------------------------------------

def write_pages(rows: list[dict], path: str, files: int = 4) -> None:
    """Write ``rows`` as a parquet directory of ``files`` files.

    The table carries url, html and the ground-truth text (and, for
    corpus pages, the planted group and kind); the program reads
    url/html and the checks read the rest."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // files)
    for f in range(files):
        part = rows[f * step : (f + 1) * step]
        if not part:
            continue
        cols = {
            "url": pa.array([r["url"] for r in part], pa.string()),
            "html": pa.array([r["html"] for r in part], pa.binary()),
            "text": pa.array([r["text"] for r in part], pa.string()),
        }
        for extra in ("group", "kind"):
            if extra in part[0]:
                cols[extra] = pa.array([r[extra] for r in part], pa.string())
        table = pa.table(cols)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))


def _quantile(values: list[float], q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def input_properties(rows: list[dict], committed: int = 0) -> dict:
    """Measured properties of one workload input."""
    sizes = [len(r["html"]) for r in rows]
    tokens = [len(r["text"].split()) for r in rows]
    n = len(rows)
    props = {
        "pages": n,
        "payload_mb": round(sum(sizes) / 1e6, 3),
        "page_bytes_p50": _quantile(sizes, 0.50),
        "page_bytes_p99": _quantile(sizes, 0.99),
        "page_bytes_max": max(sizes),
        "giant_share": round(sum(r["text"].count("\n") >= 120 for r in rows) / n, 4),
        "pdf_share": round(sum(r["html"][:5] == b"%PDF-" for r in rows) / n, 4),
        "committed_share": round(committed / n, 4),
        "tokens_p50": _quantile(tokens, 0.50),
        "tokens_p99": _quantile(tokens, 0.99),
        "tokens_mean": round(statistics.mean(tokens), 1),
    }
    if "kind" in rows[0]:
        for kind in ("exact", "near", "template"):
            props[f"{kind}_dup_share"] = round(sum(r["kind"] == kind for r in rows) / n, 4)
        props["vocabulary"] = VOCAB_SIZE
    return props

