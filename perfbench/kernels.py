"""Single-threaded kernel timings on the workload's own payloads.

Runs in the benchmark process (no Spark), after the Spark levels have
finished, so nothing else competes for the cores.
"""

from __future__ import annotations

import time
import zlib

PDF_RENDER_SAMPLE = 200


def is_pdf(payload: bytes) -> bool:
    """The extraction kernel's routing sniff."""
    return b"%PDF-" in payload[:1024]


def _pdf_falls_back(payload: bytes) -> bool:
    """Whether the PDF leg gives the payload back to the HTML leg
    (the same rule ``kernels.extract`` applies)."""
    from gluon_ocr_spark.kernels.pdf import pdf_text_lines

    try:
        pdf_text_lines(payload)
    except ValueError as e:
        return "encrypted" not in str(e)
    except (TypeError, KeyError, RecursionError, zlib.error):
        return True
    return False


def _extract_chunk(payloads: list[bytes]) -> int:
    from gluon_ocr_spark.kernels.extract import extract_document

    return sum(len(extract_document(p).text) for p in payloads)


def _pool_docs_per_s(workers: int, payloads: list[bytes]) -> float:
    import multiprocessing as mp

    chunks = [payloads[i : i + 25] for i in range(0, len(payloads), 25)]
    with mp.get_context("spawn").Pool(workers) as pool:
        pool.map(_extract_chunk, chunks[: workers * 2], chunksize=1)  # import + warm every worker
        s = time.perf_counter()
        pool.map(_extract_chunk, chunks, chunksize=1)
        return len(payloads) / (time.perf_counter() - s)


def profile(rows: list[dict], nproc: int) -> tuple[dict, dict[str, float]]:
    """Kernel metrics plus per-url ``extract_document`` seconds."""
    from gluon_ocr_spark.kernels.blocks import detect_regions
    from gluon_ocr_spark.kernels.dom import parse_blocks
    from gluon_ocr_spark.kernels.extract import extract_document
    from perfbench.gen import pdf_payload

    pc = time.perf_counter
    html = [r["html"] for r in rows if not is_pdf(r["html"])]
    pdfs = [r["html"] for r in rows if is_pdf(r["html"])]

    dom_s = blocks_s = 0.0
    n_blocks = 0
    for p in html:
        s = pc()
        blocks = parse_blocks(p)
        m = pc()
        detect_regions(blocks)
        dom_s, blocks_s = dom_s + (m - s), blocks_s + (pc() - m)
        n_blocks += len(blocks)

    per_url: dict[str, float] = {}
    n_lines = 0
    for r in rows:
        s = pc()
        res = extract_document(r["html"])
        per_url[r["url"]] = pc() - s
        n_lines += len(res.lines)
    extract_s = sum(per_url.values())

    # workloads without PDFs time the PDF leg on PDF renders of their texts
    targets = pdfs or [pdf_payload(r["text"], i) for i, r in enumerate(rows[:PDF_RENDER_SAMPLE])]
    s = pc()
    fallbacks = sum(_pdf_falls_back(p) for p in targets)
    pdf_s = pc() - s

    sample = [r["html"] for r in rows]
    one = _pool_docs_per_s(1, sample)
    many = _pool_docs_per_s(nproc, sample)
    metrics = {
        "kernels.dom.us_per_doc": 1e6 * dom_s / max(1, len(html)),
        "kernels.dom.blocks_per_doc": n_blocks / max(1, len(html)),
        "kernels.blocks.us_per_doc": 1e6 * blocks_s / max(1, len(html)),
        "kernels.extract.us_per_doc": 1e6 * extract_s / len(rows),
        "kernels.extract.lines_per_doc": n_lines / len(rows),
        "kernels.extract.mp_scaling": many / (nproc * one),
        "kernels.pdf.us_per_doc": 1e6 * pdf_s / len(targets),
        "kernels.pdf.fallback_frac": fallbacks / len(targets),
        "kernels.dom.share": dom_s / extract_s,
        "kernels.pdf.share": (pdf_s if pdfs else 0.0) / extract_s,
    }
    return metrics, per_url
