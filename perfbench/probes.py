"""Layer probes for the traced run.

Each layer is timed by the incremental cost of calling its public
functions on the same input in one session, every call written to the
``noop`` sink:

1. scan: ``spark.read.parquet(...).select("url", "html")``;
2. the scan plus ``operators.partitioning.salt_partition``;
3. ``operators.extract.extract_docs``;
4. the full ``ExtractionJob.run``.

Before them, the lineage read path is timed on the workload's starting
warehouse: ``ExtractionJob.committed_urls`` and, when urls are already
committed, the anti-join that leaves only the pages still to do.

The corpus-preparation layers are probed on a small sample of corpus
pages (``gen.corpus_pages``, giant pages and planted duplicates kept):
on the sample's extracted docs, held in a local checkpoint, each
textstats and dedup operator is timed by its cost over a plain pass of
the docs; then ``pipeline.prepare_corpus(near_dedup=True)`` runs whole
and its output is checked.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from perfbench.checks import check_corpus, dir_bytes, read_columns

CHEAP_REPEATS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tracer, name: str, fn, repeats: int = CHEAP_REPEATS, before=None) -> float:
    """Median wall time of ``fn`` over ``repeats`` calls, one span each."""
    walls = []
    for _ in range(repeats):
        arg = before() if before else None
        with tracer.span(name):
            s = time.perf_counter()
            fn(arg) if before else fn()
            walls.append(time.perf_counter() - s)
    return statistics.median(walls)


def probe_layers(wl, tracer) -> dict:
    from gluon_ocr_spark.operators.extract import extract_docs
    from gluon_ocr_spark.operators.partitioning import salt_partition
    from gluon_ocr_spark.plans.lineage import ExtractionJob

    spark, pages, parts = wl.spark, wl.pages, wl.parts
    out: dict = {"sources.input_mb": dir_bytes(wl.cfg["input"]) / 1e6}

    state = wl.fresh_out("probe-state")
    job = ExtractionJob(state, num_partitions=parts)
    holder = {}

    def committed():
        holder["done"] = job.committed_urls(spark)
        if holder["done"] is not None:
            _noop(holder["done"])

    out["lineage.committed_urls_s"] = _timed(tracer, "probe.committed_urls", committed)
    todo = pages if holder["done"] is None else pages.join(holder["done"], "url", "left_anti")

    scan = _timed(tracer, "probe.scan", lambda: _noop(pages.select("url", "html")))
    out["sources.scan_s"] = scan
    base = scan
    if todo is not pages:
        base = _timed(tracer, "probe.antijoin", lambda: _noop(todo.select("url", "html")))
        out["lineage.antijoin_s"] = base - scan
    salted = _timed(tracer, "probe.salt", lambda: _noop(salt_partition(todo.select("url", "html"), parts)))
    out["partitioning.salt_s"] = salted - base
    extracted = _timed(tracer, "probe.extract", lambda: _noop(extract_docs(todo, num_partitions=parts)))
    out["extract.udf_s"] = extracted - salted
    out["probe.extract_s"] = extracted

    full = _timed(tracer, "probe.full", wl.call, before=lambda: wl.fresh_out("probe-full"))
    out["probe.full_s"] = full
    out["lineage.sink_commit_s"] = full - extracted - out["lineage.committed_urls_s"]
    out["lineage.out_mb"] = dir_bytes(os.path.join(wl.cfg["out_dir"], "probe-full")) / 1e6
    shutil.rmtree(wl.cfg["out_dir"], ignore_errors=True)
    return out


def probe_corpus(wl, tracer) -> dict:
    from gluon_ocr_spark.operators import textstats as ts
    from gluon_ocr_spark.operators.dedup import drop_exact_dups, drop_near_dups, jaccard_verify, minhash_candidate_pairs
    from gluon_ocr_spark.operators.extract import extract_docs
    from gluon_ocr_spark.pipeline import prepare_corpus

    spark, parts, path = wl.spark, wl.parts, wl.cfg["corpus"]
    pages = spark.read.parquet(path).select("url", "html")
    docs = extract_docs(pages, num_partitions=parts).select("url", "text").localCheckpoint(eager=True)
    plain = _timed(tracer, "probe.corpus_docs", lambda: _noop(docs))
    # the two costly operators (with_repetition is quadratic in tokens
    # per doc) and the whole call are timed once, to fit the run's limit
    out = {
        "textstats.token_quality_s": _timed(
            tracer, "probe.token_quality", lambda: _noop(ts.with_quality(ts.with_token_stats(docs)))) - plain,
        "textstats.repetition_s": _timed(tracer, "probe.repetition", lambda: _noop(ts.with_repetition(docs)), 1) - plain,
        "dedup.exact_s": _timed(tracer, "probe.exact_dedup", lambda: _noop(drop_exact_dups(docs, "url", "text"))) - plain,
        "dedup.near_s": _timed(tracer, "probe.near_dedup", lambda: _noop(drop_near_dups(docs, "url", "text")), 1) - plain,
    }
    tokens = sorted(r[0] for r in ts.with_token_stats(docs).select("n_tokens").collect())
    out["textstats.tokens_p99"] = float(tokens[min(len(tokens) - 1, int(0.99 * len(tokens)))])
    cand = minhash_candidate_pairs(docs, "url", "text")
    out["dedup.candidate_pairs"] = cand.count()
    out["dedup.verified_pairs"] = jaccard_verify(docs, cand, "url", "text").count()
    out["dedup.verify_yield"] = out["dedup.verified_pairs"] / max(1, out["dedup.candidate_pairs"])
    spark.catalog.clearCache()

    target = os.path.join(wl.cfg["out_dir"], "corpus")
    counters = {}

    def prepare():
        counters.update(prepare_corpus(spark, pages, target, num_partitions=parts, near_dedup=True))

    out["pipeline.write_s"] = _timed(tracer, "probe.prepare_corpus", prepare, 1)
    out["pipeline.after_exact_dedup"] = counters["after_exact_dedup"]
    out["pipeline.corpus_out"] = counters["corpus_out"]
    truth = read_columns(path, ["url", "text", "group"])
    wl.count(*check_corpus(target, truth))
    shutil.rmtree(target, ignore_errors=True)
    return out
