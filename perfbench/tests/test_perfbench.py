"""Tests of the benchmark's own code (no Spark session is started).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.guard import ForeignTreeError, check_tree  # noqa: E402


def test_extraction_pages_are_deterministic_per_seed():
    a = gen.extraction_pages(60, seed=3)
    b = gen.extraction_pages(60, seed=3)
    c = gen.extraction_pages(60, seed=4)
    assert [(r["url"], r["html"], r["text"]) for r in a] == [(r["url"], r["html"], r["text"]) for r in b]
    assert [r["html"] for r in a] != [r["html"] for r in c]


def test_extraction_pages_hold_the_size_mix_exactly():
    rows = gen.extraction_pages(200, seed=5)
    classes = [gen.size_class(r["text"].count("\n")) for r in rows]
    assert {k: classes.count(k) for k in set(classes)} == gen.quotas(200)


def test_mixed_pages_alternate_pdf_and_html():
    rows = gen.extraction_pages(40, seed=3, payload="mixed")
    assert [r["html"].startswith(b"%PDF-") for r in rows] == [i % 2 == 1 for i in range(40)]
    html = gen.extraction_pages(40, seed=3)
    assert [r["text"] for r in rows] == [r["text"] for r in html]


def test_committed_rows_hold_the_share_in_every_stratum():
    for seed in (3, 4):
        rows = gen.extraction_pages(400, seed=seed, payload="mixed")
        done = {r["url"] for r in gen.committed_rows(rows)}
        strata = collections.Counter()
        for r in rows:
            key = (gen.size_class(r["text"].count("\n")), r["html"].startswith(b"%PDF-"))
            strata[key, r["url"] in done] += 1
        for (key, is_done), n in strata.items():
            if is_done:
                assert n == round(0.75 * (n + strata[key, False]))
        assert sum(n for (key, is_done), n in strata.items() if key[0] == "giant" and not is_done) == 2


def test_corpus_pages_are_deterministic_per_seed_and_plant_duplicates():
    a = gen.corpus_pages(100, seed=3)
    assert a == gen.corpus_pages(100, seed=3)
    assert [r["html"] for r in a] != [r["html"] for r in gen.corpus_pages(100, seed=4)]
    kinds = [r["kind"] for r in a]
    assert (kinds.count("exact"), kinds.count("near"), kinds.count("template")) == (10, 10, 10)
    by_url = {r["url"]: r for r in a}
    for r in a:
        if r["kind"] == "exact":
            src = by_url[r["group"]]
            assert (src["html"], src["text"], src["group"]) == (r["html"], r["text"], r["group"])
    assert len(set(gen.zipf_vocabulary())) == gen.VOCAB_SIZE


def test_guard_rejects_a_foreign_tree():
    own = os.path.join(ROOT, "gluon_ocr_spark", "__init__.py")
    foreign = os.path.join(os.path.dirname(ROOT), "other-checkout", "gluon_ocr_spark", "__init__.py")
    with pytest.raises(ForeignTreeError):
        check_tree(ROOT, [own, foreign])
    with pytest.raises(ForeignTreeError):
        check_tree(ROOT, [ROOT + "-copy/gluon_ocr_spark/__init__.py"])  # a prefix sibling is foreign
    with pytest.raises(ForeignTreeError):
        check_tree(ROOT, [])
    check_tree(ROOT, [own])


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_stop_session_ends_members_that_left_the_process_group():
    # like pyspark's worker daemon: a grandchild in a process group of its own
    script = (
        "import os, sys, time\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    os.setpgid(0, 0)\n"
        "    print(os.getpid(), flush=True)\n"
        "    time.sleep(60)\n"
        "    os._exit(0)\n"
        "time.sleep(60)\n"
    )
    run.become_subreaper()
    child = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        grandchild = int(child.stdout.readline())
        assert os.getpgid(grandchild) != child.pid
    finally:
        child.stdout.close()
        run.stop_session(child)
    assert not os.path.exists(f"/proc/{grandchild}")
    assert not [pid for pid, f in run.proc_stats().items() if int(f[3]) == child.pid]
