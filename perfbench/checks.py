"""Output checks. Each returns ``(attempted, failed, notes)``.

The checks read what the program wrote with pyarrow directly, not
through the program's own readers, so a reader bug cannot hide a
writer bug.
"""

from __future__ import annotations

import collections
import os

import pyarrow.parquet as pq


def read_columns(path: str, columns: list[str]):
    """Columns of a parquet file or of every parquet file under a directory."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f)
        for d, _sub, names in os.walk(path)
        for f in names
        if f.endswith(".parquet")
    )
    if not files:
        return {c: [] for c in columns}
    tables = [pq.read_table(f, columns=columns) for f in files]
    return {c: [v for t in tables for v in t.column(c).to_pylist()] for c in columns}


def check_warehouse(out_dir: str, truth: dict[str, str]) -> tuple[int, int, list[str]]:
    """Extraction warehouse written by ``ExtractionJob.run``.

    Units: every input url (committed exactly once across runs, text
    byte-identical to the ground truth), plus one unit per committed
    run for ``sum(url_count) == rows in that run``."""
    lineage = read_columns(os.path.join(out_dir, "_lineage"), ["run_id", "url_count"])
    per_run = collections.Counter()
    for run_id, n in zip(lineage["run_id"], lineage["url_count"]):
        per_run[run_id] += n
    seen: collections.Counter = collections.Counter()
    texts: dict[str, str] = {}
    failed, notes = 0, []
    for run_id, claimed in sorted(per_run.items()):
        docs = read_columns(os.path.join(out_dir, "docs", f"run_id={run_id}"), ["url", "text"])
        if len(docs["url"]) != claimed:
            failed += 1
            notes.append(f"run {run_id}: lineage claims {claimed} urls, {len(docs['url'])} written")
        for url, text in zip(docs["url"], docs["text"]):
            seen[url] += 1
            texts[url] = text
    for url, want in truth.items():
        if seen[url] != 1:
            failed += 1
            notes.append(f"{url}: committed {seen[url]} times")
        elif texts[url] != want:
            failed += 1
            notes.append(f"{url}: text differs from ground truth")
    extra = set(seen) - set(truth)
    failed += len(extra)
    notes += [f"{u}: committed but not in the input" for u in sorted(extra)[:5]]
    return len(truth) + len(per_run) + len(extra), failed, notes[:10]


def check_corpus(out_dir: str, truth: dict[str, list]) -> tuple[int, int, list[str]]:
    """Corpus written by ``prepare_corpus``, against the input's
    ``url``/``text``/``group`` columns.

    Units: every output row (its text equals its url's ground truth,
    and its url is an input url written once) and every planted
    exact-duplicate group (exactly one of its urls is kept)."""
    want = dict(zip(truth["url"], truth["text"]))
    got = read_columns(out_dir, ["url", "text"])
    kept = collections.Counter(got["url"])
    failed, notes = 0, []
    for url, text in zip(got["url"], got["text"]):
        if kept[url] != 1 or url not in want:
            failed += 1
            notes.append(f"{url}: written {kept[url]} times" if url in want else f"{url}: not in the input")
        elif text != want[url]:
            failed += 1
            notes.append(f"{url}: text differs from ground truth")
    groups: dict[str, int] = collections.Counter()
    for url, group in zip(truth["url"], truth["group"]):
        if group is not None:
            groups[group] += url in kept
    for group, n in sorted(groups.items()):
        if n != 1:
            failed += 1
            notes.append(f"exact-duplicate group {group}: {n} rows kept")
    return len(got["url"]) + len(groups), failed, notes[:10]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _sub, names in os.walk(path) for f in names)
