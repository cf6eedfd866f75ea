"""One parallelism level of one workload, in a fresh process and JVM.

Run by ``run.py`` as ``python3 -m perfbench.level <config.json>``. It
answers on standard output with one JSON line per step:

1. start the session (``session.start_s``) and run a warm-up job on
   every task slot, which also checks that each Python worker imports
   ``gluon_ocr_spark`` from the checkout under test
   (``session.warmup_s``); for the resume workload, on the first level
   only, commit the already-done urls with the code under test (not
   part of set-up); answer when done;
2. on the ``warm`` line, ``WARM_REPS`` untimed warm-up repetitions of
   the workload, answered with the set-up figures. ``run.py`` starts
   the levels together and sends ``warm`` to all of them once each has
   a session (and the resume workload's committed state exists), so
   they warm up at the same time;
3. one timed repetition per ``rep`` line, each on a fresh output
   directory and followed by an output check, answered with its
   sample. ``run.py`` alternates the repetitions of its two levels, so
   both see the same host conditions;
4. on any other line: with tracing on, the layer probes (the
   incremental cost of the public calls of each layer, read back from
   the spans and from Spark's event log); then a last answer with the
   output-check totals.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from perfbench.checks import check_warehouse, dir_bytes, read_columns
from perfbench.guard import check_tree, worker_origins
from perfbench.tracing import EventLog, Tracer, read_event_log

# untimed repetitions before timing: the repetition time falls by about
# a fifth over the first three while the JVM warms up, and little after
WARM_REPS = 2


def _session(cfg: dict):
    from gluon_ocr_spark.session import make_session

    cores = cfg["cores"]
    extra = {
        "spark.driver.memory": cfg["driver_memory"],
        # the run may write only inside its checkout; make_session's
        # default is /dev/shm
        "spark.local.dir": cfg["tmp_dir"],
        "spark.ui.showConsoleProgress": "false",
    }
    if cfg["trace"]:
        os.makedirs(cfg["event_dir"], exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + cfg["event_dir"],
            }
        )
    spark = make_session(app=f"perfbench-{cfg['workload']}-{cores}", master=f"local[{cores}]",
                         shuffle_partitions=cores * 2, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Workload:
    """The timed public call (``ExtractionJob.run``) and its output check."""

    def __init__(self, cfg: dict, spark, tracer: Tracer):
        self.cfg, self.spark, self.tracer = cfg, spark, tracer
        self.parts = cfg["cores"] * 3
        self.pages = spark.read.parquet(cfg["input"])
        truth = read_columns(cfg["input"], ["url", "text"])
        self.truth = dict(zip(truth["url"], truth["text"]))
        self.checked = {"attempted": 0, "failed": 0, "notes": []}

    def fresh_out(self, tag: str) -> str:
        """An output directory holding only the workload's starting state."""
        out = os.path.join(self.cfg["out_dir"], tag)
        shutil.rmtree(out, ignore_errors=True)
        if self.cfg.get("base_dir"):
            shutil.copytree(self.cfg["base_dir"], out)
        return out

    def call(self, out: str) -> int:
        """Run the public call; return the docs it committed."""
        from gluon_ocr_spark.plans.lineage import ExtractionJob

        with self.tracer.span("ExtractionJob.run"):
            job = ExtractionJob(out, num_partitions=self.parts)
            res = job.run(self.spark, self.pages)
        return int(res["urls_processed"])

    def count(self, attempted: int, failed: int, notes: list[str]) -> None:
        self.checked["attempted"] += attempted
        self.checked["failed"] += failed
        self.checked["notes"] = (self.checked["notes"] + notes)[:10]

    def rep(self, tag: str) -> dict:
        """One checked repetition on a fresh output directory."""
        out = self.fresh_out(tag)
        s = time.perf_counter()
        docs = self.call(out)
        wall = time.perf_counter() - s
        self.count(*check_warehouse(out, self.truth))
        sample = {"wall_s": wall, "docs": docs, "docs_per_s": docs / wall,
                  "out_bytes_per_doc": dir_bytes(out) / len(self.truth)}
        shutil.rmtree(out, ignore_errors=True)
        self.spark.catalog.clearCache()
        return sample


def build_base(cfg: dict, spark) -> None:
    """Committed state for the resume workload, made by the code under test."""
    from gluon_ocr_spark.plans.lineage import ExtractionJob

    shutil.rmtree(cfg["base_dir"], ignore_errors=True)
    ExtractionJob(cfg["base_dir"], num_partitions=cfg["cores"] * 3).run(spark, spark.read.parquet(cfg["base_input"]))


def serve(cfg: dict, answer) -> None:
    """Start the session and answer; on ``warm``, run the warm-up
    repetitions and answer with the set-up figures; then run one timed
    repetition per ``rep`` line on standard input. ``answer`` sends one
    JSON line."""
    t0 = time.perf_counter()
    spark = _session(cfg)
    t1 = time.perf_counter()
    import gluon_ocr_spark

    origins = worker_origins(spark, cfg["cores"])
    check_tree(cfg["root"], [gluon_ocr_spark.__file__] + origins)
    t2 = time.perf_counter()

    tracer = Tracer(enabled=cfg["trace"], run_id=cfg["run_id"])
    if cfg.get("build_base"):
        build_base(cfg, spark)
    wl = Workload(cfg, spark, tracer)
    answer({"started": cfg["cores"]})
    if sys.stdin.readline().strip() != "warm":
        return
    warm = sum(wl.rep(f"warmup{k}")["wall_s"] for k in range(WARM_REPS))
    answer({
        "cores": cfg["cores"],
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
        "warmup_reps_s": warm,
        "setup_s": t2 - t0 + warm,
        "worker_origins": sorted(set(origins)),
    })
    for n, line in enumerate(sys.stdin):
        if line.strip() != "rep":
            break
        answer(wl.rep(f"rep{n}"))

    result = {}
    if cfg["trace"]:
        from perfbench.probes import probe_corpus, probe_layers

        layers = probe_layers(wl, tracer)
        layers.update(probe_corpus(wl, tracer))
        result["spans"] = tracer.spans
        spark.stop()  # completes the event log
        layers.update(attribute(cfg, tracer.spans))
        result["layers"] = layers
    result.update(wl.checked)
    answer(result)  # run.py then stops the whole session


def attribute(cfg: dict, spans: list[dict]) -> dict:
    """Event-log figures for the traced windows (read after the
    session stops, when the log is complete)."""
    log = EventLog(read_event_log(cfg["event_dir"]))
    by_name = {s["name"]: s for s in spans}
    full = by_name["probe.full"]
    ex = log.exchange(by_name["probe.extract"]["start"], by_name["probe.extract"]["end"])
    out = log.totals(full["start"], full["end"])
    out.update(
        {
            "partitioning.shuffle_write_mb": ex["shuffle_write_mb"],
            "partitioning.rows_max_over_median": ex["rows_max_over_median"],
            "partitioning.task_s_max_over_median": ex["task_s_max_over_median"],
            "extract.udf_stage_core_s": ex["reduce_core_s"],
        }
    )
    out["lineage.jobs"] = out["spark.jobs"]
    return out


def main() -> None:
    # the JVM and the Python workers inherit file descriptor 1: point it
    # at standard error so nothing they print reaches the answers
    answers = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    def answer(obj: dict) -> None:
        answers.write(json.dumps(obj) + "\n")
        answers.flush()

    with open(sys.argv[1]) as fh:
        serve(json.load(fh), answer)


if __name__ == "__main__":
    main()
