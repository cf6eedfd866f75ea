#!/usr/bin/env python3
"""Benchmark of gluon_ocr_spark: fresh extraction and resumed mixed extraction.

    python3 perfbench/run.py --workload extract_html --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The command makes the workload's
inputs from ``--seed`` (cached per seed under ``.perfbench/``), runs
the workload's public call at ``local[nproc]`` and ``local[1]``, each
level in its own fresh process and JVM, checks every output, and
prints as its last line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics of a traced run (which
also probes the corpus-preparation layers on a corpus sample), whose
spans are written to ``.perfbench/spans/``. Earlier lines carry the
host, the measured input properties, per-level samples and the
workload-specific layer figures. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import compileall
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.checks import read_columns  # noqa: E402
from perfbench.guard import ForeignTreeError, check_tree  # noqa: E402

WORKLOADS = {
    # name: (payload kind, pages)
    "extract_html": ("html", 2000),
    "extract_mixed_resume": ("mixed", 2000),
}
END_TO_END = {
    "docs_per_s": "docs/s",
    "scaling_eff": "ratio",
    "setup_s": "s",
    "out_bytes_per_doc": "bytes",
}
PER_LAYER = {
    "memory.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "partitioning.salt_s": "s",
    "partitioning.shuffle_write_mb": "MB",
    "partitioning.rows_max_over_median": "ratio",
    "partitioning.task_s_max_over_median": "ratio",
    "extract.udf_s": "s",
    "extract.non_kernel_frac": "ratio",
    "full.after_extract_s": "s",
    "kernels.dom.us_per_doc": "us",
    "kernels.dom.blocks_per_doc": "count",
    "kernels.dom.share": "ratio",
    "kernels.blocks.us_per_doc": "us",
    "kernels.extract.us_per_doc": "us",
    "kernels.extract.lines_per_doc": "count",
    "kernels.extract.mp_scaling": "ratio",
    "kernels.pdf.us_per_doc": "us",
    "kernels.pdf.fallback_frac": "ratio",
    "kernels.pdf.share": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "textstats.token_quality_s": "s",
    "textstats.repetition_s": "s",
    "textstats.tokens_p99": "count",
    "dedup.exact_s": "s",
    "dedup.near_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "pipeline.after_exact_dedup": "count",
    "pipeline.corpus_out": "count",
    "pipeline.write_s": "s",
    "trace.overhead_frac": "ratio",
}
# corpus sample of the traced run's corpus-preparation probes: its giant
# pages have 120 paragraphs (~3k tokens), the least make_page gives a
# giant, because with_repetition is quadratic in tokens per doc and one
# 400-paragraph page would take the run past its time limit
CORPUS_PAGES, CORPUS_GIANT_PARAS = 150, 120
RUN_LIMIT_S = 170  # every level process must end by then
MIN_ROUNDS = 3


def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True).stderr.splitlines()
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 1024**2, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "unknown",
    }


def driver_memory(ram_gb: float) -> str:
    """A share of the host's RAM: 1/16, between 1 and 8 GiB."""
    return f"{int(1024 * min(8.0, max(1.0, ram_gb * 0.0625)))}m"


# -- inputs ---------------------------------------------------------------


def make_inputs(workload: str, seed: int, cache: str, corpus: bool) -> dict:
    """Write the workload's tables once per seed (and the corpus sample,
    if asked for); return their paths."""
    kind, n = WORKLOADS[workload]
    d = os.path.join(cache, f"{workload}-seed{seed}")
    paths = {"input": os.path.join(d, "pages")}
    if kind == "mixed":
        paths["base_input"] = os.path.join(d, "committed_pages")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        rows = gen.extraction_pages(n, seed, payload=kind)
        gen.write_pages(rows, paths["input"])
        if kind == "mixed":
            gen.write_pages(gen.committed_rows(rows), paths["base_input"])
        open(os.path.join(d, "DONE"), "w").close()
    if corpus:
        paths["corpus"] = os.path.join(d, "corpus")
        if not os.path.exists(os.path.join(d, "CORPUS_DONE")):
            shutil.rmtree(paths["corpus"], ignore_errors=True)
            gen.write_pages(gen.corpus_pages(CORPUS_PAGES, seed, CORPUS_GIANT_PARAS), paths["corpus"])
            open(os.path.join(d, "CORPUS_DONE"), "w").close()
    return paths


def read_rows(path: str) -> list[dict]:
    cols = read_columns(path, ["url", "html", "text"])
    return [dict(zip(cols, vals)) for vals in zip(*cols.values())]


# -- level processes --------------------------------------------------------


def proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of /proc/<pid>/stat, by pid:
    state, ppid, process group, session, ..."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    stats[int(pid)] = fh.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # the process ended while being read
    return stats


def become_subreaper() -> None:
    """Make this process the parent of its orphaned descendants (a
    level's JVM and Python workers outlive a killed level process), so
    it can wait for each of them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap() -> None:
    """Collect every ended child, without blocking."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_children() -> None:
    """Kill every remaining child of this process, adopted orphans too,
    and wait until each has ended."""
    give_up = time.time() + 30
    while time.time() < give_up:
        children = [pid for pid, f in proc_stats().items() if int(f[1]) == os.getpid()]
        if not children:
            return
        for pid in children:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


class RssSampler(threading.Thread):
    """Peak summed RSS of each watched session (a level process, its JVM
    and the JVM's Python workers), sampled from /proc."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peaks: dict[int, int] = {}  # session id -> peak bytes
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def watch(self, sid: int) -> None:
        self.peaks.setdefault(sid, 0)

    def run(self) -> None:
        while not self._stop_evt.wait(0.1):
            rss: dict[int, int] = {}
            for pid, f in proc_stats().items():
                sid = int(f[3])
                if sid in self.peaks:
                    try:
                        with open(f"/proc/{pid}/statm") as fh:
                            rss[sid] = rss.get(sid, 0) + int(fh.read().split()[1]) * self._page
                    except (OSError, IndexError):
                        continue  # the process ended while being read
            for sid, total in rss.items():
                self.peaks[sid] = max(self.peaks[sid], total)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the session led by ``proc`` and wait until
    each has ended. Its process group is not enough: pyspark's worker
    daemon moves itself and its workers to a group of their own."""
    give_up = time.time() + 30
    while time.time() < give_up:
        members = [pid for pid, f in proc_stats().items() if int(f[3]) == proc.pid]
        if not members:
            break
        for pid in members:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        reap()  # the killed members are children of this process or orphans it adopted
    proc.wait()


class Level:
    """One level process in a session of its own (its JVM and Python
    workers too). ``tell`` sends a command line; ``ask`` sends one, if
    given, and returns the JSON answer line."""

    def __init__(self, cfg: dict, work: str):
        self.tag = cfg["tag"]
        cfg_path = os.path.join(work, f"level-{self.tag}.json")
        self.log_path = os.path.join(work, f"level-{self.tag}.log")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        env = dict(os.environ)
        env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
        env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
        env["OPENBLAS_NUM_THREADS"] = "1"
        # temporary files of Python and of every JVM (the launcher too) stay in the run's scratch directory
        env["TMPDIR"] = cfg["tmp_dir"]
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={cfg['tmp_dir']} -XX:-UsePerfData"
        # a session of its own: the level, its JVM and every Python worker can be found and stopped together
        with open(self.log_path, "w") as log:
            self.proc = subprocess.Popen(
                [sys.executable, "-m", "perfbench.level", cfg_path], cwd=ROOT, env=env,
                stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, text=True, start_new_session=True,
            )

    def tell(self, command: str) -> None:
        try:
            self.proc.stdin.write(command + "\n")
            self.proc.stdin.flush()
        except (BrokenPipeError, ValueError):
            pass  # the session was stopped; the next ``ask`` reports it

    def ask(self, command: str | None = None) -> dict:
        if command is not None:
            self.tell(command)
        try:
            line = self.proc.stdout.readline()
        except ValueError:  # the session was stopped
            line = ""
        if not line:
            with open(self.log_path) as fh:
                tail = fh.read()[-3000:]
            raise RuntimeError(f"level {self.tag} ended early (exit {self.proc.poll()}):\n{tail}")
        return json.loads(line)

    def close(self) -> None:
        stop_session(self.proc)


def run_levels(cfgs: list[dict], work: str, seconds: float, deadline: float, sampler: RssSampler) -> list[dict]:
    """Start the levels together; once all have a session, let them run
    their warm-up repetitions at the same time; then run rounds of one
    timed repetition per level (first level, then second level) until
    ``seconds`` are spent and at least MIN_ROUNDS are done. Alternating
    puts both levels under the same host conditions, which keeps their
    ratio (``scaling_eff``) steady. Every level process is stopped at
    ``deadline``."""
    levels: list[Level] = []
    results: list[dict] = []
    watchdog = threading.Timer(max(1.0, deadline - time.time()), lambda: [stop_session(lv.proc) for lv in levels])
    watchdog.start()
    try:
        for cfg in cfgs:
            levels.append(Level(cfg, work))
            sampler.watch(levels[-1].proc.pid)
        for lv in levels:
            lv.ask()
        for lv in levels:
            lv.tell("warm")
        for lv in levels:
            results.append(dict(lv.ask(), samples=[]))
        start, rounds = time.time(), 0
        while rounds < MIN_ROUNDS or time.time() - start < seconds:
            for i in (0, 1):
                results[i]["samples"].append(levels[i].ask("rep"))
            rounds += 1
        for lv, res in zip(levels, results):
            res.update(lv.ask("done"))
    finally:
        watchdog.cancel()
        for lv in levels:
            lv.close()
    for lv, res in zip(levels, results):
        res["peak_rss_mb"] = sampler.peaks[lv.proc.pid] / 1e6
    return results


# -- metrics ----------------------------------------------------------------


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


def end_to_end(levels: list[dict], nproc: int) -> dict:
    hi, lo = levels  # local[nproc], then local[1]
    dps_hi = statistics.median(s["docs_per_s"] for s in hi["samples"])
    dps_lo = statistics.median(s["docs_per_s"] for s in lo["samples"])
    return {
        "docs_per_s": dps_hi,
        "scaling_eff": dps_hi / (nproc * dps_lo),
        "setup_s": statistics.median(lv["setup_s"] for lv in levels),
        "out_bytes_per_doc": statistics.median(s["out_bytes_per_doc"] for lv in levels for s in lv["samples"]),
    }


def per_layer(plain: dict, traced: dict, kern: dict, per_url: dict, base_urls: set) -> tuple[dict, dict]:
    """The per-layer metrics, plus lineage and shuffle-write-time figures
    (printed, not declared: the anti-join runs only when urls are
    committed, and shuffle write time is often 0)."""
    lay = dict(traced["layers"])
    todo_kernel_s = sum(t for u, t in per_url.items() if u not in base_urls)
    m = {
        "memory.peak_rss_mb": traced["peak_rss_mb"],
        "session.start_s": traced["session.start_s"],
        "session.warmup_s": traced["session.warmup_s"],
        "extract.non_kernel_frac": 1.0 - todo_kernel_s / lay["extract.udf_stage_core_s"],
        "full.after_extract_s": lay["probe.full_s"] - lay["probe.extract_s"],
        "trace.overhead_frac": statistics.median(s["docs_per_s"] for s in plain["samples"])
        / statistics.median(s["docs_per_s"] for s in traced["samples"]) - 1.0,
    }
    m.update(kern)
    for name in PER_LAYER:
        if name not in m:
            m[name] = lay[name]
    specific = {k: v for k, v in lay.items() if k.startswith("lineage.") or k not in PER_LAYER and k.startswith("spark.")}
    return m, specific


def emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


def main(argv: list[str] | None = None) -> int:
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))  # so the finally clauses stop every process
    become_subreaper()
    try:
        return run(argv)
    finally:
        stop_children()


def run(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    try:
        import gluon_ocr_spark
    except ImportError:
        print(f"gluon_ocr_spark is not importable from {ROOT}", file=sys.stderr)
        return 2
    try:
        check_tree(ROOT, [gluon_ocr_spark.__file__])
    except ForeignTreeError as e:
        print(str(e), file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(state, "work", run_id)
    os.makedirs(work)
    host = host_info()
    nproc = host["nproc"]
    emit({"host": host})

    s = time.time()
    # byte-compile once, so no Python worker compiles the package while timed
    compileall.compile_dir(os.path.dirname(gluon_ocr_spark.__file__), quiet=1)
    paths = make_inputs(args.workload, args.seed, os.path.join(state, "inputs"), corpus=bool(args.trace))
    rows = read_rows(paths["input"])
    base_urls = set(read_columns(paths["base_input"], ["url"])["url"]) if "base_input" in paths else set()
    emit({"input": gen.input_properties(rows, committed=len(base_urls)), "gen_s": time.time() - s})
    if args.trace:
        cols = read_columns(paths["corpus"], ["html", "text", "kind"])
        emit({"corpus_input": gen.input_properties([dict(zip(cols, v)) for v in zip(*cols.values())])})

    common = {
        "workload": args.workload,
        "root": ROOT,
        "run_id": run_id,
        "driver_memory": driver_memory(host["ram_gb"]),
        "tmp_dir": os.path.join(work, "tmp"),
        "event_dir": os.path.join(work, "events"),
        **paths,
    }
    os.makedirs(common["tmp_dir"])
    if "base_input" in paths:
        common["base_dir"] = os.path.join(work, "committed")
    if args.trace:
        plan = [(nproc, False), (nproc, True)]
    else:
        plan = [(nproc, False), (1, False)] if nproc > 1 else [(1, False), (1, False)]

    sampler = RssSampler()
    sampler.start()
    tags = [f"{i}-{cores}{'-trace' if traced else ''}" for i, (cores, traced) in enumerate(plan)]
    cfgs = [dict(common, cores=cores, trace=traced, tag=tag, out_dir=os.path.join(work, "out", tag),
                 build_base=i == 0 and "base_dir" in common) for i, ((cores, traced), tag) in enumerate(zip(plan, tags))]
    try:
        levels = run_levels(cfgs, work, args.seconds, deadline, sampler)
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    finally:
        sampler.stop()

    for lv in levels:
        emit({"level": lv["cores"], "traced": "layers" in lv, "setup_s": lv["setup_s"], "peak_rss_mb": lv["peak_rss_mb"],
              "start_s": lv["session.start_s"], "warmup_s": lv["session.warmup_s"], "warmup_reps_s": lv["warmup_reps_s"],
              "docs_per_s": summary([x["docs_per_s"] for x in lv["samples"]]),
              "walls": [round(x["wall_s"], 3) for x in lv["samples"]],
              "worker_origins": lv["worker_origins"], "notes": lv["notes"]})
    attempted = sum(lv["attempted"] for lv in levels)
    failed = sum(lv["failed"] for lv in levels)

    if args.trace:
        from perfbench import kernels
        from perfbench.tracing import write_spans

        kern, per_url = kernels.profile(rows, nproc)
        metrics, specific = per_layer(levels[0], levels[1], kern, per_url, base_urls)
        emit({"layers": specific})
        write_spans(os.path.join(state, "spans", f"{args.workload}-seed{args.seed}-{run_id}.json"), levels[1]["spans"])
        units = PER_LAYER
    else:
        metrics = end_to_end(levels, nproc)
        units = END_TO_END
    shutil.rmtree(work, ignore_errors=True)
    emit(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
