"""Control-leak guard: the code measured must be the checkout's own.

A benchmark that imports ``gluon_ocr_spark`` from some other tree
measures the wrong commit without any error. The Spark driver process and
every Spark Python worker are asked where they import the package from;
any answer outside the checkout root fails the run.
"""

from __future__ import annotations

import os


class ForeignTreeError(RuntimeError):
    pass


def check_tree(root: str, files: list[str]) -> None:
    """Raise unless every path in ``files`` lies under ``root``."""
    root = os.path.realpath(root)
    foreign = sorted({f for f in files if not os.path.realpath(f).startswith(root + os.sep)})
    if foreign or not files:
        raise ForeignTreeError(f"gluon_ocr_spark resolves outside {root}: {foreign or 'no answer'}")


def _origin(batches):
    import pandas as pd

    import gluon_ocr_spark
    import gluon_ocr_spark.kernels.extract  # noqa: F401  (warms the kernel import)

    for _ in batches:
        pass
    yield pd.DataFrame({"file": [os.path.realpath(gluon_ocr_spark.__file__)], "pid": [os.getpid()]})


def worker_origins(spark, tasks: int) -> list[str]:
    """``gluon_ocr_spark.__file__`` as seen by the Python workers of
    ``tasks`` parallel tasks (one per task slot, so it also starts and
    warms every worker)."""
    rows = spark.range(0, tasks, 1, tasks).mapInPandas(_origin, "file string, pid long").collect()
    return [r["file"] for r in rows]
