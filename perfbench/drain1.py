"""Single-threaded drain baseline, run in its own process:

    python3 perfbench/drain1.py SPOOL WARM_SPOOL WORK_DIR

Drains WARM_SPOOL once, then SPOOL once, in a ``local[1]`` session, and
prints the seconds the second drain took.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

from harness import start_spark, stop_spark  # noqa: E402
from ingest import drain  # noqa: E402


class _Dir:
    def __init__(self, path: str):
        self.path = path

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)


def main(spool: str, warm_spool: str, work_dir: str) -> int:
    work = _Dir(work_dir)
    spark = start_spark(work, cores=1)
    try:
        drain(spark, warm_spool, work.sub("warm-out"), work.sub("warm-ck"))
        t = time.time()
        drain(spark, spool, work.sub("out"), work.sub("ck"))
        print(time.time() - t)
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
