"""Benchmark inputs and expected results, made in a process of their own.

    python3 perfbench/prepare.py <workload> <seed> <rows> <work dir>

Writes the seeded input tables under ``<work dir>/data`` and the workload's
expected results (``Workload.expect``, computed in DuckDB) to
``<work dir>/expected.pickle``.  run.py starts it, and waits for it to exit,
before the program's set-up, so the generated tables and DuckDB stay out of
the benchmark process's memory and its peak RSS.
"""

from __future__ import annotations

import os
import pickle
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, oracle, workloads  # noqa: E402


def prepare(workload: str, seed: int, rows: int, work: str) -> None:
    data = os.path.join(work, "data")
    datagen.write_tables(datagen.make_tables(seed, rows), data)
    con = oracle.connect(data, os.path.join(work, "tmp"))
    try:
        expected = workloads.WORKLOADS[workload].expect(seed, con)
    finally:
        con.close()
    with open(os.path.join(work, "expected.pickle"), "wb") as f:
        pickle.dump(expected, f)


if __name__ == "__main__":
    name, seed, rows, work = sys.argv[1:]
    prepare(name, int(seed), int(rows), work)
