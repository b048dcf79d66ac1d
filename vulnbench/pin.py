#!/usr/bin/env python3
"""Rewrite ``vulnbench/pins.json``: the ``Shas`` manifest ``update_db``
returns for each id offset of the ``dbgen_fixture`` corpus.

    python3 vulnbench/pin.py

Run from the repository root after a change that is meant to alter the
database's bytes; the benchmark fails every pass whose manifest differs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import inputs  # noqa: E402
from run import dbgen_pass, stop_spark  # noqa: E402


def main() -> int:
    from vul_dbgen_spark.session import get_spark

    work = os.path.join(os.path.dirname(HERE), ".vulnbench", "pin")
    spark = get_spark("vulnbench-pin")
    pins = {}
    try:
        for offset in range(inputs.ID_OFFSETS):
            corpus = inputs.fresh_dir(os.path.join(work, "corpus"))
            inputs.vuln_corpus(corpus, offset)
            out = inputs.fresh_dir(os.path.join(work, "db"))
            shas = dbgen_pass(spark, corpus, out)
            problems, _ = checks.check_db(out, shas, shas, checks.golden_counts())
            print(f"offset {offset}: {problems or 'ok'}", file=sys.stderr, flush=True)
            pins[str(offset)] = shas
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(checks.PINS, "w", encoding="utf-8") as f:
        json.dump({"dbgen_fixture": pins}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
