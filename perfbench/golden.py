#!/usr/bin/env python3
"""Record the golden spans digest of every corpus slot in ``golden.json``.

    python3 perfbench/golden.py

A digest is (rows, masked xxhash64 sum) of ``spans_out`` for one slot's
corpus, computed by ``pipeline.run(persist=False)``, a different physical
path from the benchmark's timed ``persist=True`` units. Regenerate after a
change that is meant to alter extraction output or the generator, and say
so where the change is described.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    sys.path.insert(0, run.ROOT)
    os.environ["PYTHONPATH"] = run.ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    import corpus

    cpus = len(os.sched_getaffinity(0))
    spark, _, _ = run.start_session(cpus, trace=False)
    from aide_spark.generator import GENERATOR_VERSION
    from aide_spark.plans import pipeline

    slots = {}
    for slot in range(corpus.SLOTS):
        docs = spark.read.parquet(corpus.stage_corpus(run.WORK, slot, corpus.SLOT_DOCS, max(cpus, 8)))
        digest, _ = run.run_digest(pipeline.run(docs)["spans_out"])
        slots[str(slot)] = list(digest)
        print(slot, digest, flush=True)
    with open(os.path.join(run.HERE, "golden.json"), "w") as fh:
        json.dump({f"g{GENERATOR_VERSION}-n{corpus.SLOT_DOCS}": slots}, fh, indent=1)
        fh.write("\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
