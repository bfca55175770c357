"""One-off sweep of cold ``knn_classify`` over growing corpus sizes, to put
the classify memory cliff on file (see NOTES.md). Not a workload.

    python3 perfbench/cliff.py

For each size in ``SIZES``: a seeded dataset, then ``REPS`` cold ops
(memos dropped first), each traced for Spark's peak execution memory and
spill. Prints one JSON line per op. Sizes after one whose op took longer
than ``GIVE_UP_S`` are skipped.
"""

from __future__ import annotations

import json
import os
import time

import datagen
import run  # sets up sys.path for the engine
import spans

from knn_with_mapreduce_cuda_spark import registry, session, tables

SIZES = (2000, 3000, 4000, 5000, 6000)
REPS = 2
SEED = 1
GIVE_UP_S = 120.0


def main() -> None:
    run._environment()
    spark = session.get_spark("perfbench-cliff")
    spark.sparkContext.setLogLevel("ERROR")
    classify = registry.queries()["knn_classify"]
    tracer = spans.Tracer(spark)
    op_id = 0
    try:
        for n in SIZES:
            data_dir = os.path.join(run.WORK, "data", f"cliff-{n}")
            datagen.generate(data_dir, n, SEED, {})
            slowest = 0.0
            for rep in range(REPS):
                op_id += 1
                tables.invalidate_caches(data_dir)
                t0 = time.perf_counter()
                with tracer.op_scope(op_id, "knn_classify"):
                    classify(spark, data_dir).write.format("noop").mode("overwrite").save()
                took = time.perf_counter() - t0
                slowest = max(slowest, took)
                c = tracer.ops[op_id]
                print(json.dumps({
                    "n": n,
                    "rep": rep,
                    "op_s": round(took, 2),
                    "peak_exec_mem_mb": round(c.peak_exec_mem_mb, 1),
                    "spill_mb": round(c.spill_mb, 1),
                    "executor_cpu_s": round(c.executor_cpu_s, 2),
                    "gc_ms": c.gc_ms,
                    "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                }), flush=True)
            if slowest > GIVE_UP_S:
                break
    finally:
        run.stop_spark(spark)


if __name__ == "__main__":
    main()
