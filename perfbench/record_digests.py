"""Record the expected row count and digest of the benchmark queries that
have no SQL oracle, for every corpus variant. Writes
``perfbench/expected.json``.

The two queries read only ``documents`` and ``embeddings``, which sit at
their 500-row floor at the benchmark's scale and below it (see
``datagen.table_sizes``), so one digest per variant serves every scale up
to ``run.SF``.

Run from the root of a checkout, when the generator or one of those
queries changes on purpose:

    python3 perfbench/record_digests.py
"""

import json
import os
import shutil
import sys
import tempfile

import check
import datagen
import run
import workloads

NO_ORACLE = ("dedup_minhash_survivors", "ann_ivf_topk")


def main() -> int:
    root = os.getcwd()
    work = tempfile.mkdtemp(prefix="perfbench_digests_", dir=root)
    try:
        run.pin_environment(os.path.join(work, "run"))
        sys.path.insert(0, root)
        from crocus_spark.queries import REGISTRY, queries
        from crocus_spark.session import get_spark

        queries()
        spark = get_spark(app_name="perfbench-digests")
        out: dict = {}
        try:
            for variant in range(datagen.N_CORPUS_VARIANTS):
                data = os.path.join(work, f"v{variant}")
                datagen.generate(data, run.SF, variant)
                for name in NO_ORACLE:
                    rows = [tuple(r) for r in REGISTRY[name].fn(spark, data).collect()]
                    out.setdefault(str(variant), {})[name] = [
                        len(rows), check.rows_digest(rows)]
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(workloads.DIGESTS_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
