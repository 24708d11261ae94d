"""Compute ``expected.json``: the output digest of every ``llm_dedup``
query on the generated corpus at ``batch.SF``.

    python3 perfbench/make_expected.py

Each digest comes from DuckDB running the query's registered oracle SQL
over the same parquet files. Every digest is also computed from the
engine and the script reports any query where the two differ.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

import duckdb  # noqa: E402

from flink_join_scaling_spark import plans  # noqa: E402
from flink_join_scaling_spark.session import get_spark  # noqa: E402
from perfbench import batch, datagen  # noqa: E402
from perfbench.checks import digest  # noqa: E402


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", "expected")
    shutil.rmtree(work, ignore_errors=True)
    d = batch.sf_dir(work, batch.SF)
    datagen.write_corpus(d, batch.SF)
    os.environ["PYTHONPATH"] = ROOT
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    spark = get_spark(app_name="perfbench-expected", max_partition_bytes="8m")
    out, mismatched = {}, []
    for name in batch.MIX:
        engine = plans.QUERIES[name].fn(spark, d).toPandas()
        entry = {"rows": len(engine)}
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        oracle = con.sql(plans.QUERIES[name].oracle).df()
        con.close()
        entry["digest"] = digest(oracle)
        if digest(engine) != entry["digest"] or len(oracle) != len(engine):
            mismatched.append(name)
        out[name] = entry
        print(name, entry, flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
    with open(path, "w") as f:
        json.dump({"sf": batch.SF, "corpus_seed": datagen.CORPUS_SEED, "llm_dedup": out}, f, indent=1)
        f.write("\n")
    if mismatched:
        print("engine != oracle:", mismatched, file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
