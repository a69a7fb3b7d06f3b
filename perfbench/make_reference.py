"""Regenerate ``reference_digests.json``.

Runs every query of the three query workloads on the benchmark's generated
tables, compares each collected result with its DuckDB oracle using
``tools/check_correctness.compare``, and stores the result's digest only if
the outputs matched and a second run, in another order, gave the same digest.
Exits non-zero (and writes nothing) if any query fails either check.

Usage (from the repository root): python3 perfbench/make_reference.py [scale]
Writes ``reference_digests.json`` for the default scale and
``reference_digests_sf<scale>.json`` for any other.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, HERE]

import datagen  # noqa: E402
import run  # noqa: E402


def main() -> int:
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else datagen.DEFAULT_SCALE
    workdir = os.path.join(HERE, "_work", f"reference-{os.getpid()}-{time.time_ns()}")
    os.makedirs(workdir)
    spark = None
    try:
        run.pin_environment(workdir, len(os.sched_getaffinity(0)))
        os.chdir(workdir)
        sf_dir = datagen.write(os.path.join(workdir, "data"), scale)
        from milan_spark.catalog import oracle_sql, queries
        from milan_spark.session import get_spark, release_cached
        from tools.check_correctness import compare, duckdb_con
        from workloads import digest_df, digest_value, reference_path, workload_queries

        spark = get_spark("milan_perfbench_reference")
        catalog, oracles, con = queries(), oracle_sql(), duckdb_con(sf_dir)
        names = [n for w in run.QUERY_WORKLOADS for n in workload_queries(w, catalog)]
        digests, problems = {}, []
        for name in names:
            df = catalog[name](spark, sf_dir)
            got = df.toPandas()
            digests[name] = digest_value(digest_df(df).collect()[0])
            release_cached(spark)
            bad = compare(name, got, con.execute(oracles[name]).fetchdf())
            if len(got) != digests[name]["rows"]:
                bad.append(f"digest saw {digests[name]['rows']} rows, collect {len(got)}")
            problems += [f"{name}: {p}" for p in bad]
            print(f"{'FAIL' if bad else 'PASS'} {name} {digests[name]}", flush=True)
        for name in random.Random(1).sample(names, len(names)):
            again = digest_value(digest_df(catalog[name](spark, sf_dir)).collect()[0])
            release_cached(spark)
            if again != digests[name]:
                problems.append(f"{name}: unstable digest {digests[name]} then {again}")
        if problems:
            print("\n".join(problems), file=sys.stderr)
            return 1
        with open(reference_path(scale), "w") as f:
            json.dump({"scale": scale, "data_seed": datagen.DATA_SEED,
                       "queries": digests}, f, indent=1, sort_keys=True)
            f.write("\n")
        return 0
    finally:
        if spark is not None:
            run.stop_session(spark)
        os.chdir(REPO)
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
