"""Regenerate ``fingerprints.json`` from the DuckDB oracle.

    python3 perfbench/make_fingerprints.py [query ...]

For each query (default: the query workload's list) it runs the oracle
SQL of ``plans/oracle.py`` (or the trained-quantizer replay of
``plans/trained_oracle.py``) in DuckDB over the sf0.1 tables, and the
registered Spark query on a copy of them, and fingerprints both with
``checks.fingerprint``. It writes the oracle's fingerprints and exits
nonzero if any Spark result differs from its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import run  # noqa: E402


def oracle_sql(sf_dir: str, names: list[str]) -> dict[str, str]:
    from dimagi_data_platform_spark.plans.oracle import ORACLE
    from dimagi_data_platform_spark.plans.trained_oracle import generate_trained_oracles

    out = {n: ORACLE[n] for n in names if n in ORACLE}
    if len(out) < len(names):
        out.update(generate_trained_oracles(sf_dir))
    return {n: out[n] for n in names}


def main() -> int:
    import duckdb

    from dimagi_data_platform_spark.catalog import TABLES, table_path
    from dimagi_data_platform_spark.plans.queries import QUERIES
    from dimagi_data_platform_spark.session import get_spark

    names = sys.argv[1:] or list(run.ITERATIVE)
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(run.SF_SRC, t)
        if os.path.exists(p):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{p}'")
    want = {n: checks.fingerprint(con.execute(sql).fetchdf())
            for n, sql in oracle_sql(run.SF_SRC, names).items()}

    os.environ.setdefault("PYTHONPATH", os.path.dirname(HERE))
    spark = get_spark("perfbench-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp()
    bad = 0
    try:
        sf_dir = os.path.join(work, run.SF_TAG)
        shutil.copytree(run.SF_SRC, sf_dir)
        for n in names:
            got = checks.fingerprint(QUERIES[n](spark, sf_dir).toPandas())
            status = "ok" if got == want[n] else "SPARK DIFFERS FROM ORACLE"
            bad += got != want[n]
            print(f"{n}: {status}")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        run.drop_artifacts(os.path.join(os.path.dirname(HERE), ".artifacts"))

    doc = {"sf": os.path.basename(run.SF_SRC), "fingerprints": {}}
    if os.path.exists(checks.PATH):
        with open(checks.PATH) as f:
            doc = json.load(f)
    doc["fingerprints"].update(want)
    with open(checks.PATH, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
