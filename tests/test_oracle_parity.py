"""Strict local mirror of the driver's correctness gate: every query
in __spark_entry__.queries() must match its DuckDB oracle exactly
(row count + column names + values) at sf0.001; rows-only queries must
at least execute."""

from __future__ import annotations

import os
import traceback

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_SMALL
from tests.parity import compare, duck_con

QUERIES = entrymod.queries()
# trained-quantizer oracles are generated per-sf (artifact replay) —
# point the generator at the sf this suite checks BEFORE fetching
os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_SMALL
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_SMALL)


# r15: the 316-query gate mirror runs through a small driver thread
# pool instead of one pytest item per query — identical coverage
# (every registered query still compared against its oracle at
# sf0.001; mismatches reported by name), but the independent sub-second
# Spark jobs overlap on the idle cores (optimization guide §2.6).
# DuckDB side: one cursor per worker thread off the shared module
# connection (cursors are independent connections to the same
# catalog). Motivated by the driver's VERIFY window — see
# test_empty_inputs.py.
_POOL = 8
# characters of each failure's traceback kept in the report
_TB_TAIL = 1500

#: the trained-quantizer queries whose oracle is an artifact replay
#: (plans/trained_oracle.py) rather than a static ORACLE entry
TRAINED = ("knn_ivf", "knn_sq_rerank", "semantic_dedup", "knn_ivfpq")


def test_trained_oracles_in_mirror():
    """oracle_sql() swallows a failure of generate_trained_oracles (the
    driver contract keeps every other oracle alive); here such a
    failure must not let the four trained queries fall back to the
    rows-only check unnoticed."""
    missing = [n for n in TRAINED if n not in ORACLES]
    assert not missing, (
        f"trained oracles missing from the parity mirror: {missing} "
        "(see the 'trained-oracle generation skipped' line on stderr)"
    )


def test_query_matches_oracle(spark, con):
    from concurrent.futures import ThreadPoolExecutor

    def one(name: str) -> str | None:
        try:
            fn = QUERIES[name]
            if name not in ORACLES:
                assert fn(spark, SF_SMALL).count() >= 0
                return None
            sdf = fn(spark, SF_SMALL).toPandas()
            odf = con.cursor().execute(ORACLES[name]).fetchdf()
            errs = compare(sdf, odf)
            return f"{name}: {errs[:5]}" if errs else None
        except Exception as e:  # noqa: BLE001 - reported via assert
            tb = traceback.format_exc()[-_TB_TAIL:]
            return f"{name}: {type(e).__name__}: {e}\n{tb}"

    with ThreadPoolExecutor(max_workers=_POOL) as pool:
        failures = [r for r in pool.map(one, sorted(QUERIES)) if r]
    assert not failures, (
        f"{len(failures)} queries diverged from the oracle: {failures[:10]}"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.schema.fields) == 10
