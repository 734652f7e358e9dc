"""Degenerate-input robustness: EVERY registered query must execute
against zero-row AND single-row tables — the states a production
pipeline hits on day one, after an over-aggressive filter, or on an
empty/thin ingest partition. Found-and-fixed by the r7 sweeps:
np.stack on empty quantizer training samples (7 ANN queries), ANSI
divide-by-zero on empty denominators (3 ratio queries), schema-less
reads of an IVF index built from an empty corpus, and 10 statistical
queries whose statistics are undefined at n=1 (variance/rank/EMD
denominators) — those now return NULL for the undefined statistic,
with the guards mirrored in their oracles."""

from __future__ import annotations

import os
import traceback

import duckdb
import pytest

from dimagi_data_platform_spark.catalog import TABLES, table_path
from dimagi_data_platform_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL


def _make_sf(tmp_path_factory, name: str, limit: int) -> str:
    d = str(tmp_path_factory.mktemp(name))
    con = duckdb.connect()
    for t in TABLES:
        src = table_path(SF_SMALL, t)
        if os.path.exists(src):
            con.execute(
                f"COPY (SELECT * FROM '{src}' LIMIT {limit}) "
                f"TO '{d}/{t}.parquet' (FORMAT PARQUET)"
            )
    return d


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    return _make_sf(tmp_path_factory, "sf_empty", 0)


@pytest.fixture(scope="module")
def one_row_sf(tmp_path_factory):
    return _make_sf(tmp_path_factory, "sf_one", 1)


# r15: the two robustness sweeps run all registered queries through a
# small driver thread pool instead of one pytest item per query —
# identical coverage (every query still executes against both
# degenerate inputs; failures are collected and reported by name), but
# the independent tiny jobs overlap on the idle executor cores
# (optimization guide §2.6) instead of serializing ~630 sub-second
# Spark actions behind one another. Measured ~4x wall on the suite's
# largest module; motivated by the driver's VERIFY window (r14
# tests_ok=false was the suite outrunning the window, not a failure).
_POOL = 8
# characters of each failure's traceback kept in the report
_TB_TAIL = 1500


def _sweep(spark, sf: str) -> list[str]:
    from concurrent.futures import ThreadPoolExecutor

    def one(name: str) -> str | None:
        try:
            QUERIES[name](spark, sf).collect()
            return None
        except Exception as e:  # noqa: BLE001 - reported via assert
            tb = traceback.format_exc()[-_TB_TAIL:]
            return f"{name}: {type(e).__name__}: {e}\n{tb}"

    with ThreadPoolExecutor(max_workers=_POOL) as pool:
        errs = [r for r in pool.map(one, sorted(QUERIES)) if r]
    return errs


def test_query_survives_empty_tables(spark, empty_sf):
    # result content is unspecified on empty input (usually no rows,
    # sometimes a single all-NULL/zero statistic row); the contract is
    # "executes without raising"
    errs = _sweep(spark, empty_sf)
    assert not errs, f"{len(errs)} queries failed on empty input: {errs[:10]}"


def test_query_survives_single_row_tables(spark, one_row_sf):
    # n=1 exercises every (n-1)/variance/rank denominator; undefined
    # statistics must come back NULL, never raise
    errs = _sweep(spark, one_row_sf)
    assert not errs, f"{len(errs)} queries failed on 1-row input: {errs[:10]}"
