"""Tier-1 gate for the ANN top-k family: each registry entry against its
DuckDB oracle twin on the sf0.001 fixtures, through ``tools/check.py``'s
strict compare (row count, columns, values and dtype kinds)."""

import sys
from pathlib import Path

import pytest

from conftest import SF_DIR

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

ANN_ENTRIES = [
    "x05_ann_topk",
    "x06_lsh_ann",
    "x15_ivf_ann",
    "x35_multiprobe_ann",
    "x52_lsh_ann_multitable",
    "x56_int8_ann",
    "x101_hybrid_rrf",
    "x110_hybrid_rrf_ann",
    "x112_pq_ann",
    "x113_pq_trained",
    "x114_pq_rerank",
    "x115_ivfpq_ann",
    "x116_mmr_rerank",
    "x118_ivfpq_trained",
    "x120_binary_ann",
]


@pytest.fixture(scope="module")
def duck():
    if not Path(SF_DIR).is_dir():
        pytest.skip(f"fixture directory {SF_DIR} is absent")
    import check

    con = check.duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", ANN_ENTRIES)
def test_ann_entry_matches_oracle(duck, spark, name):
    import check

    import __spark_entry__ as entry
    from flockdb_spark.functions.dedup import release_caches

    df = entry.queries()[name](spark, SF_DIR)
    got = df.toPandas()
    release_caches(df)
    problems = check.compare(name, got, duck.execute(entry.oracle_sql()[name]).df())
    assert not problems, problems
