"""Queries return their oracle answer in a stock-configured session, not only
in sessions built by ``get_spark``.

The stock session (``tools/check_oracle.stock_session``) shares the test
context but unsets every SQL conf the context was built with, so it runs
with Spark's defaults: ANSI on, AQE partition coalescing on, 200 shuffle
partitions.  Every theta entry runs, plus one entry from each other family;
the two VALUES oracles generated from the tables (``murmur3``, ``theta_p``)
are regenerated for the test scale by their generator tools."""

import pytest

from conftest import SF_DIR
from tools import gen_murmur3_oracle, gen_theta_p_oracle
from tools.check_oracle import check_query, duckdb_views, stock_session

THETA = [
    "theta_distinct",
    "theta_union",
    "theta_intersect",
    "theta_anotb",
    "theta_jaccard",
    "theta_bounds",
    "theta_p",
    "theta_jaccard_bounds",
    "theta_to_string",
    "sketch_summaries",
]
OTHER_FAMILIES = [
    "murmur3",
    "hll_distinct",
    "cpc_distinct",
    "kll_quantiles",
    "quantiles_strings",
    "freq_items",
    "reservoir_shortcut",
    "aod_sums",
    "topk_window",
    "streaming_replay",
    "dedup_minhash",
    "ann_cosine",
    "token_count",
    "dedup_jpeg",
    "dedup_adpcm",
    "dedup_mjpeg",
]
REGENERATED = {"murmur3": gen_murmur3_oracle, "theta_p": gen_theta_p_oracle}


@pytest.fixture(scope="module")
def stock(spark):
    s = stock_session(spark)
    assert s.conf.get("spark.sql.ansi.enabled") == "true"
    assert s.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
    assert s.conf.get("spark.sql.shuffle.partitions") == "200"
    return s


@pytest.fixture(scope="module")
def con():
    c = duckdb_views(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("name", THETA + OTHER_FAMILIES)
def test_query_matches_oracle_in_stock_session(stock, con, name):
    from datasketches_pig_spark.queries import registry

    fn, sql = registry()[name]
    if name in REGENERATED:
        sql = REGENERATED[name].oracle_sql(SF_DIR)
    verdict, detail = check_query(stock, con, fn, sql, SF_DIR)
    assert verdict == "ok", f"{name}: {detail}"
