"""Domain-skew salting (round-5 item; SURVEY §2.4 A7).

The tag path partitions by per-row url hash, so it must stay balanced even
under extreme domain skew with NO tuning — that's the 100-TB design claim
in _salted_repartition's docstring, pinned here with a one-domain=50%
fixture. The measured-skew salt from derive_salt parameterizes the
bounded-key per-domain aggregation (domain_histogram), whose output must
be identical to a naive groupBy and whose stage-1 key set must actually
spread the hot domain over the derived buckets."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from char_ner_spark import pipeline as P
from char_ner_spark.fixtures import make_alias_table, make_pages


@pytest.fixture(scope="module")
def skewed_pages(spark):
    """~50% of pages on one domain (urls stay unique)."""
    alias = make_alias_table(120, seed=42)
    pdf = make_pages(240, seed=42, alias_df=alias)
    urls = [
        f"https://hot.example.com/page/{i:07d}" if i % 2 == 0 else u
        for i, u in enumerate(pdf["url"])
    ]
    pdf = pdf.assign(url=urls)
    return spark.createDataFrame(pdf)


def test_derive_salt_scales_with_measured_skew(skewed_pages):
    salt, stats = P.derive_salt(skewed_pages, n_parts=32, sample_fraction=0.5,
                                seed=7)
    share = stats["max_domain_share_e6"] / 1e6
    assert 0.35 < share < 0.65            # measured ~50% hot domain
    assert stats["top_domain"] == "hot.example.com"
    assert stats["sampled_rows"] > 50
    # 2 * share * 32 ≈ 32 → next power of two ≥ that (sampling noise can
    # land either side of the 32 boundary), above the 16 floor
    assert salt in (32, 64)
    # uniform corpus stays at the floor
    uniform = skewed_pages.sparkSession.createDataFrame(
        make_pages(240, seed=43, alias_df=make_alias_table(120, seed=42))
    )
    salt_u, stats_u = P.derive_salt(uniform, n_parts=32, sample_fraction=0.5,
                                    seed=7)
    assert salt_u == 16
    assert stats_u["max_domain_share_e6"] < 400_000


def test_tag_partitions_balanced_under_domain_skew(spark, skewed_pages):
    """One domain owning 50% of pages must NOT unbalance the tagger stage:
    the repartition key is the per-row url hash."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sizes = (
        P._salted_repartition(skewed_pages.select("url", "html", "lang"))
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .toPandas()["count"]
    )
    fair = 240 / n_parts
    assert sizes.max() <= max(3 * fair, fair + 8)   # no straggler partition
    assert len(sizes) >= min(n_parts, 240) * 0.5    # actually spread out


def test_domain_histogram_matches_naive_and_spreads_hot_domain(spark,
                                                               skewed_pages):
    got = P.domain_histogram(skewed_pages, salt="auto").toPandas()
    want = (
        skewed_pages.select(
            P._domain_col().alias("domain"), F.length("html").alias("b")
        )
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("pages"), F.sum("b").alias("bytes"))
        .toPandas()
    )
    key = lambda df: df.sort_values("domain").reset_index(drop=True)
    pd.testing.assert_frame_equal(key(got), key(want), check_dtype=False)

    # the observe evidence is attached to the auto plan
    plan = P._resolve_salt(skewed_pages, "auto")[0]._jdf.queryExecution() \
        .analyzed().toString()
    assert "domain_salt" in plan

    # stage-1 bounded key really spreads the hot domain over the buckets
    salt, _ = P.derive_salt(skewed_pages, sample_fraction=0.5)
    buckets = (
        skewed_pages.select(
            P._domain_col().alias("domain"),
            F.pmod(F.xxhash64("url"), F.lit(int(salt))).alias("bucket"),
        )
        .where(F.col("domain") == "hot.example.com")
        .select("bucket")
        .distinct()
        .count()
    )
    assert buckets >= salt // 2

