"""Round-12 ADVICE regression tests: the perplexity corpus total over
NULL texts and an empty corpus, and spread_scan over a map nested in a
struct or array."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from atlassian_confluence_data_pipeline_spark.operators.skew import spread_scan
from atlassian_confluence_data_pipeline_spark.plans.pretrain import (
    interpolated_lm_perplexity,
)

DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"
TEXTS = [
    "the cat sat on the mat",
    "the dog sat on the log",
    "a cat and a dog met on the mat",
]


def _write_docs(spark, path, rows):
    spark.createDataFrame(rows, DOCS_SCHEMA).coalesce(1).write.parquet(
        f"{path}/documents.parquet"
    )
    return str(path)


def _scores(spark, sf_dir):
    return sorted(tuple(r) for r in interpolated_lm_perplexity(spark, sf_dir).collect())


@contextmanager
def _confs(spark, **confs):
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize("legacy_size_of_null", ["false", "true"])
def test_perplexity_null_text_counts_zero_words(spark, tmp_path, legacy_size_of_null):
    """A NULL text has no tokens: it neither scores nor shifts the
    corpus total, so every other document scores as if it were absent.
    size() of a NULL array is NULL under ANSI and -1 under the legacy
    non-ANSI sizeOfNull behaviour; both must count as 0 words."""
    rows = [(i + 1, t, "en", "web", len(t)) for i, t in enumerate(TEXTS)]
    clean = _write_docs(spark, tmp_path / "clean", rows)
    with_null = _write_docs(
        spark, tmp_path / "null", rows + [(99, None, "en", "web", 0)]
    )
    ansi = "false" if legacy_size_of_null == "true" else "true"
    with _confs(
        spark,
        **{
            "spark.sql.ansi.enabled": ansi,
            "spark.sql.legacy.sizeOfNull": legacy_size_of_null,
        },
    ):
        got = _scores(spark, with_null)
        assert got == _scores(spark, clean)
    assert 99 not in {r[0] for r in got}


def test_perplexity_empty_corpus_is_empty(spark, tmp_path):
    sf_dir = _write_docs(spark, tmp_path / "empty", [])
    assert interpolated_lm_perplexity(spark, sf_dir).count() == 0


def test_spread_scan_skips_maps_nested_in_structs_and_arrays(spark, tmp_path):
    """xxhash64 rejects a map anywhere inside a column's type, so the
    spread key must leave out struct<map> and array<map> columns."""
    p = str(tmp_path / "nested.parquet")
    spark.range(200).select(
        "id",
        F.struct(F.create_map(F.lit("k"), F.col("id")).alias("m")).alias("s"),
        F.array(F.create_map(F.lit("k"), F.col("id"))).alias("a"),
    ).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert df.rdd.getNumPartitions() == 1
    out = spread_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(200))
