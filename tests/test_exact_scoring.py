"""The exact pair-scoring stage of similarity.py (_carry / _pair_dot /
_pair_cos): the flat multiply-add chain and the array-fold fallback
give the same rows, the fold is what a streaming frame gets, and the
flat unpack enforces the fixed-dim vector contract with a named error.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from financial_data_science_spark.functions import similarity as SIM
from financial_data_science_spark.sources.testdata import load_table
from tests.test_plans import SF  # the sf0.001 table set


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


def _cosine_topk(spark, emb):
    return SIM.cosine_topk(emb.filter("vec_id < 5"), emb, k=3)


def _rerank(metric):
    def run(spark, emb):
        cand = SIM.cosine_topk(emb.filter("vec_id < 5"), emb, k=10).select(
            "query_id", "neighbor_id"
        )
        return SIM.rerank_exact(cand, emb, k=3, metric=metric)

    return run


def _embedding_near_dups(spark, emb):
    return SIM.embedding_near_dups(emb, threshold=0.2)


def _hard_negative_mining(spark, emb):
    from financial_data_science_spark.queries import Q

    return Q["hard_negative_mining"](spark, SF)


@pytest.mark.parametrize(
    "run",
    [
        _cosine_topk,
        _rerank("cosine"),
        _rerank("l2"),
        _embedding_near_dups,
        _hard_negative_mining,
    ],
    ids=[
        "cosine_topk",
        "rerank_exact_cosine",
        "rerank_exact_l2",
        "embedding_near_dups",
        "hard_negative_mining",
    ],
)
def test_fold_fallback_matches_flat(spark, monkeypatch, run):
    emb = load_table(spark, SF, "embeddings")
    assert SIM._vec_dim(emb, "embedding") > 0  # the flat path runs here
    flat = _rows(run(spark, emb))
    monkeypatch.setattr(SIM, "_vec_dim", lambda df, vec_col: 0)
    fold = _rows(run(spark, emb))
    assert fold == flat and len(flat) > 0


def test_vec_dim_is_zero_on_streaming_frame(spark):
    stream = spark.readStream.format("rate").load().select(
        F.array(F.col("value").cast("double")).alias("embedding")
    )
    assert SIM._vec_dim(stream, "embedding") == 0


def _score_all_pairs(fn, corpus):
    if fn == "cosine_topk":
        return SIM.cosine_topk(corpus, corpus, k=4)
    ids = corpus.select("vec_id")
    cand = (
        ids.withColumnRenamed("vec_id", "query_id")
        .crossJoin(ids.withColumnRenamed("vec_id", "neighbor_id"))
        .filter("query_id != neighbor_id")
    )
    return SIM.rerank_exact(cand, corpus, k=4)


def _corpus(spark, row2):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 1.0]), (2, row2), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )


@pytest.mark.parametrize("row2", [[1.0, 0.0, 5.0], [0.5]], ids=["longer", "shorter"])
@pytest.mark.parametrize("fn", ["cosine_topk", "rerank_exact"])
def test_fixed_dim_contract_raises_named_error(spark, fn, row2):
    """A vector whose length differs from the peeked dim breaks the
    fixed-dim contract of the flat unpack: the error says so, with the
    column, the expected dim and the length found."""
    with pytest.raises(Exception) as err:
        _score_all_pairs(fn, _corpus(spark, row2)).collect()
    msg = str(err.value)
    assert "fixed-dim vector contract" in msg, msg
    assert (
        "column 'embedding' holds vectors of dim 2, "
        f"found one of length {len(row2)}"
    ) in msg


@pytest.mark.parametrize("fn", ["cosine_topk", "rerank_exact"])
def test_null_vector_keeps_null_score(spark, fn):
    out = _score_all_pairs(fn, _corpus(spark, None)).collect()
    assert out and all(
        (r["score"] is None) == (2 in (r["query_id"], r["neighbor_id"]))
        for r in out
    )
