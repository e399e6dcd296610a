"""Distributed n-gram language model: train + perplexity scoring.

The CCNet-style corpus-quality signal (Wenzek et al., "CCNet: Extracting
High Quality Monolingual Datasets from Web Crawl Data", 2019): train a
small LM on a trusted corpus, score every crawl document, and filter or
stratify on perplexity. KenLM is a C++ dependency; at cluster scale the
model itself is better expressed as a DataFrame of counts — training is
two hash aggregations and scoring is two equi-joins, all JVM-side.

Model: add-alpha-smoothed bigram over the engine's shared whitespace
tokenization (operators/exprutil.tokens), BOS/EOS framed::

    p(w2 | w1) = (c(w1, w2) + alpha) / (ctx(w1) + alpha * V)

where ctx(w1) = sum_w2 c(w1, w2) and V = |distinct target words|.
Unseen bigrams and unseen contexts degrade smoothly to alpha / (alpha*V)
= 1/V. Scores are exact and deterministic — no sampling, no hashing —
so a SQL engine can replay them (the driver oracle does).

Scale shape (10^12 docs scored against a 10^6..10^8-row model):

* training: one explode + one (w1, w2) groupBy — map-side partial
  aggregation absorbs the per-doc repetition before the shuffle.
* scoring: doc bigrams left-join the model on (w1, w2) and the context
  table on w1 (both plain equi-joins — broadcastable when the model is
  small, shuffled otherwise; AQE decides), then one per-doc aggregation.
  The 1-row vocab-size frame rides along as a broadcast nested loop.
* the model for a 100 TB trusted corpus prunes with ``min_count`` —
  singleton bigrams dominate the tail and contribute ~alpha anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .exprutil import bind_once, tokens

__all__ = ["train_bigram_lm", "perplexity", "collocations", "BOS", "EOS"]

BOS = "<s>"
EOS = "</s>"


def _doc_bigrams(docs: DataFrame, doc_id: str, text_col: str) -> DataFrame:
    """(doc_id, w1, w2) — one row per BOS/EOS-framed bigram occurrence.

    The frame guarantees >= 1 bigram per document (empty or NULL text
    scores the single <s> -> </s> transition), so perplexity never
    divides by zero and never silently drops a document.
    """
    docs = docs.withColumn(text_col, F.coalesce(F.col(text_col), F.lit("")))
    frame = F.concat(F.array(F.lit(BOS)), tokens(text_col), F.array(F.lit(EOS)))
    pairs = bind_once(
        frame,
        lambda f: F.transform(
            F.sequence(F.lit(1), F.size(f) - 1),
            lambda i: F.struct(
                F.element_at(f, i).alias("w1"),
                F.element_at(f, i + 1).alias("w2"),
            ),
        ),
    )
    return docs.select(
        F.col(doc_id).alias("doc_id"), F.explode(pairs).alias("bg")
    ).select("doc_id", "bg.w1", "bg.w2")


def train_bigram_lm(
    docs: DataFrame,
    doc_id: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Bigram count model (w1, w2, c) from a training corpus.

    ``min_count`` drops rare bigrams AFTER counting (the 100 TB pruning
    knob — the smoothed score of a dropped bigram degrades to the unseen
    case). Context sums and vocab size are derived from THIS table at
    scoring time, so pruning lowers ctx(w1) consistently and the model
    stays self-normalizing over its pruned support + smoothing mass.
    """
    counts = (
        _doc_bigrams(docs, doc_id, text_col)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if min_count > 1:
        counts = counts.where(F.col("c") >= F.lit(min_count))
    return counts


def perplexity(
    docs: DataFrame,
    model: DataFrame,
    alpha: float = 0.1,
    doc_id: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """(doc_id, n_bigrams, logprob, ppl) for every document.

    logprob = sum ln p(w2|w1) over the doc's framed bigrams (rounded to
    ``round_to`` decimals), ppl = exp(-logprob / n_bigrams). Lower ppl =
    more like the training corpus.

    The model frame feeds THREE consumers (the bigram join, the context
    sums, the vocab size) — without a persist Spark recomputes the
    training aggregation, i.e. re-scans the training corpus, once per
    consumer (verified in the physical plan: the (w1, w2) exchange
    appeared twice). It is persisted here; callers scoring repeatedly
    against one model should pass an already-persisted frame and
    unpersist it when done.
    """
    model = model.persist()
    ctx = model.groupBy("w1").agg(F.sum("c").alias("ctx_c"))
    vocab = model.agg(F.countDistinct("w2").alias("v"))
    bg = _doc_bigrams(docs, doc_id, text_col)
    scored = (
        bg.join(model, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .crossJoin(vocab)
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)).cast("double") + F.lit(alpha))
                / (
                    F.coalesce(F.col("ctx_c"), F.lit(0)).cast("double")
                    + F.lit(alpha) * F.col("v").cast("double")
                )
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("lp"), round_to).alias("logprob"),
        F.round(F.exp(-F.sum("lp") / F.count(F.lit(1))), round_to).alias("ppl"),
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 50,
    doc_id: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Top-k word pairs by pointwise mutual information: (w1, w2, c,
    pmi) — the corpus-exploration primitive behind tokenizer-merge
    inspection and multi-word-entity discovery.

        pmi(w1, w2) = ln( c(w1,w2) * N / (c1(w1) * c2(w2)) )

    over INTERIOR bigrams (BOS/EOS frames excluded: a sentence-start
    marker is not a collocate), where N is the total interior-bigram
    count, c1 counts w1 as a left element and c2 counts w2 as a right
    element. ``min_count`` suppresses the classic PMI singleton
    artifact (rare pairs saturating the top of the list).

    Shape: the bigram stream aggregates once on (w1, w2); marginals are
    two window counts over that already-aggregated (small) stream — NOT
    separate re-aggregations of the corpus; N rides along as a 1-row
    broadcast. Ties break on (w1, w2) for a deterministic top-k.
    """
    from pyspark.sql import Window

    bg = _doc_bigrams(docs, doc_id, text_col).where(
        (F.col("w1") != BOS) & (F.col("w2") != EOS)
    )
    # persisted: the window chain and the N aggregate are two consumers —
    # without it each re-runs the corpus-wide bigram aggregation (same
    # plan-verified pattern as perplexity's model frame)
    pairs = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")).persist()
    pairs = pairs.withColumn(
        "c1", F.sum("c").over(Window.partitionBy("w1"))
    ).withColumn("c2", F.sum("c").over(Window.partitionBy("w2")))
    total = pairs.agg(F.sum("c").alias("n_total"))
    scored = (
        pairs.where(F.col("c") >= F.lit(int(min_count)))
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c",
            F.round(
                F.log(
                    F.col("c").cast("double")
                    * F.col("n_total").cast("double")
                    / (F.col("c1").cast("double") * F.col("c2").cast("double"))
                ),
                round_to,
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(
            F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(k)
    )
