"""IR evaluation metrics as DataFrame aggregations (SURVEY.md §2.4 A5-A7).

Exact reference semantics preserved (``notebooks/utils.py``):

- Relevance is **membership** in qrels, regardless of grade — even
  grade 0 counts (``002-brute_force_similarity.py:311-314``; P5).
- Recall@K (``utils.py:15-46``): per query |top-K ∩ relevant| /
  |relevant|; queries with zero relevant docs are SKIPPED from the
  mean; 0.0 if no query qualifies.
- Precision@K (``utils.py:49-82``): per query |top-K ∩ relevant| /
  |retrieved@K| (NOT /K — the denominator is what was actually
  retrieved, capped at K); empty retrieval → 0.0; mean over ALL
  searched queries.
- MRR (``utils.py:85-110``): 1/rank of first relevant, 0.0 when no
  relevant doc retrieved; mean over ALL searched queries.

One pass, like the reference's single loop over each ranked list:
qrels are deduped on (query_id, doc_id) once and broadcast, top-k
rows left-join them, and ONE ``groupBy("query_id")`` yields the first
relevant rank plus |retrieved@K| and |hits@K| as conditional counts
for every K. Every metric is then one global aggregate over that
per-query frame, unpivoted to (metric, k, value) — no K dimension
table, no cross join. No UDFs, no collect; metrics run on search
OUTPUT (k·Q rows), never the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

K_VALUES_RECALL = (1, 5, 10, 20, 50, 100)
K_VALUES_PRECISION = (1, 5, 10)
K_VALUES_NDCG = (5, 10, 100)


def _per_query(topk: DataFrame, qrels: DataFrame, k_values) -> DataFrame:
    """One row per SEARCHED query: ``first_rank`` (NULL when nothing
    relevant was retrieved), ``ret_K`` = |retrieved@K| and ``hit_K`` =
    |top-K ∩ relevant| for every K, and ``n_relevant`` (NULL when the
    query has no judgments — the recall skip rule)."""
    rel = qrels.select("query_id", "doc_id").distinct()
    n_rel = rel.groupBy("query_id").agg(F.count("doc_id").alias("n_relevant"))
    hit = F.col("__rel")
    aggs = [F.min(F.when(hit, F.col("rank"))).alias("first_rank")]
    for k in dict.fromkeys(k_values):
        within = F.col("rank") <= k
        aggs.append(F.count(F.when(within, 1)).alias(f"ret_{k}"))
        aggs.append(F.count(F.when(within & hit, 1)).alias(f"hit_{k}"))
    return (
        topk.join(
            F.broadcast(rel.withColumn("__rel", F.lit(True))),
            ["query_id", "doc_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(*aggs)
        .join(F.broadcast(n_rel), "query_id", "left")
    )


def _row(metric: str, k: int | None, value: Column) -> Column:
    return F.struct(
        F.lit(metric).alias("metric"),
        F.lit(k).cast("int").alias("k"),
        value.alias("value"),
    )


def _unpivot(per_query: DataFrame, rows: list[Column], round_to: int | None) -> DataFrame:
    """ONE global aggregate over the per-query frame, one output row
    per metric struct: (metric STRING, k INT, value DOUBLE)."""
    out = per_query.agg(F.array(*rows).alias("__m")).select(F.inline("__m"))
    if round_to is not None:
        out = out.withColumn("value", F.round("value", round_to))
    return out


def _report(
    topk: DataFrame,
    qrels: DataFrame,
    k_values_recall: tuple[int, ...] = (),
    k_values_precision: tuple[int, ...] = (),
    with_mrr: bool = False,
    round_to: int | None = 6,
) -> DataFrame:
    per_query = _per_query(topk, qrels, (*k_values_recall, *k_values_precision))
    # recall: unjudged queries divide by NULL and drop out of the mean
    rows = [
        _row("recall", k, F.coalesce(
            F.avg(F.col(f"hit_{k}") / F.col("n_relevant")), F.lit(0.0)
        ))
        for k in k_values_recall
    ]
    rows += [
        _row("precision", k, F.avg(
            F.when(F.col(f"ret_{k}") == 0, F.lit(0.0))
            .otherwise(F.col(f"hit_{k}") / F.col(f"ret_{k}"))
        ))
        for k in k_values_precision
    ]
    if with_mrr:
        rows.append(_row("mrr", None, F.avg(
            F.coalesce(F.lit(1.0) / F.col("first_rank"), F.lit(0.0))
        )))
    # empty top-k: no searched query to average, so no precision rows
    # (MRR stays one NULL row, recall its 0.0 fallback)
    return _unpivot(per_query, rows, round_to).filter(
        (F.col("metric") != "precision") | F.col("value").isNotNull()
    )


def _by_k(report: DataFrame, name: str) -> DataFrame:
    return report.select("k", F.col("value").alias(name)).orderBy("k")


def recall_at_k(
    topk: DataFrame,
    qrels: DataFrame,
    k_values: tuple[int, ...] = K_VALUES_RECALL,
    round_to: int | None = 6,
) -> DataFrame:
    """Returns (k INT, recall DOUBLE), one row per K, ordered by k —
    ALWAYS one row per K: when no searched query has judgments (the
    skip rule removes everyone) recall is 0.0, the reference's
    documented fallback (``utils.py:15-46``), not an empty frame."""
    return _by_k(
        _report(topk, qrels, k_values_recall=k_values, round_to=round_to), "recall"
    )


def precision_at_k(
    topk: DataFrame,
    qrels: DataFrame,
    k_values: tuple[int, ...] = K_VALUES_PRECISION,
    round_to: int | None = 6,
) -> DataFrame:
    """Returns (k INT, precision DOUBLE). Denominator is
    |retrieved@K| = count of result rows with rank ≤ K (``utils.py:74-79``)."""
    return _by_k(
        _report(topk, qrels, k_values_precision=k_values, round_to=round_to),
        "precision",
    )


def mrr(
    topk: DataFrame, qrels: DataFrame, round_to: int | None = 6
) -> DataFrame:
    """Returns a single row (mrr DOUBLE). 1/first-relevant-rank per
    query, zero-filled for queries with no relevant retrieval."""
    return _report(topk, qrels, with_mrr=True, round_to=round_to).select(
        F.col("value").alias("mrr")
    )


def evaluation_report(
    topk: DataFrame,
    qrels: DataFrame,
    k_values_recall: tuple[int, ...] = K_VALUES_RECALL,
    k_values_precision: tuple[int, ...] = K_VALUES_PRECISION,
) -> DataFrame:
    """Long-form metric report: (metric STRING, k INT, value DOUBLE) —
    the relational shape of the reference's nested report JSON
    (``utils.py:113-135``)."""
    return _report(topk, qrels, k_values_recall, k_values_precision, with_mrr=True)


def ndcg_at_k(
    topk: DataFrame,
    qrels: DataFrame,
    k_values: tuple[int, ...] = K_VALUES_NDCG,
    round_to: int | None = 6,
) -> DataFrame:
    """nDCG@K over the GRADED judgments — the metric the reference's
    qrels carry grades for but its utils never compute (beyond-
    reference member; BEIR's headline metric, Järvelin & Kekäläinen
    gains): per query DCG@K = Σ (2^rel − 1)/log2(rank+1) over judged
    hits, normalized by the ideal DCG of that query's own judgment
    set, mean over searched-and-judged queries (the A5 skip rule).

    Same one-pass shape as A5-A7: per-query DCG@K and IDCG@K are
    conditional sums in one ``groupBy("query_id")`` each, then one
    global aggregate. Returns (k INT, ndcg DOUBLE) ordered by k; a K
    no searched query can score (no judged query, or all grade 0)
    has no row.

    qrels are deduped on (query_id, doc_id) first — duplicate
    judgment rows (merged/updated qrels files) would otherwise
    double-count in BOTH the DCG join and the ideal ranking. Grade
    conflicts resolve to MAX (a doc's strongest judgment wins); the
    oracle restates the same rule."""
    graded = qrels.groupBy("query_id", "doc_id").agg(
        F.max("relevance").alias("relevance")
    )
    gain = F.pow(F.lit(2.0), F.col("relevance").cast("double")) - F.lit(1.0)

    def sums(pos: str, prefix: str) -> list[Column]:
        disc = gain / F.log2(F.col(pos) + F.lit(1.0))
        return [
            F.sum(F.when(F.col(pos) <= k, disc)).alias(f"{prefix}_{k}")
            for k in k_values
        ]

    dcg = (
        topk.join(F.broadcast(graded), ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(*sums("rank", "dcg"))
    )
    iw = Window.partitionBy("query_id").orderBy(
        F.desc("relevance"), F.asc("doc_id")
    )
    ideal = (
        graded.withColumn("__ir", F.row_number().over(iw))
        .groupBy("query_id")
        .agg(*sums("__ir", "idcg"))
    )
    # all-grade-0 judgment sets have idcg == 0: skipped, explicitly —
    # ANSI mode (Spark 4 default) makes 0/0 an error, not a null
    rows = [
        _row("ndcg", k, F.avg(
            F.when(
                F.col(f"idcg_{k}") > 0,
                F.coalesce(F.col(f"dcg_{k}"), F.lit(0.0)) / F.col(f"idcg_{k}"),
            )
        ))
        for k in k_values
    ]
    per_query = dcg.join(F.broadcast(ideal), "query_id")
    out = _unpivot(per_query, rows, round_to).filter(F.col("value").isNotNull())
    return _by_k(out, "ndcg")
