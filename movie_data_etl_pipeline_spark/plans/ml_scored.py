"""Shared scored-orders cumulative relation for the ML-evaluation
query family.

Five registry queries (``ml_auc_mw``, ``ml_gains_deciles``,
``ml_gini_stump``, ``ml_calibration``, ``ml_pr_curve``) evaluate the
SAME scored relation — score = order total in exact integer cents,
label = order fulfilled — and each used to rebuild the scan → histogram
→ range-repartition → checkpoint chain. This module builds
``ml_eval.score_cum_relation`` ONCE per (SparkSession, sf_dir)
(``session.per_session``, like ``plans/graph_edges``) and every metric
derives its view map-side: descending prefixes are
``tot − asc_prefix − own``, so no metric ever pays a second sort.

At 100 TB the shared relation is |distinct scores| rows behind one
shuffle of the fact table — the family's cost is one pass over orders
regardless of how many metrics read it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import scalar as SC
from movie_data_etl_pipeline_spark.operators import ml_eval
from movie_data_etl_pipeline_spark.session import per_session
from movie_data_etl_pipeline_spark.sources import load_table


@per_session
def orders_score_cum(spark: SparkSession, sf: str) -> DataFrame:
    """The wave-34 scored relation (score = o_totalprice in exact cents,
    label = o_orderstatus = 'F') as a cached
    :func:`ml_eval.score_cum_relation`."""
    o = load_table(spark, sf, "orders")
    scored = o.select(
        SC.cents("o_totalprice").alias("score"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    return ml_eval.score_cum_relation(scored, F.col("score"), F.col("label"))
