"""Routing joins (SURVEY.md §2.5 J1-J5).

The reference does join-shaped logic with SQL lookups + Python set ops
(pa_etl_script.py:68-101; FetchFileListLambda/index.py:75-118). Here they
are real Spark joins; the dimension side is tiny, so every join broadcasts
— zero shuffle of the fact table at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def route_to_clusters(
    facts: DataFrame,
    opco_cluster: DataFrame,
    on: str = "opco_id",
    cluster_col: str = "cluster_id",
    invalid_label: str = "invalid",
) -> DataFrame:
    """J1: opco→cluster routing as a broadcast left join.

    Rows whose key misses the dimension get ``invalid_label`` — the
    reference's invalid bucket (pa_etl_script.py:83-98). Output = facts +
    ``cluster_id`` column; per-cluster slices are then cheap filters (F12).
    """
    dim = opco_cluster.select(on, cluster_col)
    return facts.join(broadcast(dim), on=on, how="left").withColumn(
        cluster_col, F.coalesce(F.col(cluster_col), F.lit(invalid_label))
    )


def semi_join_members(facts: DataFrame, members: DataFrame, on: str) -> DataFrame:
    """J2: set-membership as a broadcast left-semi join (validator.py:9
    list form; this scales past in-memory lists)."""
    return facts.join(broadcast(members.select(on).distinct()), on=on, how="left_semi")


def anti_join_quarantine(facts: DataFrame, bad: DataFrame, on: str) -> DataFrame:
    """J3: quarantine as a broadcast left-anti join (validator.py:28-32)."""
    return facts.join(broadcast(bad.select(on).distinct()), on=on, how="left_anti")


def set_difference(left: DataFrame, right: DataFrame, on: str) -> DataFrame:
    """J4: failure attribution — keys in ``left`` not in ``right``
    (TakeBackupDecisionLambda/index.py:110 set difference)."""
    return (
        left.select(on)
        .distinct()
        .join(broadcast(right.select(on).distinct()), on=on, how="left_anti")
    )
