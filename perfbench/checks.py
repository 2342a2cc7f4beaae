"""Output checks and planted-truth quality for one pass's clusters.

``clusters`` is the pipeline's output as pandas: one row per clustered
conversation with ``conv_id``, ``cluster_id`` and ``is_representative``.
"""

from __future__ import annotations

from collections import Counter


def check_clusters(
    clusters,
    conv_ids: set[str],
    assembled: list[str] | None = None,
    groups: dict[str, int] | None = None,
) -> list[str]:
    """Names of the checks the output fails; empty when it is correct.

    - every assembled conversation appears exactly once: in ``assembled``
      (the pass's conversations stage, when it has one) and in the clusters;
      both hold only conversations of the input;
    - each cluster has exactly one representative;
    - ``cluster_id`` is the minimum ``conv_id`` of its cluster;
    - ``groups`` (chains): the clusters are exactly these groups, given as
      the expected member count of each expected cluster id.
    """
    errors = []
    if assembled is not None and (
        len(assembled) != len(set(assembled)) or set(assembled) != conv_ids
    ):
        errors.append("assembled conversations are not the input, once each")
    ids = clusters["conv_id"]
    if ids.duplicated().any():
        errors.append("a conversation appears in more than one cluster row")
    if not set(ids) <= conv_ids:
        errors.append("clusters hold conversations not in the input")
    by_cluster = clusters.groupby("cluster_id")
    if not (by_cluster["is_representative"].sum() == 1).all():
        errors.append("a cluster does not have exactly one representative")
    mins = by_cluster["conv_id"].min()
    if not (mins.index == mins.values).all():
        errors.append("a cluster_id is not its cluster's minimum conv_id")
    if groups is not None and by_cluster.size().to_dict() != groups:
        errors.append("clusters are not exactly the planted paths")
    return errors


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_quality(clusters, truth: dict[str, str]) -> tuple[float, float]:
    """(recall, precision) of the planted pairs against the clusters.

    recall = planted pairs that share a cluster / planted pairs;
    precision = planted pairs that share a cluster / all pairs the clusters
    imply. Conversations absent from ``clusters`` are singletons."""
    planted = sum(_pairs(n) for n in Counter(truth.values()).values())
    implied = sum(_pairs(n) for n in Counter(clusters["cluster_id"]).values())
    shared = Counter(
        (truth.get(c, c), k) for c, k in zip(clusters["conv_id"], clusters["cluster_id"])
    )
    found = sum(_pairs(n) for n in shared.values())
    recall = found / planted if planted else 1.0
    precision = found / implied if implied else 1.0
    return recall, precision
