"""The group-size guard shared by every group-local kernel
(hadoop_distexec_spark/functions/group_local.py): its two stages, its
job count on the common path, and every caller's forced fallback."""

from __future__ import annotations

import collections

import pytest

from hadoop_distexec_spark.functions import group_local
from hadoop_distexec_spark.functions.group_local import BOUNDS, pin_if_groups_fit
from tests.conftest import SF_SMALL

# registered ids whose guard reads each bound
FALLBACK_IDS = {
    "cc": ["q_dedup_groups", "q_semantic_dedup_groups"],
    "lpa": ["q_label_prop"],
    "kcore": ["q_kcore_audit"],
    "triangles": ["q_triangle_count"],
    "order_stats": ["q_robust_stats", "q_agg_percentile"],
}


def _groups(spark, sizes):
    rows = [(g, i) for g, n in enumerate(sizes) for i in range(n)]
    return spark.createDataFrame(rows, "g int, i int")


@pytest.mark.parametrize("name", sorted(BOUNDS))
def test_forced_fallback_is_identical(spark, monkeypatch, name):
    """A bound of 0 makes every group oversized: each caller of the bound
    must take its distributed fallback and return exactly the rows of
    its group-local fast path."""
    from hadoop_distexec_spark.registry import specs

    seen = []

    def spy(df, key, bound_name):
        pinned, fits = pin_if_groups_fit(df, key, bound_name)
        seen.append((bound_name, fits))
        return pinned, fits

    monkeypatch.setattr(group_local, "pin_if_groups_fit", spy)
    for qid in FALLBACK_IDS[name]:
        fn = specs()[qid].fn
        seen.clear()
        fast = collections.Counter(fn(spark, SF_SMALL).collect())
        assert (name, True) in seen, qid
        with monkeypatch.context() as m:
            m.setitem(BOUNDS, name, 0)
            seen.clear()
            slow = collections.Counter(fn(spark, SF_SMALL).collect())
            assert (name, False) in seen, qid
        assert fast == slow, qid


def test_over_bound_total_with_small_groups_fits(spark, monkeypatch):
    """A total over the bound pays the per-key max; groups each within
    the bound still fit, and one group over it does not."""
    monkeypatch.setitem(BOUNDS, "cc", 2)
    _, fits = pin_if_groups_fit(_groups(spark, [2, 2, 1]), "g", "cc")
    assert fits
    _, fits = pin_if_groups_fit(_groups(spark, [2, 3]), "g", "cc")
    assert not fits


def test_common_path_runs_one_job(spark):
    """Within the bound the guard costs only the checkpoint's own job."""
    sc = spark.sparkContext
    df = _groups(spark, [3, 4])
    sc.setJobGroup("pin_if_groups_fit-common", "guard job count")
    try:
        pinned, fits = pin_if_groups_fit(df, "g", "cc")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert fits
    assert len(sc.statusTracker().getJobIdsForGroup("pin_if_groups_fit-common")) == 1
    assert pinned.count() == 7


def test_empty_frame_fits(spark, monkeypatch):
    monkeypatch.setitem(BOUNDS, "cc", 0)
    _, fits = pin_if_groups_fit(_groups(spark, []), "g", "cc")
    assert fits
