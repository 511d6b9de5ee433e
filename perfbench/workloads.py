"""The benchmark's workloads: which declared queries run, at what scale.

Each workload is one closed-loop client: queries are submitted one at a
time from one thread, in the order listed, and the next query starts
only after the previous result has been collected. Every workload runs
the same passes over its list (``client.PASSES``): cold, then warm and
again after the public release calls, ``client.CYCLES`` times.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    queries: tuple[str, ...]


# Declared queries of ``__spark_entry__.queries()``, in declared order:
# the every-36th stride sample of the surface as declared when the
# benchmark was written, without the three that are not dominated by fixed
# cost (coverage builds the recommender memo; ivfsq_ann_topk and
# source_overlap spend over a second in each warm pass). Fixed here so
# that a later reordering of the surface does not change the workload.
_SURFACE_SAMPLE = (
    "join_size_lineitem_part", "q_revenue_streaks", "q1_pricing_summary",
    "q15_top_supplier", "shipping_sla_compliance",
)

# The reference's usage notebook, cut to fit a run: queries that write a
# session memo and queries that read it (the _synth_recs memo behind
# coverage, the item-item pairs, the near-duplicate components).
_NOTEBOOK = (
    "coverage", "item_item_topk", "item_based_recommendations",
    "neardup_components", "soft_dedup_weights",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload("surface-floor", "0.001", _SURFACE_SAMPLE),
        Workload("notebook-reuse", "0.001", _NOTEBOOK),
    )
}


def resolve(workload: Workload, declared: dict) -> list:
    """(name, callable) pairs for the workload, in its order.

    Raises ``ValueError`` naming every unknown query and the declared
    names, so a stale list fails at start-up rather than mid-run.
    """
    unknown = [q for q in workload.queries if q not in declared]
    if unknown:
        raise ValueError(
            f"workload {workload.name!r} names undeclared queries "
            f"{unknown}; declared queries are: {', '.join(declared)}"
        )
    return [(q, declared[q]) for q in workload.queries]
