"""The driver-window rotation (plans/registry.ordered_query_names) is
load-bearing: the first 50 names are the ONLY queries the driver's
CORRECTNESS artifact checks this round.  Pin its invariants so a
refactor can't silently starve a query of driver proof."""

from __future__ import annotations

from fiware_cosmos_orion_flink_connector_examples_spark.plans import registry


def test_rotation_is_a_permutation():
    order = registry.ordered_query_names()
    assert sorted(order) == sorted(registry.QUERIES)
    assert len(order) == len(set(order))


def test_rotation_priority_classes():
    """changed-last-round first, then never-checked (whether registered
    in a prior round or this one — a query ships WITH its driver proof),
    then ascending last-green round."""
    order = registry.ordered_query_names()
    hist = registry._round_history()
    changed = [n for n in registry.CHANGED_LAST_ROUND if n in registry.QUERIES]
    assert order[: len(changed)] == changed
    rest = order[len(changed) :]
    classes = [0 if n not in hist else 1 for n in rest]
    assert classes == sorted(classes), "class order violated"
    rounds = [hist[n] for n in rest if n in hist]
    assert rounds == sorted(rounds), "least-recently-green order violated"


def test_window_plus_history_covers_everything():
    """Every query is either in this round's 50-window or has a prior
    driver row — the union of artifacts after this round covers the
    whole registry."""
    order = registry.ordered_query_names()
    hist = registry._round_history()
    window = set(order[:50])
    uncovered = [n for n in order if n not in window and n not in hist]
    assert uncovered == []


def test_round_history_reads_artifacts():
    """Sanity on the artifact parser: rounds 1-4 are committed, so the
    history must be non-empty, hold plausible round numbers, and count
    hash-passes and rows-only-by-design rows but never failures."""
    hist = registry._round_history()
    assert len(hist) >= 90
    assert all(1 <= r <= 99 for r in hist.values())
    # r3's seven NTZ failures were re-proved green in r4
    assert hist["ngsi_window_min"] >= 4
