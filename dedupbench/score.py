"""Pair precision and recall of a clustering against planted truth.

A pair is two distinct ids in the same cluster. Counting goes through
the truth x output contingency table, so no pair set is materialised:
true pairs inside cell (t, o) number C(n_to, 2).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Hashable, Mapping


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_counts(truth: Mapping[Hashable, Hashable],
                output: Mapping[Hashable, Hashable]) -> tuple[int, int, int]:
    """(pairs in both, truth pairs, output pairs); both map id ->
    cluster label and must cover the same ids."""
    if truth.keys() != output.keys():
        raise ValueError(
            f"id sets differ: {len(truth.keys() - output.keys())} missing, "
            f"{len(output.keys() - truth.keys())} unexpected")
    true_pairs = sum(_pairs(n) for n in Counter(truth.values()).values())
    out_pairs = sum(_pairs(n) for n in Counter(output.values()).values())
    both = sum(_pairs(n) for n in
               Counter((truth[i], output[i]) for i in truth).values())
    return both, true_pairs, out_pairs


def ratios(both: int, true_pairs: int, out_pairs: int) -> tuple[float, float]:
    """(recall, precision); a side with no pairs scores 1.0."""
    recall = both / true_pairs if true_pairs else 1.0
    precision = both / out_pairs if out_pairs else 1.0
    return recall, precision


def pair_scores(truth: Mapping[Hashable, Hashable],
                output: Mapping[Hashable, Hashable]) -> tuple[float, float]:
    """(recall, precision) of ``output`` against ``truth``."""
    return ratios(*pair_counts(truth, output))
