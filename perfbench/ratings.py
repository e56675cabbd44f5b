"""Seeded ratings CSV in the reference's 11-field format.

Each line is ``tag,user,product,rating`` followed by seven scaffolding
fields the engine's reader ignores (the reference's spreadsheet
columns). Ratings carry the planted two-block structure of the
package's fixture: odd users rate the lower half of the product ids 5
and the upper half 1, even users the reverse, and a :data:`NOISE` share
of cells moves one step toward the middle (5 -> 4, 1 -> 2).

Products are drawn per user without replacement, so ``(user, product)``
pairs are unique. Popularity follows Zipf(``skew``) over a seeded
permutation of the product ids (so popularity is independent of the
block structure); ``skew=0`` is uniform. Each row is tagged ``V``
(validation) with probability ``validation_share``, else ``I``; a
``cold_share`` of the validation rows rate a product new to the catalog
(an id above ``products`` that no training row has), a cold start that
ALS drops from its predictions.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

NOISE = 0.13  # the fixture's share of off-block ratings


@dataclass(frozen=True)
class RatingsSpec:
    users: int
    products: int
    ratings_per_user: int
    skew: float
    validation_share: float
    cold_share: float


def _draw_products(rng: np.random.Generator, spec: RatingsSpec) -> np.ndarray:
    """(users, ratings_per_user) 1-based product ids, distinct within a
    row, drawn with probability proportional to popularity: draws with
    replacement by inverse CDF, keeping each row's first distinct ids."""
    ranks = rng.permutation(spec.products) + 1  # popularity rank per product
    cdf = np.cumsum(ranks.astype(np.float64) ** -spec.skew)
    cdf /= cdf[-1]
    k = spec.ratings_per_user
    out = np.empty((spec.users, k), dtype=np.int64)
    for u in range(spec.users):
        picked: list[int] = []
        while len(picked) < k:
            draws = np.searchsorted(cdf, rng.random(2 * k), side="right")
            seen = set(picked)
            picked += [p for p in dict.fromkeys(np.minimum(draws, spec.products - 1).tolist()) if p not in seen]
        out[u] = picked[:k]
    return out + 1


def generate(spec: RatingsSpec, seed: int) -> list[str]:
    """All CSV lines (no trailing newline) for ``spec`` under ``seed``."""
    if not 0 < spec.ratings_per_user <= spec.products:
        raise ValueError("ratings_per_user must be in [1, products]")
    rng = np.random.default_rng(seed)
    k = spec.ratings_per_user
    users = np.repeat(np.arange(1, spec.users + 1), k)
    products = _draw_products(rng, spec).ravel()
    validation = rng.random(users.size) < spec.validation_share
    # new product ids offset by the row's column: distinct within a user
    cold = validation & (rng.random(users.size) < spec.cold_share)
    products = np.where(cold, spec.products + 1 + np.tile(np.arange(k), spec.users), products)
    high_half = products <= spec.products // 2
    base = np.where((users % 2 == 1) == high_half, 5, 1)
    noisy = rng.random(users.size) < NOISE
    rating = np.where(noisy, np.where(base == 5, 4, 2), base)
    tag = np.where(validation, "V", "I")
    odd = users % 2
    return [
        f"{t},{u},{p},{r},{b},{o},{n},+,1,,"
        for t, u, p, r, b, o, n in zip(
            tag.tolist(), users.tolist(), products.tolist(), rating.tolist(),
            base.tolist(), odd.tolist(), noisy.astype(int).tolist(),
        )
    ]


def write_csv(path: str, spec: RatingsSpec, seed: int) -> dict[tuple[int, int], int]:
    """Write the CSV; return the ratings of the validation pairs the
    report must list: those whose user and product both occur in
    training (ALS drops the others as cold starts)."""
    lines = generate(spec, seed)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    rows = [line.split(",", 4)[:4] for line in lines]
    users = {u for tag, u, _, _ in rows if tag == "I"}
    products = {p for tag, _, p, _ in rows if tag == "I"}
    return {
        (int(u), int(p)): int(r)
        for tag, u, p, r in rows
        if tag == "V" and u in users and p in products
    }
