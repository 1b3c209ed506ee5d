"""Seeded inputs. The same seed always gives the same inputs; the
program under test only ever sees what these functions return."""

from __future__ import annotations

import numpy as np
import pandas as pd

#: raw ids are large and sparse so that label encoding has real work
USER_BASE = 7_000_000
ITEM_BASE = 3_000_000
#: catalogue size of a log, its taste clusters, the Zipf exponent of
#: its item draws, and the share of a user's items drawn from their
#: own cluster's ranking
LOG_ITEMS = 120
LOG_CLUSTERS = 8
ZIPF_A = 1.05
P_CLUSTER = 0.7
#: dimension of the vectors, their clusters, and the standard
#: deviation of a vector around its cluster centre
VEC_DIM = 32
VEC_CLUSTERS = 24
VEC_NOISE = 0.8


def _zipf_probs(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def zipf_log(seed: int, n_users: int, mean_len: int) -> pd.DataFrame:
    """Implicit-feedback log ``query_id, item_id, timestamp, rating``.

    Item draws are Zipf over the catalogue; each user belongs to one
    of ``LOG_CLUSTERS`` taste clusters whose own Zipf ranking (a fixed
    permutation of the catalogue) supplies ``P_CLUSTER`` of their
    items, so collaborative models have signal to find. Each user's
    (user, item) pairs are distinct; users' events interleave in time.
    """
    rng = np.random.default_rng([seed, 1])
    n_items = LOG_ITEMS
    probs = _zipf_probs(n_items, ZIPF_A)
    perms = np.stack([rng.permutation(n_items) for _ in range(LOG_CLUSTERS)])
    glob = rng.permutation(n_items)
    user_ids = USER_BASE + rng.choice(10 * n_users, n_users, replace=False)
    item_ids = ITEM_BASE + rng.choice(10 * n_items, n_items, replace=False)
    lens = 5 + rng.poisson(mean_len - 5, n_users)
    clusters = rng.integers(0, LOG_CLUSTERS, n_users)
    qs, its = [], []
    for u in range(n_users):
        draw = 3 * lens[u]
        ranks = rng.choice(n_items, draw, p=probs)
        own = rng.random(draw) < P_CLUSTER
        items = np.where(own, perms[clusters[u]][ranks], glob[ranks])
        _, first = np.unique(items, return_index=True)
        items = items[np.sort(first)][: lens[u]]
        qs.append(np.full(len(items), u))
        its.append(items)
    q = np.concatenate(qs)
    i = np.concatenate(its)
    # distinct time slots, dealt to users in random order, ascending
    # within each user
    slots = rng.permutation(len(q))
    bounds = np.cumsum([0] + [len(x) for x in qs])
    for a, b in zip(bounds[:-1], bounds[1:]):
        slots[a:b] = np.sort(slots[a:b])
    ts = 1_600_000_000 + slots * 7 + rng.integers(0, 7, len(q))
    return pd.DataFrame(
        {
            "query_id": user_ids[q].astype(np.int64),
            "item_id": item_ids[i].astype(np.int64),
            "timestamp": ts.astype(np.int64),
            "rating": np.ones(len(q)),
        }
    )


def event_batch(
    seed: int, index: int, rows: int, n_users: int, n_items: int, span: int
) -> pd.DataFrame:
    """Micro-batch ``index`` of an endless event stream: ``rows``
    events with distinct timestamps in ``[index * span, (index + 1) *
    span)``, Zipf user activity, Zipf item popularity and string ids.
    Batch ``i`` is the same whichever batches were drawn before it."""
    rng = np.random.default_rng([seed, 2, index])
    users = rng.choice(n_users, rows, p=_zipf_probs(n_users, 0.6))
    items = rng.choice(n_items, rows, p=_zipf_probs(n_items, ZIPF_A))
    ts = index * span + np.sort(rng.choice(span, rows, replace=False))
    return pd.DataFrame(
        {
            "query_id": [f"u{USER_BASE + u}" for u in users],
            "item_id": [f"i{ITEM_BASE + i}" for i in items],
            "timestamp": ts.astype(np.int64),
            "rating": np.ones(rows),
        }
    )


def clustered_vectors(seed: int, n: int, stream: int) -> np.ndarray:
    """``n`` vectors around ``VEC_CLUSTERS`` fixed Gaussian centres. The
    centres depend on ``seed`` only; ``stream`` picks an independent
    draw of points (corpus, or one query batch per op)."""
    centres = np.random.default_rng([seed, 3]).normal(size=(VEC_CLUSTERS, VEC_DIM))
    rng = np.random.default_rng([seed, 4, stream])
    which = rng.integers(0, VEC_CLUSTERS, n)
    return centres[which] + VEC_NOISE * rng.normal(size=(n, VEC_DIM))


def vector_frame(vectors: np.ndarray) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "vec_id": np.arange(len(vectors), dtype=np.int64),
            "embedding": list(vectors),
        }
    )
