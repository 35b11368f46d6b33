"""The shared near-dup stages of ``dedup`` against brute force:
``hamming_pairs`` over signed 64-bit hashes, and the pair-list contracts
of ``mark_duplicates`` and ``cluster_duplicates``."""

from __future__ import annotations

import itertools

import numpy as np
import pandas as pd
import pytest

from spark_pit.operators import dedup

MASK64 = (1 << 64) - 1


def _hashes() -> list[tuple[int, int]]:
    """(id, signed 64-bit hash): 300 random hashes, about half with the
    high bit set, plus a planted neighbour at hamming 0..8 for 90 of them
    (distinct flipped bits, so the distance is exact)."""
    rng = np.random.default_rng(2024)
    base = rng.integers(0, 2**64, size=300, dtype=np.uint64).view(np.int64)
    rows = [(i, int(h)) for i, h in enumerate(base)]
    for j, i in enumerate(rng.choice(len(base), size=90, replace=False)):
        bits = rng.choice(64, size=j % 9, replace=False)
        flip = sum(1 << int(b) for b in bits)
        u = (int(base[i]) & MASK64) ^ flip
        rows.append((1000 + j, u - (1 << 64) if u >> 63 else u))
    return rows


@pytest.mark.parametrize("chunks,max_hamming", [(4, 3), (8, 7)])
def test_hamming_pairs_matches_all_pairs(spark, chunks, max_hamming):
    rows = _hashes()
    assert 100 < sum(h < 0 for _, h in rows) < 290
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "h"]))
    got = dedup.hamming_pairs(df, "id", "h", 64, chunks, max_hamming).collect()
    want = {}
    for (ia, ha), (ib, hb) in itertools.combinations(sorted(rows), 2):
        d = bin((ha ^ hb) & MASK64).count("1")
        if d <= max_hamming:
            want[(ia, ib)] = d
    assert len(got) == len({(r.id_a, r.id_b) for r in got})  # no repeats
    assert {(r.id_a, r.id_b): r.hamming for r in got} == want
    # every planted distance up to the radius is present
    assert set(want.values()) == set(range(max_hamming + 1))


def test_mark_and_cluster_from_pair_list(spark):
    ids = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 4, 5, 6, 7]}))
    pairs = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 1, 2, 5], "id_b": [2, 2, 3, 6]})
    )
    mark = dedup.mark_duplicates(ids, pairs, "id").toPandas().set_index("id")
    assert mark["dup_of"].to_dict() == pytest.approx(
        {1: np.nan, 2: 1, 3: 2, 4: np.nan, 5: np.nan, 6: 5, 7: np.nan}, nan_ok=True
    )
    assert mark["is_dup"].to_dict() == {
        1: False, 2: True, 3: True, 4: False, 5: False, 6: True, 7: False,
    }
    cl = dedup.cluster_duplicates(ids, pairs, "id").toPandas().set_index("id")
    assert cl["canonical_id"].to_dict() == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}
    assert cl["cluster_size"].to_dict() == {1: 3, 2: 3, 3: 3, 4: 1, 5: 2, 6: 2, 7: 1}
