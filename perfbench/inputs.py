"""The benchmark's input tables, made per (scale, seed) from fixed sources.

The sources are committed under ``perfbench/data``:

- ``sf0.1``, ``sf0.01``, ``sf0.001``: the engine's seed-42 test tables
  (``events``, ``documents``, ``embeddings``), byte-identical copies;
- ``images``: ``spark_pit.datagen.images_table(n_entities=20, n_rows=500,
  seed=42)`` and ``snapshots_table(n_entities=20, seed=42)``, written once.
  3 hot ids hold 20% of the rows (33 rows each; cold ids have 13..23).

``--seed`` changes the inputs without changing any timeline, so one set of
expected checksums (``expected.json``) serves every seed:

- ``pit_events``: the events are replicated into disjoint users and events,
  and every ``user_id`` is XORed with a seed mask. That moves each user's
  bucket; the checks XOR it back.
- ``image_pit_write``: the image table is replicated, and replica ``r``
  prefixes its ids with an 8-hex-digit tag derived from ``(seed, r)``. That
  moves each id's bucket and checkpoint part; the checks map tags back to ``r``.
- the registered queries: each table's rows are shuffled with the seed.
  The queries and their checksums do not depend on row order.

Everything is written with pyarrow, before the Spark session exists, so
the cold pass still starts the first Python workers. Same scale and seed
give byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
QUERY_TABLES = ("events", "documents", "embeddings")
_TAG_MUL = 0x9E3779B1  # odd, so r -> tag is one-to-one for a fixed seed
# the ``spark_pit.datagen.images_table`` call that made ``data/images``
IMAGE_SOURCE = {"n_entities": 20, "n_rows": 500, "seed": 42}


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark scale."""

    events_sf: str  # source of pit_events
    pit_repl: int  # pit_events: events replicas
    queries_sf: str  # source of the registered queries' tables
    img_repl: int  # image_pit_write: image table replicas
    hot_threshold: int  # ids with more rows take the salted path


SCALES = {
    # pit_events: 400k events, 8,000 users. image_pit_write: 7,840 rows,
    # 320 ids, 48 of them hot. Queries: the sf0.01 tables.
    "bench": Scale(events_sf="sf0.1", pit_repl=4, queries_sf="sf0.01", img_repl=16, hot_threshold=28),
    # the benchmark's own smoke test: every path runs, in seconds
    "smoke": Scale(events_sf="sf0.001", pit_repl=2, queries_sf="sf0.001", img_repl=2, hot_threshold=28),
}


def seed_mask(seed: int) -> int:
    """The XOR mask ``pit_events`` applies to user ids; below 2**40, so
    masked ids stay positive."""
    return int(np.random.default_rng([seed, 1]).integers(1, 2**40))


def image_tags(seed: int, repl: int) -> list[str]:
    """The id prefix of each image replica (``tags[r] + "#"``)."""
    base = int(np.random.default_rng([seed, 2]).integers(0, 2**32))
    return [f"{(base + r * _TAG_MUL) % 2**32:08x}" for r in range(repl)]


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def pit_events(scale: Scale, mask: int) -> pa.Table:
    """``pit_repl`` copies of the source events; copy ``r`` shifts user and
    event ids past the previous copy's, then every user id is XORed with
    ``mask`` (``mask=0`` gives the canonical table the checks compare to)."""
    src = pq.read_table(os.path.join(DATA, scale.events_sf, "events.parquet"))
    uid = src["user_id"].to_numpy()
    eid = src["event_id"].to_numpy()
    u_span, e_span = int(uid.max()) + 1, int(eid.max()) + 1
    copies = []
    for r in range(scale.pit_repl):
        t = src.set_column(src.schema.get_field_index("user_id"), "user_id",
                           pa.array((uid + r * u_span) ^ mask))
        t = t.set_column(t.schema.get_field_index("event_id"), "event_id", pa.array(eid + r * e_span))
        copies.append(t)
    return pa.concat_tables(copies)


def image_tables(tags: list[str]) -> tuple[pa.Table, pa.Table]:
    """The image and snapshot tables, one copy per tag with ids ``tag#id``."""
    out = []
    for name in ("images", "snapshots"):
        src = pq.read_table(os.path.join(DATA, "images", f"{name}.parquet"))
        col = src.schema.get_field_index("image_id")
        ids = np.array(src["image_id"].to_pylist(), dtype=object)
        out.append(pa.concat_tables(
            src.set_column(col, "image_id", pa.array([f"{tag}#{i}" for i in ids])) for tag in tags
        ))
    return out[0], out[1]


def write_inputs(data_dir: str, scale: Scale, seed: int) -> None:
    """Write every input table of (scale, seed) under ``data_dir``:
    ``pit/events.parquet``, ``img/{images,snapshots}.parquet`` and
    ``sf/<table>.parquet``, the directory the registered queries read.
    A complete directory is kept as it is."""
    done = os.path.join(data_dir, "_DONE")
    if os.path.exists(done):
        return
    _write(os.path.join(data_dir, "pit", "events.parquet"), pit_events(scale, seed_mask(seed)))
    images, snapshots = image_tables(image_tags(seed, scale.img_repl))
    _write(os.path.join(data_dir, "img", "images.parquet"), images)
    _write(os.path.join(data_dir, "img", "snapshots.parquet"), snapshots)
    rng = np.random.default_rng([seed, 3])
    for name in QUERY_TABLES:
        t = pq.read_table(os.path.join(DATA, scale.queries_sf, f"{name}.parquet"))
        _write(os.path.join(data_dir, "sf", f"{name}.parquet"), t.take(rng.permutation(t.num_rows)))
    open(done, "w").close()
