"""Seeded input tables for the benchmark.

The inputs are the repository's sf0.1 testdata tables, stored in
``perfbench/data/`` so a run never reads outside its checkout. The seed
derives each run's inputs through transforms that keep the tables'
structure (value distributions, duplicates, cluster geometry):

- ``documents``: a bijection of ``doc_id`` onto the same id set plus a row
  shuffle. Texts, languages, sources and ``n_chars`` travel with their row.
- ``embeddings``: one +-1 sign per dimension, applied to every vector.
  Negating a coordinate of both vectors leaves each product term, and so
  every dot product and norm, bit-exact.
- ``events`` and ``orders``: copied unchanged; the seed acts on them through
  the workloads (the edited leaf model of ``dag_build``, the key ranges and
  order of commits of ``lake_cdc``).
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def documents(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    ids = table.column("doc_id").to_numpy()
    relabel = dict(zip(np.sort(ids).tolist(), rng.permutation(np.sort(ids)).tolist()))
    table = table.set_column(
        table.schema.get_field_index("doc_id"),
        "doc_id",
        pa.array([relabel[i] for i in ids.tolist()], pa.int64()),
    )
    return table.take(pa.array(rng.permutation(table.num_rows)))


def embeddings(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    col = table.column("embedding").combine_chunks()
    dim = len(col[0])
    vecs = col.flatten().to_numpy().reshape(-1, dim)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=vecs.dtype), size=dim)
    flipped = pa.FixedSizeListArray.from_arrays(pa.array((vecs * signs).ravel()), dim)
    return table.set_column(
        table.schema.get_field_index("embedding"),
        "embedding",
        pc.cast(flipped, table.schema.field("embedding").type),
    )


TRANSFORMS = {"documents": documents, "embeddings": embeddings, "events": None, "orders": None}


def write_tables(out_dir: str, seed: int, names: tuple[str, ...]) -> dict[str, str]:
    """Write each named table as ``<out_dir>/<name>.parquet``. Each table
    has its own RNG stream keyed by its name, so adding a table never
    changes another's contents."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name in names:
        src = os.path.join(DATA, f"{name}.parquet")
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        transform = TRANSFORMS[name]
        if transform is None:
            shutil.copyfile(src, paths[name])
            continue
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        pq.write_table(transform(pq.read_table(src), rng), paths[name])
    return paths
