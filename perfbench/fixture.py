"""Seeded input for ``keeper_ingest``: a bijective re-key of ``documents``.

The sf0.01 ``documents`` fixture's ``doc_id`` values are mapped through a
permutation of themselves drawn from the seed. Row content is untouched;
only which id a document carries changes. That moves arrival order (the
spool harness replays documents in ``doc_id`` order), micro-batch cuts and
id-derived routing such as ``doc_id % 3``, so a held-out seed is a real
second input with the same size and text. ``doc_id`` is the table's only
key and no other table refers to it, so no join needs the same map.

The source is the sf0.01 directory the repository's oracle tests read
(``tests/conftest.py``'s ``SF_ORACLE``; TESTDATA.md describes it). It is
only read. The copy is written once per seed.
"""

from __future__ import annotations

import os



def write_documents(out_dir: str, seed: int) -> str:
    """Write the seed's re-keyed ``documents.parquet`` into ``out_dir``,
    unless it is there already. Returns ``out_dir``."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(path):
        return out_dir
    from tests.conftest import SF_ORACLE

    table = pq.read_table(os.path.join(SF_ORACLE, "documents.parquet"))
    ids = table.column("doc_id").to_numpy()
    values = np.unique(ids)
    perm = np.random.default_rng(seed).permutation(len(values))
    new = values[perm[np.searchsorted(values, ids)]]
    table = table.set_column(
        table.schema.get_field_index("doc_id"), "doc_id", pa.array(new, pa.int64())
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, path + ".tmp")
    os.rename(path + ".tmp", path)
    return out_dir
