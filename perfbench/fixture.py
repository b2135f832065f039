"""Build the benchmark's large fixture from the committed small one.

The construction is the one the repository's scale rungs use: N copies
of every keyed table, where copy c

  - offsets every integer key by c * 10^8, so joins stay within a copy
    and cardinalities grow linearly;
  - shifts events.ts by c microseconds, so (event_type, ts) stays unique;
  - suffixes every token of a copied document with c, so vocabularies of
    different copies are disjoint and near-duplicate pairs grow linearly;
  - rotates copied embeddings by a fixed orthogonal matrix seeded by c,
    which keeps within-copy geometry and makes copies near-orthogonal.

region and nation are copied once. The output depends only on the input
and the copy count.
"""
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

OFFSET = 10**8
KEYED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SINGLE = ["region", "nation"]
TOKEN = re.compile(r"[A-Za-z0-9]+")


def rotation(dim: int, c: int) -> np.ndarray:
    """Orthogonal matrix for copy c: QR of a seeded Gaussian, with signs
    fixed so the factorisation is unique."""
    q, r = np.linalg.qr(np.random.default_rng(c).standard_normal((dim, dim)))
    return q * np.sign(np.diag(r))


def copy_of(table: pa.Table, name: str, c: int) -> pa.Table:
    if c == 0:
        return table
    for col in KEYED[name]:
        i = table.schema.get_field_index(col)
        table = table.set_column(i, col, pc.add(table.column(col), c * OFFSET))
    if name == "events":
        i = table.schema.get_field_index("ts")
        kind = table.schema.field("ts").type
        per_us = {"us": 1, "ns": 1000}[kind.unit]
        ts = pc.add(table.column("ts").cast(pa.int64()), c * per_us)
        table = table.set_column(i, "ts", ts.cast(kind))
    if name == "documents":
        texts = [TOKEN.sub(lambda m: m.group(0) + str(c), t)
                 for t in table.column("text").to_pylist()]
        table = table.set_column(table.schema.get_field_index("text"), "text",
                                 pa.array(texts, pa.string()))
        table = table.set_column(table.schema.get_field_index("n_chars"), "n_chars",
                                 pa.array([len(t) for t in texts], pa.int64()))
    if name == "embeddings":
        i = table.schema.get_field_index("embedding")
        vecs = np.asarray(table.column("embedding").to_pylist(), dtype=np.float64)
        out = (vecs @ rotation(vecs.shape[1], c).T).astype(np.float32)
        table = table.set_column(i, "embedding",
                                 pa.array(list(out), type=table.schema.field("embedding").type))
    return table


def build(src: str, dst: str, copies: int) -> None:
    """Write the `copies`-fold fixture of `src` to `dst`, atomically: the
    directory appears only when every table is complete."""
    tmp = dst + ".partial"
    os.makedirs(tmp, exist_ok=True)
    for name in SINGLE:
        pq.write_table(pq.read_table(f"{src}/{name}.parquet"), f"{tmp}/{name}.parquet")
    for name in KEYED:
        base = pq.read_table(f"{src}/{name}.parquet")
        with pq.ParquetWriter(f"{tmp}/{name}.parquet", base.schema) as w:
            for c in range(copies):
                w.write_table(copy_of(base, name, c))
    os.rename(tmp, dst)
