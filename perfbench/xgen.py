"""Seeded N-copy enlargement of a fixture directory (the x10 workload's
inputs). The engine only ever sees the parquet written here.

Copy 0 is the fixture itself. Copy c > 0 shifts every key of the scaled
tables by c times a per-domain stride, so joins stay 1:1 within a copy
and distinct-key counts grow with the data. From copy 1 on, document
texts get a per-copy, seed-chosen marker token between words, and
embedding vectors a per-copy, seed-chosen rotation of their dimensions:
as in graft.tools.ScaleProbe, copies then share no near-duplicate text or
vectors, so pair counts grow linearly and do not explode quadratically.
Dimension tables (region, nation, supplier, part) are copied unchanged.
"""
import math
import os
import random
import shutil
import string

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# table -> {key column: key domain}; one stride per domain
SCALED = {
    "lineitem": {"l_orderkey": "order"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}


def strides(tables):
    top = {}
    for name, cols in SCALED.items():
        for col, dom in cols.items():
            m = pc.max(tables[name][col]).as_py() or 0
            top[dom] = max(top.get(dom, 0), m)
    return {dom: 10 ** max(1, math.ceil(math.log10(m + 1))) for dom, m in top.items()}


def markers(rng, copies):
    seen = set()
    out = []
    while len(out) < copies - 1:
        tok = "x" + "".join(rng.choice(string.ascii_lowercase) for _ in range(6))
        if tok not in seen:
            seen.add(tok)
            out.append(tok)
    return out


def rotate(emb, r):
    """Rotate every vector of a list<float> column left by r dimensions."""
    flat = emb.combine_chunks() if isinstance(emb, pa.ChunkedArray) else emb
    offsets = flat.offsets.to_numpy()
    dim = int(offsets[1] - offsets[0])
    if not np.all(np.diff(offsets) == dim):
        raise ValueError("embedding vectors must share one dimension")
    vals = flat.values.to_numpy(zero_copy_only=False).reshape(-1, dim)
    rolled = np.roll(vals, -r, axis=1).reshape(-1)
    return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                    pa.array(rolled, flat.type.value_type))


def copy_of(name, t, c, st, marker, rot):
    for col, dom in SCALED[name].items():
        i = t.schema.get_field_index(col)
        shifted = pc.add(t[col], pa.scalar(c * st[dom], t.schema.field(col).type))
        t = t.set_column(i, t.schema.field(col), shifted)
    if name == "documents" and c > 0:
        text = pc.replace_substring(t["text"], " ", f" {marker} ")
        t = t.set_column(t.schema.get_field_index("text"), t.schema.field("text"), text)
        if "n_chars" in t.column_names:
            f = t.schema.field("n_chars")
            t = t.set_column(t.schema.get_field_index("n_chars"), f,
                             pc.cast(pc.utf8_length(text), f.type))
    if name == "embeddings" and c > 0:
        f = t.schema.field("embedding")
        t = t.set_column(t.schema.get_field_index("embedding"), f,
                         rotate(t["embedding"], rot).cast(f.type))
    return t


def sizes(d):
    """{table: (rows, bytes)} of the parquet tables in `d`."""
    return {f[:-len(".parquet")]: (pq.ParquetFile(os.path.join(d, f)).metadata.num_rows,
                                   os.path.getsize(os.path.join(d, f)))
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


def generate(base, out, copies, seed):
    """Write the enlarged fixture to `out`."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    names = sorted(f[:-len(".parquet")] for f in os.listdir(base) if f.endswith(".parquet"))
    tables = {n: pq.read_table(os.path.join(base, f"{n}.parquet"))
              for n in names if n in SCALED}
    st = strides(tables)
    toks = markers(rng, copies)
    if copies > 64:
        raise ValueError("at most 64 copies: there are 63 distinct rotations")
    rots = rng.sample(range(1, 64), copies - 1)
    for n in names:
        src = os.path.join(base, f"{n}.parquet")
        dst = os.path.join(out, f"{n}.parquet")
        if n not in SCALED:
            shutil.copyfile(src, dst)
        else:
            t = tables[n]
            parts = [copy_of(n, t, c, st, toks[c - 1] if c else None,
                             rots[c - 1] if c else 0) for c in range(copies)]
            rg = pq.ParquetFile(src).metadata
            rows_per_group = rg.row_group(0).num_rows if rg.num_row_groups else None
            pq.write_table(pa.concat_tables(parts), dst, row_group_size=rows_per_group)
