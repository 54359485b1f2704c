"""Build a 10x timing replica of an sf dir (e.g. sf0.1 -> sf1.0-like) for
at-scale measurement when the driver-generated larger SF is unavailable.

Replica semantics (timing-faithful, NOT content-identical to the driver's
own larger SF):
  - documents: 10 copies; copy 0 keeps the original text, copies i>0 apply a
    deterministic per-copy word permutation (sort positions by
    md5(copy:pos)). Token multisets, doc lengths, langs and sources are
    preserved (tf/token-count/langid workloads unchanged); shingle identity
    is destroyed so near-dup/dedup workloads keep a realistic (not
    replica-inflated) candidate-pair rate.
  - embeddings: 10 copies, element-0 perturbed by copy*1e-3 so no exact-dup
    vectors; label preserved.
  - events: 10 copies with user_id/event_id shifted per copy (session count
    scales, session length distribution preserved).
  - orders/lineitem: 10 copies with o_orderkey/l_orderkey shifted
    consistently (join fan-out preserved); dim tables copied as-is.
Each table is one parquet file in the driver's layout: documents and
embeddings hold one row group (unsplittable, the case
partitioning.spread_unsplittable exists for), events, orders and lineitem
hold 6 row groups of ceil(rows / 6) rows each. Copies stream through one
writer per table; only a single-row-group table is held whole.

    python tools/make_sf_replica.py /root/testdata/sf0.1 /tmp/sf1.0 10
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from collections.abc import Iterable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def _perm_words(text: str, copy: int) -> str:
    words = text.split(" ")
    keyed = sorted(
        range(len(words)),
        key=lambda p: hashlib.md5(f"{copy}:{p}".encode()).digest(),
    )
    return " ".join(words[p] for p in keyed)


def _write(path: str, schema: pa.Schema, copies: Iterable[pa.Table],
           rows: int, groups: int) -> None:
    """Write ``copies`` (``rows`` in total) as ``groups`` row groups of
    ceil(rows / groups) rows, buffering one row group at a time."""
    size = -(-rows // groups)
    buf: list[pa.Table] = []
    held = 0
    with pq.ParquetWriter(path, schema, compression="zstd") as w:
        for c in copies:
            buf.append(c)
            held += c.num_rows
            while held >= size:
                t = pa.concat_tables(buf)
                w.write_table(t.slice(0, size), row_group_size=size)
                buf, held = [t.slice(size)], held - size
        if held:
            w.write_table(pa.concat_tables(buf), row_group_size=size)


def main() -> None:
    src, dst, rep = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(dst, exist_ok=True)

    def out(name: str, t: pa.Table, copies: Iterable[pa.Table], groups: int) -> None:
        _write(os.path.join(dst, f"{name}.parquet"), t.schema, copies,
               rep * t.num_rows, groups)

    def shifted(t: pa.Table, col: str, i: int, off: int) -> pa.Table:
        return t.set_column(t.column_names.index(col), col,
                            pc.add(t.column(col), i * off))

    t = pq.read_table(os.path.join(src, "documents.parquet"))
    texts = t.column("text").to_pylist()

    def docs(t):
        for i in range(rep):
            c = shifted(t, "doc_id", i, t.num_rows)
            if i:
                c = c.set_column(
                    c.column_names.index("text"), "text",
                    pa.array([_perm_words(x, i) for x in texts], pa.string()))
            yield c

    out("documents", t, docs(t), 1)

    t = pq.read_table(os.path.join(src, "embeddings.parquet"))
    embs = t.column("embedding").to_pylist()

    def vecs(t):
        for i in range(rep):
            c = shifted(t, "vec_id", i, t.num_rows)
            if i:
                pert = [[v[0] + i * 1e-3] + v[1:] for v in embs]
                c = c.set_column(c.column_names.index("embedding"), "embedding",
                                 pa.array(pert, pa.list_(pa.float32())))
            yield c

    out("embeddings", t, vecs(t), 1)

    t = pq.read_table(os.path.join(src, "events.parquet"))
    out("events", t, (
        shifted(shifted(t, "event_id", i, t.num_rows), "user_id", i, 1_000_000)
        for i in range(rep)
    ), 6)

    ordt = pq.read_table(os.path.join(src, "orders.parquet"))
    li = pq.read_table(os.path.join(src, "lineitem.parquet"))
    okey_ord = [c for c in ordt.column_names if "orderkey" in c][0]
    okey_li = [c for c in li.column_names if "orderkey" in c][0]
    span = int(pc.max(ordt.column(okey_ord)).as_py()) + 1
    for name, tab, key in (("orders", ordt, okey_ord), ("lineitem", li, okey_li)):
        out(name, tab, (shifted(tab, key, i, span) for i in range(rep)), 6)

    for name in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(os.path.join(src, f"{name}.parquet"), os.path.join(dst, f"{name}.parquet"))
    print(f"wrote {dst} (rep={rep})")


if __name__ == "__main__":
    main()
