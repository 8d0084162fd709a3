"""Write the link graph of a lineitem table to ``sf0.01_links.npz``.

Usage::

    python3 perfbench/data/make_links.py <sf0.01 dir>/lineitem.parquet perfbench/data/sf0.01_links.npz

The pairs are those ``__spark_entry__._edges`` derives from the table:
``(l_orderkey % 4000, l_partkey % 4000)``, self-loops dropped, distinct.
The PageRank workload writes them back as a two-column lineitem table, so
``_edges`` over it yields the same edge set as over the original table.
"""

import sys

import numpy as np
import pyarrow.parquet as pq

LINK_V = 4000  # vertex-id modulus of __spark_entry__._edges


def main(src: str, dst: str) -> None:
    tbl = pq.read_table(src, columns=["l_orderkey", "l_partkey"])
    s = tbl.column("l_orderkey").to_numpy() % LINK_V
    d = tbl.column("l_partkey").to_numpy() % LINK_V
    keep = s != d
    pairs = np.unique(np.stack([s[keep], d[keep]], axis=1), axis=0).astype(np.int16)
    np.savez_compressed(dst, src=pairs[:, 0], dst=pairs[:, 1])
    print(f"{tbl.num_rows} rows -> {len(pairs)} links, "
          f"{len(np.unique(pairs[:, 0]))} senders, {len(np.unique(pairs[:, 1]))} receivers")


if __name__ == "__main__":
    main(*sys.argv[1:3])
