"""Derive a deterministic 3x corpus ("sf0.3") from the read-only sf0.1
fixtures, for the one-notch-up scaling check (r9 verdict #6): re-derive
the top-wall queries' growth exponents at a scale the 22-row alpha guard
doesn't reach.  /root/testdata is read-only, so the derived tables land
in a scratch dir (default /tmp/aas_sf0.3) and are regenerable from this
script — nothing is committed.

Only the tables the top-5 wall queries read are generated:

- ``documents`` (q33 / q140 / q143): three copies; copy 0 verbatim,
  copies 1-2 pass the text through a bijective alphabet rotation
  (translate a-z -> rot7 / rot13, upper case too).  A character cipher
  preserves the *structure* every set-similarity operator keys on —
  per-copy n-gram document frequencies, doc lengths, and the exact
  near-dup pair set are isomorphic to the original — while cross-copy
  gram collisions are coincidental vocabulary hits, far below any
  similarity threshold.  So true pairs scale exactly 3x and the corpus
  is 3x, which is what a linear-alpha claim must be tested against
  (naive row duplication would instead square the duplicate structure:
  3 exact copies of every doc = 3x the near-dup CLUSTERS but 9x the
  candidate pairs, invalidating the exponent).
- ``lineitem`` + ``orders`` (q26 / q269): three copies with order keys
  offset per copy (new orders), supplier keys offset per copy (3x the
  supplier nodes), customer/part keys kept (the same customers place 3x
  the orders across a 3x supplier pool) — the customer-supplier graph
  q269 walks grows 3x in edges and supplier nodes without splitting
  into disjoint replicas (a key-disjoint copy would leave the BFS ball
  stuck in copy 0 and fake alpha ~ 0).
- ``events`` (q263): three copies with ``user_id`` and ``event_id``
  offset per copy, so each user's series is verbatim and per-key window
  work scales 3x.  ``customer`` is copied verbatim and ``orders`` keep
  ``o_custkey``, so two-thirds of the sf0.3 event ``user_id`` values
  dangle against ``orders``/``customer``.  These rows are valid only for
  per-key window queries such as q263; a query that joins events to
  orders or customer (e.g. q248) gets a different join selectivity at
  sf0.3 than at sf0.1 and must not be swept on this fixture.

Usage: python tools/make_sf03.py [out_dir]
Then:  python tools/scaling_curves.py /root/testdata/sf0.1 <out_dir> \
           --ratio 3 --queries q26_...,q33_...,...
"""

from __future__ import annotations

import os
import string
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def _rot(k: int) -> tuple[str, str]:
    lo = string.ascii_lowercase
    up = string.ascii_uppercase
    src = lo + up
    dst = lo[k:] + lo[:k] + up[k:] + up[:k]
    return src, dst


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/aas_sf0.3"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()

    docs = f"read_parquet('{SRC}/documents.parquet')"
    n_docs = con.sql(f"SELECT max(doc_id) + 1 FROM {docs}").fetchone()[0]
    copies = ["SELECT * FROM base"]
    for c, k in ((1, 7), (2, 13)):
        src, dst = _rot(k)
        copies.append(
            f"SELECT doc_id + {c * n_docs} AS doc_id,"
            f" translate(text, '{src}', '{dst}') AS text,"
            f" lang, source, n_chars FROM base"
        )
    con.execute(
        f"COPY (SELECT * FROM (WITH base AS (SELECT * FROM {docs}) "
        + " UNION ALL ".join(copies)
        + f") ORDER BY doc_id) TO '{out}/documents.parquet' (FORMAT PARQUET)"
    )

    li = f"read_parquet('{SRC}/lineitem.parquet')"
    o = f"read_parquet('{SRC}/orders.parquet')"
    max_ord = con.sql(f"SELECT max(o_orderkey) + 1 FROM {o}").fetchone()[0]
    max_sup = con.sql(f"SELECT max(l_suppkey) + 1 FROM {li}").fetchone()[0]
    li_copies = [
        f"SELECT l_orderkey + {c * max_ord} AS l_orderkey, l_partkey,"
        f" l_suppkey + {c * max_sup} AS l_suppkey,"
        " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
        " l_returnflag, l_linestatus, l_shipdate"
        f" FROM {li}"
        for c in range(3)
    ]
    # ORDER BY restores the source's orderkey-clustered layout: duckdb
    # executes the UNION ALL in parallel and would otherwise interleave
    # rows arbitrarily, which scatters an order's line items across row
    # groups / scan splits and collapses Spark's map-side partial-agg
    # efficiency (measured on q22: 147 k partial records at sf0.1 vs
    # 1.2 M at an unordered sf0.3 for 450 k orders — a 7.7x bytes-ratio
    # artifact of the FIXTURE, not of the engine).
    con.execute(
        f"COPY (SELECT * FROM ({' UNION ALL '.join(li_copies)})"
        " ORDER BY l_orderkey, l_linenumber)"
        f" TO '{out}/lineitem.parquet' (FORMAT PARQUET)"
    )
    o_cols = [r[0] for r in con.sql(f"DESCRIBE SELECT * FROM {o}").fetchall()]
    rest = ", ".join(c for c in o_cols if c != "o_orderkey")
    o_copies = [
        f"SELECT o_orderkey + {c * max_ord} AS o_orderkey, {rest} FROM {o}"
        for c in range(3)
    ]
    con.execute(
        f"COPY (SELECT * FROM ({' UNION ALL '.join(o_copies)})"
        " ORDER BY o_orderkey)"
        f" TO '{out}/orders.parquet' (FORMAT PARQUET)"
    )
    # r11: events for the per-key time-series queries (q263 grid
    # interpolation) — three copies with user_id/event_id offsets: 3x the
    # keys, each key's series verbatim, so per-key window work scales
    # linearly and the grid span per key is unchanged (the isomorphism the
    # alpha claim needs).
    ev = f"read_parquet('{SRC}/events.parquet')"
    n_users = con.sql(f"SELECT max(user_id) + 1 FROM {ev}").fetchone()[0]
    n_ev = con.sql(f"SELECT max(event_id) + 1 FROM {ev}").fetchone()[0]
    ev_copies = [
        f"SELECT event_id + {c * n_ev} AS event_id, ts,"
        f" user_id + {c * n_users} AS user_id, event_type, value, props"
        f" FROM {ev}"
        for c in range(3)
    ]
    con.execute(
        f"COPY (SELECT * FROM ({' UNION ALL '.join(ev_copies)})"
        " ORDER BY event_id)"
        f" TO '{out}/events.parquet' (FORMAT PARQUET)"
    )
    # dimension tables copy VERBATIM (the same customers/regions serve 3x
    # the facts — the design note at the top: keys must not split into
    # disjoint replicas)
    import shutil

    for t in ("customer", "nation", "region", "supplier", "part", "embeddings"):
        srcp = f"{SRC}/{t}.parquet"
        if os.path.exists(srcp):
            shutil.copyfile(srcp, f"{out}/{t}.parquet")
    for t in ("documents", "lineitem", "orders", "events"):
        n = con.sql(f"SELECT count(*) FROM read_parquet('{out}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")
    con.close()


if __name__ == "__main__":
    main()
