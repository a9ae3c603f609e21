"""Build an N-times replica of sf0.1 (default 10x at /tmp/sfbig), for
checking catalog answers at a larger scale with tools/check_oracle.py.

Replicates every sf0.1 table N times (default 10) with all key columns
shifted by replica_index * key_domain_span, producing N disjoint
referentially-consistent universes — joins keep their fan-in, dedup/ANN
candidate counts grow with the data as they would in production, and
multi-row-group parquet engages every core like a real dataset would.

``--mixed`` (r10, VERDICT r9 #4): pure xN replication is the WRONG
fixture for LSH-family self-joins — every document gains N-1 exact
twins, each band bucket packs N copies, and candidates inflate
~C(N,2)x (the quantified artifact that blocked the 100x
`docs_split_leakage_audit` oracle leg; BASELINE.md round-9).  Mixed
mode keeps the key-shift universes but makes the CONTENT of each
universe distinct while preserving its internal similarity structure:

- documents: universe k>0 rewrites every token through a seeded random
  permutation pi_k of the global vocabulary.  A 1:1 token remap maps
  shingle sets 1:1, so every within-universe Jaccard relation (and
  hence the near-dup density per universe) is EXACTLY the base
  corpus's — candidates scale linearly with N, like production — while
  two different permutations agree on ~0 tokens, so cross-universe
  pairs share no shingles and never collide in a band.  n_chars is
  recomputed from the rewritten text.
- embeddings: universe k>0 applies a seeded random rotation Q_k
  (QR-orthogonalized Gaussian) to every vector.  Rotations preserve
  all within-universe inner products/cosines exactly and make
  cross-universe cosines ~N(0, 1/d).

Usage: python tools/make_sfbig.py [--src /root/testdata/sf0.1] [--dst /tmp/sfbig]
                                  [--n 10] [--mixed]
"""

from __future__ import annotations

import argparse
import os

import duckdb

# key column -> (table that defines its domain, defining column)
_DOMAINS = {
    "regionkey": ("region", "r_regionkey"),
    "nationkey": ("nation", "n_nationkey"),
    "custkey": ("customer", "c_custkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "partkey": ("part", "p_partkey"),
    "orderkey": ("orders", "o_orderkey"),
    "event_id": ("events", "event_id"),
    "user_id": ("events", "user_id"),
    "doc_id": ("documents", "doc_id"),
    "vec_id": ("embeddings", "vec_id"),
}

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _domain_for(col: str) -> str | None:
    if col in ("event_id", "user_id", "doc_id", "vec_id"):
        return col
    for dom in ("regionkey", "nationkey", "custkey", "suppkey", "partkey", "orderkey"):
        if col.endswith(dom):
            return dom
    return None


def _mixed_documents(src: str, dst: str, n: int, span: int) -> int:
    """Write the mixed-growth documents table (see module docstring)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(src, "documents.parquet"))
    texts = base.column("text").to_pylist()
    vocab = sorted({w for t in texts for w in t.split(" ") if w})
    varr = np.array(vocab, dtype=object)
    split = [t.split(" ") for t in texts]
    out_batches = []
    for k in range(n):
        if k == 0:
            tab = base
        else:
            perm = np.random.default_rng(7919 * k + 13).permutation(len(vocab))
            remap = dict(zip(vocab, varr[perm]))
            new_texts = [" ".join(remap.get(w, w) for w in ws) for ws in split]
            tab = pa.table(
                {
                    "doc_id": pa.array(
                        [d + k * span for d in base.column("doc_id").to_pylist()],
                        type=pa.int64(),
                    ),
                    "text": pa.array(new_texts, type=pa.string()),
                    "lang": base.column("lang"),
                    "source": base.column("source"),
                    "n_chars": pa.array(
                        [len(t) for t in new_texts], type=pa.int64()
                    ),
                }
            )
        out_batches.append(tab)
    out = pa.concat_tables(out_batches)
    pq.write_table(out, os.path.join(dst, "documents.parquet"),
                   row_group_size=65536)
    return out.num_rows


def _mixed_embeddings(src: str, dst: str, n: int, span: int) -> int:
    """Write the mixed-growth embeddings table (see module docstring)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(os.path.join(src, "embeddings.parquet"))
    vecs = np.array(base.column("embedding").to_pylist(), dtype=np.float64)
    dim = vecs.shape[1]
    out_batches = []
    for k in range(n):
        if k == 0:
            tab = base
        else:
            g = np.random.default_rng(104729 * k + 7).standard_normal((dim, dim))
            q, _ = np.linalg.qr(g)
            rot = (vecs @ q.T).astype(np.float32)
            tab = pa.table(
                {
                    "vec_id": pa.array(
                        [v + k * span for v in base.column("vec_id").to_pylist()],
                        type=pa.int64(),
                    ),
                    "embedding": pa.array(
                        [row for row in rot.tolist()],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": base.column("label"),
                }
            )
        out_batches.append(tab)
    out = pa.concat_tables(out_batches)
    pq.write_table(out, os.path.join(dst, "embeddings.parquet"),
                   row_group_size=65536)
    return out.num_rows


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/sfbig")
    ap.add_argument("--n", type=int, default=10)
    ap.add_argument("--mixed", action="store_true",
                    help="perturb documents/embeddings content per universe "
                         "(vocab permutation / random rotation) so LSH-family "
                         "candidate counts scale linearly, not C(n,2)")
    ap.add_argument("--tables", default=None,
                    help="comma-separated subset to replicate; the rest are "
                         "symlinked to --src at 1x (for fixtures scoped to "
                         "queries that scan only some tables)")
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.src}/{t}.parquet')")

    spans = {
        dom: con.sql(f"SELECT max({col}) + 1 FROM {tbl}").fetchone()[0]
        for dom, (tbl, col) in _DOMAINS.items()
    }

    scoped = set(args.tables.split(",")) if args.tables else set(TABLES)
    for t in TABLES:
        if t not in scoped:
            link = os.path.join(args.dst, f"{t}.parquet")
            if not os.path.exists(link):
                os.symlink(os.path.abspath(os.path.join(args.src, f"{t}.parquet")), link)
            print(f"{t}: symlinked 1x")
            continue
        if args.mixed and t in ("documents", "embeddings"):
            span = spans["doc_id" if t == "documents" else "vec_id"]
            fn = _mixed_documents if t == "documents" else _mixed_embeddings
            n = fn(args.src, args.dst, args.n, span)
            print(f"{t}: {n} rows (mixed)")
            continue
        cols = [r[0] for r in con.sql(f"DESCRIBE {t}").fetchall()]
        exprs = []
        for c in cols:
            dom = _domain_for(c)
            exprs.append(f"{c} + k*{spans[dom]} AS {c}" if dom else c)
        sel = (
            f"SELECT {', '.join(exprs)} FROM {t}, "
            f"(SELECT unnest(range({args.n})) AS k)"
        )
        con.sql(
            f"COPY ({sel}) TO '{args.dst}/{t}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE 65536)"
        )
        n = con.sql(f"SELECT count(*) FROM read_parquet('{args.dst}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
