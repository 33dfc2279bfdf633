"""Uniform sf1-scale dataset generator: 10x the sf0.1 tables with
UNIFORM distributions — the non-hostile twin of gen_adversarial.py,
built for the full-contract oracle sweep at sf1 (the gap the round-6
verdict named: config/layout invariance ran at sf1-scale, but the
complete value-hash sweep was only ever recorded at sf<=0.1).

Replication preserves the driver testdata's semantics:

* orders/lineitem/customer/events — key-rebased per replica so
  referential integrity holds at 6M lineitems / 150k customers; no
  mega keys, no planted skew (that is gen_adversarial's job).
* documents — entropy-BREAKING rewrites: tokens rotated AND every 3rd
  token suffixed with a replica tag, so every 3-gram shingle of every
  replica differs from the base (the scaling_probe.py rewrite; shingle
  Jaccard base-vs-replica ~0). Rotation alone (gen_adversarial's
  _rewrite, used here through round 7's first sf1 sweep) preserves
  ~94% of shingles — it only perturbs the seam — which silently turned
  every base doc into a planted 10-member near-dup cluster. That first
  sweep's hashes all matched (a denser, HARDER dedup input), but the
  corpus was not the uniform dilution this module claimed; it now is.
* embeddings — per-replica gaussian perturbation (sigma 0.2), far
  outside every near-dup threshold in the contract.
* region/nation/part/supplier — fixed-size dims, copied verbatim.

Deterministic (fixed seeds, no wall-clock). Output is parquet, one
file per table, same schemas as /root/testdata/sf*, so every contract
entry, oracle, bench query, and tool runs unchanged with sf_dir
pointed here.

Usage: python tools/gen_scale.py [out_dir] [base_sf_dir] [replicas]
Defaults: .sf1 in this checkout, the sf0.1 testdata, 10
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260816


def _scale_rewrite(tokens: list[str], rep: int, i: int) -> str:
    """Entropy-breaking rewrite: rotate by a replica+doc offset AND
    suffix every 3rd token with the replica tag — every 3-gram shingle
    then contains a rewritten token, so replicas share ~no shingles
    with the base or each other (rotation alone keeps shingle Jaccard
    ~0.94: it only changes the seam)."""
    if not tokens:
        return f"r{rep}doc{i}"
    off = (rep * 131 + i * 17) % len(tokens)
    rot = tokens[off:] + tokens[:off]
    return " ".join(
        f"{t}r{rep}" if j % 3 == 0 else t for j, t in enumerate(rot)
    )


def gen_relational(out: str, base: str, replicas: int) -> None:
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    t = lambda name: f"read_parquet('{base}/{name}.parquet')"
    r = f"range(0, {replicas}) AS rep(r)"

    copies = {
        "region": f"SELECT * FROM {t('region')}",
        "nation": f"SELECT * FROM {t('nation')}",
        "part": f"SELECT * FROM {t('part')}",
        "supplier": f"SELECT * FROM {t('supplier')}",
        "customer": f"""
            SELECT c_custkey + r * 1000000 AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM {t('customer')}, {r}""",
        "orders": f"""
            SELECT o_orderkey + r * 10000000 AS o_orderkey,
                   o_custkey + r * 1000000 AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate,
                   o_orderpriority
            FROM {t('orders')}, {r}""",
        "lineitem": f"""
            SELECT l_orderkey + r * 10000000 AS l_orderkey, l_partkey,
                   l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                   l_discount, l_tax, l_returnflag, l_linestatus,
                   l_shipdate
            FROM {t('lineitem')}, {r}""",
        "events": f"""
            SELECT event_id + r * 10000000 AS event_id,
                   ts + to_minutes(r) AS ts,
                   user_id + r * 1000000 AS user_id,
                   event_type, value, props
            FROM {t('events')}, {r}""",
    }
    for name, sql in copies.items():
        con.execute(
            f"COPY ({sql}) TO '{out}/{name}.parquet' "
            "(FORMAT PARQUET, ROW_GROUP_SIZE 262144)"
        )
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/{name}.parquet')"
        ).fetchone()[0]
        print(f"{name}: {n} rows")
    con.close()


def gen_documents(out: str, base: str, replicas: int) -> None:
    tb = pq.read_table(f"{base}/documents.parquet")
    base_rows = tb.to_pylist()

    texts, langs, srcs = [], [], []
    for rep in range(replicas):
        for i, row in enumerate(base_rows):
            toks = (row["text"] or "").split()
            text = row["text"] if rep == 0 else _scale_rewrite(toks, rep, i)
            texts.append(text)
            langs.append(row["lang"])
            srcs.append(row["source"])

    n = len(texts)
    table = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(srcs, pa.string()),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    pq.write_table(table, f"{out}/documents.parquet", row_group_size=8192)
    print(f"documents: {n} rows ({sum(len(s) for s in texts) // 2**20} MB text)")


def gen_embeddings(out: str, base: str, replicas: int) -> None:
    tb = pq.read_table(f"{base}/embeddings.parquet")
    vecs = np.array(tb.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.asarray(tb.column("label").to_pylist(), dtype=np.int32)
    nb, dim = vecs.shape
    rng = np.random.default_rng(SEED)

    parts, lparts = [], []
    for rep in range(replicas):
        if rep == 0:
            parts.append(vecs)
        else:
            noise = rng.standard_normal((nb, dim)).astype(np.float32) * 0.2
            parts.append(vecs + noise)
        lparts.append(labels)

    allv = np.concatenate(parts)
    alll = np.concatenate(lparts)
    n = len(allv)
    flat = pa.array(allv.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    table = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(alll, pa.int32()),
        }
    )
    pq.write_table(table, f"{out}/embeddings.parquet", row_group_size=8192)
    print(f"embeddings: {n} rows, dim {dim}")


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".sf1"
    )
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(out, exist_ok=True)
    gen_relational(out, base, replicas)
    gen_documents(out, base, replicas)
    gen_embeddings(out, base, replicas)
    print(f"uniform scaled dataset written to {out}")


if __name__ == "__main__":
    main()
