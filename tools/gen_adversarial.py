"""Adversarial sf1-scale dataset generator: 10x the sf0.1 tables with
deliberately hostile distributions, for the scale-hardening sweep the
small uniform testdata cannot exercise.

Everything the dedup/skew design documents as "the pathological input"
is planted here on purpose, at sizes that actually trigger the caps:

* documents — Zipfian NEAR-dup clusters, the largest (3000 variants)
  bigger than the banding ``max_bucket`` cap (1000); a 2000-copy EXACT
  duplicate block plus 30x100 smaller blocks (~10% of the corpus
  verbatim dupes); one mega-domain holding ~80% of all docs; five
  >1 MB documents (the row-size tail that breaks naive batch sizing);
  the other ~45k docs are entropy-preserving rewrites of the sf0.1
  base (tokens rotated + replica-salted) so corpus growth does NOT
  itself plant near-dups (see tools/scaling_probe.py for why).
* orders/lineitem — one mega-customer owning ~10% of all 1.5M orders
  (join/groupBy hot key); order keys re-based per replica so
  referential integrity holds at 6M lineitems.
* events — one mega-user owning ~15% of 1M events (sessionize/window
  hot key), replica-shifted timestamps.
* customer — replicas keep VERBATIM names: every name becomes a
  10-node fuzzy clique, so entity-resolution components get long
  chains instead of the small sf0.1 fragments.
* embeddings — 10x replicated with per-replica perturbation, plus a
  300-copy exact-duplicate vector block and a 500-vector dense cluster
  (LSH bucket stress).

Deterministic (fixed seeds; no wall-clock anywhere). Output is
parquet, one file per table, same schemas as /root/testdata/sf*, so
every contract entry, oracle, bench query, and tool runs unchanged
with sf_dir pointed here.

Usage: python tools/gen_adversarial.py [out_dir] [base_sf_dir] [scale]
Defaults: .advdata in this checkout, the sf0.1 testdata, 1.0
``scale`` < 1 shrinks the hostile blocks (see apply_scale) for the
reduced, oracle-tractable variant:
    python tools/gen_adversarial.py .advsmall \\
        /root/testdata/sf0.01 0.2
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPLICAS = 10
MEGA_CUSTKEY = 1          # owns ~10% of every replica's orders
MEGA_USER = 7             # owns ~15% of every replica's events
MEGA_SOURCE = "mega-src"  # ~80% of documents
SEED = 20260815

# near-dup cluster size schedule (Zipf-ish): the head cluster is 3x the
# banding max_bucket cap — in-bucket pair expansion MUST cap, not OOM
NEAR_DUP_CLUSTERS = [3000, 800] + [200] * 5 + [50] * 20 + [10] * 100
EXACT_DUP_BLOCKS = [2000] + [100] * 30
N_HUGE_DOCS = 5
HUGE_DOC_TOKENS = 160_000  # ~1.2 MB of text each
EMB_DUP_COPIES = 300
EMB_TIGHT_CLUSTER = 500


def apply_scale(scale: float) -> None:
    """Shrink every hostile block by ``scale`` while keeping each one
    qualitatively intact: the head near-dup cluster still dwarfs the
    smaller ones, exact blocks stay verbatim, huge docs stay the
    row-size tail. Used to build the reduced dataset (.advsmall) where
    the single-node DuckDB oracle can actually FINISH the dedup
    entries — the full .advdata proves scale behavior, the reduced set
    proves hostile-input correctness end to end."""
    global NEAR_DUP_CLUSTERS, EXACT_DUP_BLOCKS, HUGE_DOC_TOKENS
    global EMB_DUP_COPIES, EMB_TIGHT_CLUSTER
    if scale >= 1:
        return
    NEAR_DUP_CLUSTERS = [max(3, int(c * scale)) for c in NEAR_DUP_CLUSTERS]
    EXACT_DUP_BLOCKS = [max(2, int(b * scale)) for b in EXACT_DUP_BLOCKS]
    HUGE_DOC_TOKENS = max(2_000, int(HUGE_DOC_TOKENS * scale))
    EMB_DUP_COPIES = max(5, int(EMB_DUP_COPIES * scale))
    EMB_TIGHT_CLUSTER = max(5, int(EMB_TIGHT_CLUSTER * scale))


def gen_relational(out: str, base: str) -> None:
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    t = lambda name: f"read_parquet('{base}/{name}.parquet')"
    r = "range(0, 10) AS rep(r)"

    copies = {
        "region": f"SELECT * FROM {t('region')}",
        "nation": f"SELECT * FROM {t('nation')}",
        "part": f"SELECT * FROM {t('part')}",
        "supplier": f"SELECT * FROM {t('supplier')}",
        # verbatim names across replicas: intentional 10-node fuzzy
        # cliques for the entity-resolution entries
        "customer": f"""
            SELECT c_custkey + r * 1000000 AS c_custkey, c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM {t('customer')}, {r}""",
        # hash-deterministic 10% of orders re-pointed at one customer
        "orders": f"""
            SELECT o_orderkey + r * 10000000 AS o_orderkey,
                   CASE WHEN hash(o_orderkey * 10 + r) % 10 = 0
                        THEN {MEGA_CUSTKEY}
                        ELSE o_custkey + r * 1000000 END AS o_custkey,
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
                   CASE WHEN hash(event_id * 10 + r) % 20 < 3
                        THEN {MEGA_USER}
                        ELSE user_id + r * 1000000 END AS user_id,
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


def _rewrite(tokens: list[str], rep: int, i: int) -> str:
    """Entropy-preserving rewrite: rotate tokens by a replica+doc offset
    and salt the lead token, so replicas are NOT near-duplicates."""
    if not tokens:
        return f"r{rep}doc{i}"
    off = (rep * 131 + i * 17) % len(tokens)
    rot = tokens[off:] + tokens[:off]
    rot[0] = f"r{rep}x{rot[0]}"
    return " ".join(rot)


def _near_variant(tokens: list[str], rng: random.Random, k: int) -> str:
    """A near-duplicate: substitute ~1.5% of tokens (>=1), keeping
    shingle-set Jaccard high enough for minhash/simhash banding."""
    out = list(tokens)
    n_sub = max(1, len(out) * 3 // 200)
    for _ in range(n_sub):
        p = rng.randrange(len(out))
        out[p] = f"v{k}s{p}"
    return " ".join(out)


def gen_documents(out: str, base: str) -> None:
    tb = pq.read_table(f"{base}/documents.parquet")
    base_rows = tb.to_pylist()
    rng = random.Random(SEED)

    texts, langs, srcs = [], [], []

    def add(text: str, lang: str, src: str) -> None:
        texts.append(text)
        langs.append(lang)
        srcs.append(src)

    # 1. 10x rewritten replicas of the base corpus (no planted dups)
    for rep in range(REPLICAS):
        for i, row in enumerate(base_rows):
            toks = (row["text"] or "").split()
            text = row["text"] if rep == 0 else _rewrite(toks, rep, i)
            add(text, row["lang"], row["source"])

    # 2. exact-duplicate blocks (~10% of the corpus verbatim copies)
    donors = rng.sample(base_rows, len(EXACT_DUP_BLOCKS))
    for donor, block in zip(donors, EXACT_DUP_BLOCKS):
        for _ in range(block):
            add(donor["text"], donor["lang"], donor["source"])

    # 3. Zipfian near-dup clusters; head cluster 3x the banding cap
    donors = rng.sample(base_rows, len(NEAR_DUP_CLUSTERS))
    for donor, size in zip(donors, NEAR_DUP_CLUSTERS):
        toks = (donor["text"] or "empty doc").split()
        for k in range(size):
            add(_near_variant(toks, rng, k), donor["lang"], donor["source"])

    # 4. five >1MB documents (long-tail row size)
    vocab = [f"w{j}" for j in range(5000)]
    for h in range(N_HUGE_DOCS):
        hrng = random.Random(SEED + 1000 + h)
        add(
            " ".join(hrng.choice(vocab) for _ in range(HUGE_DOC_TOKENS)),
            "en",
            "huge-src",
        )

    # 5. mega-domain: ~80% of ALL docs re-sourced to one domain,
    #    hash-deterministic by final position
    srcs = [
        MEGA_SOURCE if (i * 2654435761) % 10 < 8 else s
        for i, s in enumerate(srcs)
    ]

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


def gen_embeddings(out: str, base: str) -> None:
    tb = pq.read_table(f"{base}/embeddings.parquet")
    vecs = np.array(tb.column("embedding").to_pylist(), dtype=np.float32)
    labels = np.asarray(tb.column("label").to_pylist(), dtype=np.int32)
    nb, dim = vecs.shape
    rng = np.random.default_rng(SEED)

    parts, lparts = [], []
    # 10x replicas, deterministically perturbed (not near-dups)
    for rep in range(REPLICAS):
        if rep == 0:
            parts.append(vecs)
        else:
            noise = rng.standard_normal((nb, dim)).astype(np.float32) * 0.2
            parts.append(vecs + noise)
        lparts.append(labels)
    # exact-duplicate vector block
    parts.append(np.tile(vecs[17], (EMB_DUP_COPIES, 1)))
    lparts.append(np.full(EMB_DUP_COPIES, labels[17], dtype=np.int32))
    # dense cluster (tiny radius around one point)
    tight = (
        vecs[42]
        + rng.standard_normal((EMB_TIGHT_CLUSTER, dim)).astype(np.float32) * 1e-3
    )
    parts.append(tight)
    lparts.append(np.full(EMB_TIGHT_CLUSTER, labels[42], dtype=np.int32))

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
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".advdata"
    )
    base = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    if len(sys.argv) > 3:
        apply_scale(float(sys.argv[3]))
    os.makedirs(out, exist_ok=True)
    gen_relational(out, base)
    gen_documents(out, base)
    gen_embeddings(out, base)
    print(f"adversarial dataset written to {out}")


if __name__ == "__main__":
    main()
