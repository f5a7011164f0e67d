#!/usr/bin/env python
"""Generate an sfN-SHAPED clone of the driver's synthetic star schema.

The driver generates /root/testdata/sf{N} itself (TESTDATA.md: seed=42,
read-only); the sf1.0 directory it created for the round-7 measurement was
lost to a VM reboot.  This script rebuilds a *distribution-faithful clone*
from the parameters observed in the surviving sf0.001/0.01/0.1 directories
(uniform TPC-H-ish columns; documents = 10-100 uniform words over a
30-word vocab, 40/15/15/15/15 lang split, 5%% planted near-dups via a
single ' dup' token insertion, ~0.16%% exact dup pairs; embeddings =
unit-norm 64-dim with weak 10-label centroid signal ~0.07 cosine; events =
uniform 30-day ts, exp(50) values).  Row counts scale linearly with sf
(documents/embeddings saturate below sf0.1 in the driver's own data; here
they scale from the sf0.1 anchor).

NOT the driver's data: absolute timings are comparable only clone-vs-clone
(A/B in matched sessions).  Used for driver-scale (sf1.0) validation after
the reboot; never written under /root/testdata.

Usage: python scripts/gen_sfclone.py 1.0 /root/sfgen/sf1.0
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]


def write(df: pd.DataFrame, out_dir: str, name: str) -> None:
    for c in df.columns:
        # Spark cannot read TIMESTAMP(NANOS); the driver's files are [us]
        if str(df[c].dtype).startswith("datetime64[ns"):
            df[c] = df[c].astype("datetime64[us]")
    df.to_parquet(f"{out_dir}/{name}.parquet", index=False)
    print(f"  {name}: {len(df)} rows", file=sys.stderr)


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out_dir = sys.argv[2] if len(sys.argv) > 2 else f"/root/sfgen/sf{sf}"
    out_dir = os.path.realpath(out_dir)
    assert "testdata" not in out_dir.split(os.sep), (
        "testdata is read-only (TESTDATA.md)"
    )
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(42)

    n_docs = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    n_events = int(1_000_000 * sf)
    n_li = int(6_000_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_users = int(15_000 * sf)

    # --- documents ---
    wc = rng.integers(10, 101, n_docs)
    texts = [
        " ".join(np.take(VOCAB, rng.integers(0, len(VOCAB), k))) for k in wc
    ]
    # 5% near-dups: copy another doc's text with one ' dup' token inserted
    n_near = n_docs // 20
    tgt = rng.choice(n_docs, n_near, replace=False)
    for i in tgt:
        src = int(rng.integers(0, n_docs))
        while src == i and n_docs > 1:  # a doc cannot near-dup itself
            src = int(rng.integers(0, n_docs))
        w = texts[src].split()
        pos = int(rng.integers(0, len(w) + 1))
        texts[i] = " ".join(w[:pos] + ["dup"] + w[pos:])
    # ~0.16% exact-dup pairs, at least one pair at any sf
    n_exact = min(max(n_docs // 1250, 1), n_docs // 2)
    pick = rng.choice(n_docs, 2 * n_exact, replace=False)
    for a, b in zip(pick[:n_exact], pick[n_exact:]):
        texts[b] = texts[a]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )
    docs["n_chars"] = docs.text.str.len().astype(np.int32)
    write(docs, out_dir, "documents")

    # --- embeddings: unit-norm 64-dim, weak 10-centroid label signal ---
    cents = rng.standard_normal((10, 64))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    lab = rng.integers(0, 10, n_emb)
    v = rng.standard_normal((n_emb, 64)) + 0.57 * cents[lab]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    write(
        pd.DataFrame(
            {
                "vec_id": np.arange(n_emb, dtype=np.int64),
                "embedding": list(v.astype(np.float32)),
                "label": lab.astype(np.int64),
            }
        ),
        out_dir,
        "embeddings",
    )

    # --- events: 30 uniform days, ts-ordered ids ---
    t0 = pd.Timestamp("2024-01-01").value // 1000  # us
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span, n_events))
    write(
        pd.DataFrame(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pd.to_datetime(ts, unit="us"),
                "user_id": rng.integers(0, n_users, n_events),
                "event_type": rng.choice(
                    ["click", "view", "purchase", "signup", "error"], n_events
                ),
                "value": np.round(rng.exponential(50.0, n_events), 2),
                "props": [
                    '{"k": %d}' % k for k in rng.integers(0, 100, n_events)
                ],
            }
        ),
        out_dir,
        "events",
    )

    # --- TPC-H-ish uniforms ---
    write(
        pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_orders, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": np.round(
                    rng.uniform(900, 105_000, n_li), 2
                ),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": rng.choice(["N", "A", "R"], n_li),
                "l_linestatus": rng.choice(["O", "F"], n_li),
                "l_shipdate": pd.to_datetime("1995-01-01")
                + pd.to_timedelta(rng.integers(0, 2500, n_li), unit="D"),
            }
        ),
        out_dir,
        "lineitem",
    )
    write(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
                "o_totalprice": np.round(
                    rng.uniform(1000, 500_000, n_orders), 2
                ),
                "o_orderdate": pd.to_datetime("1995-01-01")
                + pd.to_timedelta(rng.integers(0, 2400, n_orders), unit="D"),
                "o_orderpriority": rng.choice(
                    [
                        "1-URGENT", "2-HIGH", "3-MEDIUM",
                        "4-NOT SPECIFIED", "5-LOW",
                    ],
                    n_orders,
                ),
            }
        ),
        out_dir,
        "orders",
    )
    write(
        pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust),
                "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
                "c_mktsegment": rng.choice(
                    [
                        "AUTOMOBILE", "BUILDING", "FURNITURE",
                        "HOUSEHOLD", "MACHINERY",
                    ],
                    n_cust,
                ),
            }
        ),
        out_dir,
        "customer",
    )
    adj = ["large", "hot", "blue", "red", "green", "small", "dim", "shiny"]
    noun = ["ring", "bolt", "case", "drum", "tube", "cap", "pin", "rod"]
    write(
        pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{adj[int(a)]} {noun[int(b)]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [
                    f"Brand#{k}" for k in rng.integers(1, 26, n_part)
                ],
                "p_type": rng.choice(
                    [
                        "ECONOMY", "LARGE", "MEDIUM",
                        "PROMO", "SMALL", "STANDARD",
                    ],
                    n_part,
                ),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(
                    900.0 + (np.arange(n_part) % 1000) / 10.0, 2
                ),
            }
        ),
        out_dir,
        "part",
    )
    write(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp),
                "s_acctbal": np.round(rng.uniform(-1000, 10_000, n_supp), 2),
            }
        ),
        out_dir,
        "supplier",
    )
    write(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int64),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=np.int64) % 5,
            }
        ),
        out_dir,
        "nation",
    )
    write(
        pd.DataFrame(
            {
                "r_regionkey": np.arange(5, dtype=np.int64),
                "r_name": [
                    "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST",
                ],
            }
        ),
        out_dir,
        "region",
    )
    open(f"{out_dir}/_DONE", "w").close()
    print(f"clone written to {out_dir}", file=sys.stderr)


if __name__ == "__main__":
    main()
