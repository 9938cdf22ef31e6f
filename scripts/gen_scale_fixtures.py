#!/usr/bin/env python
"""Generate LOCAL scale-probe fixtures mirroring the driver fixture schemas
(FIXTURES.md §B) at arbitrary scale factors, for the sf-ratio experiment in
SCALE.md.

The driver's own generator is not available (and /root/testdata is
read-only), so super-linearity is measured SELF-CONSISTENTLY: both ends of
each ratio come from THIS generator (seed=42, distributions matched to the
documented fixture shapes — ~4 lineitems/order, ~80-char term-soup docs with
a near-dup tail, 10-cluster embeddings), making wall-time ratios meaningful
even if absolute times differ slightly from the driver fixtures.

Usage: python scripts/gen_scale_fixtures.py [--out-dir DIR] 0.1 0.3
Writes DIR/sf{SF}/{table}.parquet; DIR defaults to scale_fixtures/ at the
root of the checkout.
"""
from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OUT_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scale_fixtures"
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _ts_ms(days: np.ndarray, base: str) -> pa.Array:
    base_ms = np.datetime64(base, "ms").astype("int64")
    return pa.array(
        base_ms + days.astype("int64") * 86_400_000, pa.timestamp("ms")
    )


def generate(sf: float, out_base: str = OUT_BASE) -> None:
    rng = np.random.default_rng(42)
    out = os.path.join(out_base, f"sf{sf}")
    os.makedirs(out, exist_ok=True)

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    # documents/embeddings scale an order below the relational tables in the
    # driver fixtures (sf0.1 = 5,000 docs / 2,000 vectors — verified against
    # the parquet footers), matching that keeps the dedup/ANN probe honest
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    n_user = max(1, int(15_000 * sf))

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    write(
        "region",
        pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
    )
    write(
        "nation",
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i:02d}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    )
    write(
        "customer",
        pa.table(
            {
                "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
                "c_nationkey": pa.array(
                    rng.integers(0, 25, n_cust), pa.int32()
                ),
                "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                "c_mktsegment": pa.array(
                    np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]
                ),
            }
        ),
    )
    write(
        "supplier",
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
                "s_nationkey": pa.array(
                    rng.integers(0, 25, n_supp), pa.int32()
                ),
                "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
            }
        ),
    )
    write(
        "part",
        pa.table(
            {
                "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
                "p_name": [f"part {i} colour" for i in range(1, n_part + 1)],
                "p_brand": pa.array(
                    [f"Brand#{i % 5 + 1}{i % 5 + 1}" for i in range(n_part)]
                ),
                "p_type": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
                                rng.integers(0, 6, n_part)
                            ],
                            np.array(["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"])[
                                rng.integers(0, 5, n_part)
                            ],
                        )
                    ]
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
            }
        ),
    )

    o_key = np.arange(1, n_ord + 1)
    o_date_days = rng.integers(0, int(4.5 * 365), n_ord)  # 1997..mid-2001
    write(
        "orders",
        pa.table(
            {
                "o_orderkey": pa.array(o_key, pa.int64()),
                "o_custkey": pa.array(
                    rng.integers(1, n_cust + 1, n_ord), pa.int64()
                ),
                "o_orderstatus": pa.array(
                    np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]
                ),
                "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
                "o_orderdate": _ts_ms(o_date_days, "1997-01-01"),
                "o_orderpriority": pa.array(
                    np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]
                ),
            }
        ),
    )

    # ~4 lineitems per order (the co-purchase wedge shape): assign each
    # lineitem a random order, linenumber = rank within order
    li_order = np.sort(rng.integers(1, n_ord + 1, n_li))
    _, first_idx = np.unique(li_order, return_index=True)
    linenumber = np.arange(n_li) - np.repeat(
        first_idx, np.diff(np.append(first_idx, n_li))
    ) + 1
    li_ship_days = rng.integers(0, int(4.5 * 365), n_li)
    write(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(li_order, pa.int64()),
                "l_partkey": pa.array(
                    rng.integers(1, n_part + 1, n_li), pa.int64()
                ),
                "l_suppkey": pa.array(
                    rng.integers(1, n_supp + 1, n_li), pa.int64()
                ),
                "l_linenumber": pa.array(linenumber, pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
                "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
                "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
                "l_returnflag": pa.array(
                    np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]
                ),
                "l_linestatus": pa.array(
                    np.array(["F", "O"])[rng.integers(0, 2, n_li)]
                ),
                "l_shipdate": _ts_ms(li_ship_days, "1997-01-01"),
            }
        ),
    )

    ev_ts_base = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ev_min = rng.integers(0, n_ev, n_ev)  # ~minute granularity over the span
    write(
        "events",
        pa.table(
            {
                "event_id": pa.array(np.arange(1, n_ev + 1), pa.int64()),
                "ts": pa.array(
                    ev_ts_base + ev_min * 60_000_000, pa.timestamp("us")
                ),
                "user_id": pa.array(
                    rng.integers(1, n_user + 1, n_ev), pa.int64()
                ),
                "event_type": pa.array(
                    np.array(EVENT_TYPES)[
                        rng.choice(5, n_ev, p=[0.5, 0.2, 0.15, 0.1, 0.05])
                    ]
                ),
                "value": np.round(rng.uniform(0, 500, n_ev), 6),
                "props": pa.array(
                    [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]
                ),
            }
        ),
    )

    # documents: ~12 zipf-ish vocab terms per doc (~80 chars); a 5% tail of
    # near-duplicate rows (one term perturbed) feeds the dedup family
    vocab = np.array([f"term{i:04d}" for i in range(1000)])
    zipf_p = 1.0 / np.arange(1, 1001)
    zipf_p /= zipf_p.sum()
    term_idx = rng.choice(1000, (n_doc, 12), p=zipf_p)
    texts = [" ".join(vocab[row]) for row in term_idx]
    n_dup = n_doc // 20
    dup_src = rng.integers(0, n_doc - n_dup, n_dup)
    for j, src in enumerate(dup_src):
        words = texts[src].split(" ")
        words[int(rng.integers(0, len(words)))] = str(vocab[int(rng.integers(0, 1000))])
        texts[n_doc - n_dup + j] = " ".join(words)
    write(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(np.arange(1, n_doc + 1), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, n_doc)]),
                "source": pa.array(
                    [f"src{i}" for i in rng.integers(0, 20, n_doc)]
                ),
                "n_chars": pa.array(
                    np.array([len(t) for t in texts]), pa.int64()
                ),
            }
        ),
    )

    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))).astype("float32")
    write(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(np.arange(1, n_emb + 1), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    )
    print(f"wrote {out}: lineitem={n_li} docs={n_doc} events={n_ev}")


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out-dir", default=OUT_BASE)
    ap.add_argument("sf", nargs="*", type=float, default=[0.1, 0.3])
    args = ap.parse_args()
    for sf in args.sf:
        generate(sf, args.out_dir)
