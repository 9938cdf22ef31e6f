"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the same
bytes.  Row counts are constants of each workload (they do not depend on the
seed), so a pass does the same amount of work on every seed and only the
values move.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# ctr_jsonl: the reference job's own input, junk-prefixed JSON lines
# ---------------------------------------------------------------------------

CTR_IMPRESSIONS = 5_000
CTR_REFERRERS = 40
CTR_ADS = 25
CTR_PARTS = 4  # part files per input dir, so the scan has several splits


def gen_ctr(seed: int, out_dir: str) -> dict:
    """Write ``impressions/`` and ``clicks/`` JSON-lines dirs under
    ``out_dir`` with the reference's four anomalies, and return the ground
    truth the CLI's output must match, ready for JSON.

    * E1 malformed lines (no ``{`` at all, or JSON that fails at its first
      token) must be dropped.
    * E3 duplicate impression ids fold to the max (referrer, adId) payload.
    * E2 repeat clicks on one impression count once.
    * E4 orphan clicks (no such impression) are dropped.
    """
    rng = np.random.default_rng(seed)
    n = CTR_IMPRESSIONS
    refs = [f"http://site{i:02d}.example.com/p" for i in range(CTR_REFERRERS)]
    ads = [f"ad-{i:03d}" for i in range(CTR_ADS)]
    ref_idx = rng.integers(0, CTR_REFERRERS, n)
    ad_idx = rng.integers(0, CTR_ADS, n)
    ids = [f"imp-{seed}-{i:07d}" for i in range(n)]

    # (id, referrer, adId) per impression line, duplicates included
    lines: list[tuple[str, str, str]] = [
        (ids[i], refs[ref_idx[i]], ads[ad_idx[i]]) for i in range(n)
    ]
    n_dup = n // 50
    dup_src = rng.choice(n, n_dup, replace=False)
    dup_other = rng.random(n_dup) < 0.5  # half repeat, half conflict
    for j, i in enumerate(dup_src):
        if dup_other[j]:
            lines.append((ids[i], refs[rng.integers(0, CTR_REFERRERS)],
                          ads[rng.integers(0, CTR_ADS)]))
        else:
            lines.append(lines[i])

    clicked = rng.random(n) < 0.1
    click_ids = [ids[i] for i in np.flatnonzero(clicked)]
    repeat = rng.choice(len(click_ids), len(click_ids) // 5, replace=False)
    click_lines = click_ids + [click_ids[k] for k in repeat]
    click_lines += [f"orphan-{seed}-{k:05d}" for k in range(n // 200)]

    imp_text = []
    for k, (i, r, a) in enumerate(lines):
        rec = json.dumps({"impressionId": i, "referrer": r, "adId": a})
        imp_text.append(f"{k}\t{rec}" if k % 3 == 0 else rec)
    clk_text = [json.dumps({"impressionId": c}) for c in click_lines]
    n_bad = n // 100
    for k in range(n_bad):
        imp_text.append(f"garbage line {k} without a record")
        clk_text.append("{impressionId: unquoted" if k % 2 else "??")
    imp_order = rng.permutation(len(imp_text))
    clk_order = rng.permutation(len(clk_text))
    _write_parts(os.path.join(out_dir, "impressions"), [imp_text[k] for k in imp_order])
    _write_parts(os.path.join(out_dir, "clicks"), [clk_text[k] for k in clk_order])

    clicked_ids = set(click_ids)
    payload: dict[str, tuple[str, str]] = {}
    for i, r, a in lines:
        p = payload.get(i)
        payload[i] = (r, a) if p is None else max(p, (r, a))
    hits: dict[tuple[str, str], list[int]] = {}
    for i, ra in payload.items():
        h = hits.setdefault(ra, [0, 0])
        h[0] += 1
        h[1] += i in clicked_ids
    combined: dict[tuple[str, str, str], int] = {}
    for i, r, a in lines:
        key = (r, a, "1" if i in clicked_ids else "0")
        combined[key] = combined.get(key, 0) + 1
    # JSON keys: "referrer\tadId" and "referrer\tadId\tflag"
    return {
        "ctr": {"\t".join(ra): c / t for ra, (t, c) in hits.items()},
        "combined": {"\t".join(k): n for k, n in combined.items()},
        "input_rows": len(imp_text) + len(clk_text),
        "input_bytes": _dir_bytes(out_dir),
    }


def _write_parts(path: str, text: list[str]) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-len(text) // CTR_PARTS)
    for p in range(CTR_PARTS):
        with open(os.path.join(path, f"part-{p:05d}"), "w") as f:
            f.write("\n".join(text[p * step:(p + 1) * step]) + "\n")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------------------
# registry workloads: the fixture tables (region ... embeddings)
# ---------------------------------------------------------------------------

# Rows per table.  The relational tables follow the TPC-H ratios at a scale
# factor of 0.001; documents and embeddings are sized for the text and vector
# queries rather than by that ratio.
TABLE_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _days_ms(days: np.ndarray) -> pa.Array:
    base = np.datetime64("1997-01-01", "ms").astype("int64")
    return pa.array(base + days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def gen_tables(seed: int, out_dir: str) -> dict:
    """Write the ten fixture tables as one parquet file each and return
    ``{"rows": {table: n}, "input_bytes": total}``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    r = TABLE_ROWS
    n_cust, n_supp, n_part = r["customer"], r["supplier"], r["part"]
    n_ord, n_li, n_ev = r["orders"], r["lineitem"], r["events"]
    n_doc, n_emb = r["documents"], r["embeddings"]
    pick = lambda vals, n: pa.array(np.array(vals)[rng.integers(0, len(vals), n)])  # noqa: E731
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
            "p_name": [f"part {i} colour" for i in range(1, n_part + 1)],
            "p_brand": [f"Brand#{i % 5 + 1}{i % 5 + 1}" for i in range(n_part)],
            "p_type": [
                f"{a} {b}" for a, b in zip(
                    np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY",
                              "PROMO"])[rng.integers(0, 6, n_part)],
                    np.array(["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"])[
                        rng.integers(0, 5, n_part)],
                )
            ],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": money(900, 2100, n_part),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(1, n_ord + 1), pa.int64()),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 400_000, n_ord),
            "o_orderdate": _days_ms(rng.integers(0, int(4.5 * 365), n_ord)),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        },
    }
    # ~4 lineitems per order; linenumber is the rank within the order
    li_order = np.sort(rng.integers(1, n_ord + 1, n_li))
    _, first = np.unique(li_order, return_index=True)
    linenumber = np.arange(n_li) - np.repeat(first, np.diff(np.append(first, n_li))) + 1
    tables["lineitem"] = {
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _days_ms(rng.integers(0, int(4.5 * 365), n_li)),
    }
    ev_base = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    tables["events"] = {
        "event_id": pa.array(np.arange(1, n_ev + 1), pa.int64()),
        "ts": pa.array(ev_base + rng.integers(0, n_ev, n_ev) * 60_000_000,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, max(2, n_ev // 60) + 1, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.choice(5, n_ev, p=[0.5, 0.2, 0.15, 0.1, 0.05])]),
        "value": np.round(rng.uniform(0, 500, n_ev), 6),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }
    # ~12 zipf-ish terms per document, with a 5% tail of near-duplicates
    vocab = np.array([f"term{i:04d}" for i in range(1000)])
    zipf = 1.0 / np.arange(1, 1001)
    words = vocab[rng.choice(1000, (n_doc, 12), p=zipf / zipf.sum())]
    n_dup = n_doc // 20
    src = rng.integers(0, n_doc - n_dup, n_dup)
    words[n_doc - n_dup:] = words[src]
    words[np.arange(n_doc - n_dup, n_doc), rng.integers(0, 12, n_dup)] = vocab[
        rng.integers(0, 1000, n_dup)]
    texts = [" ".join(w) for w in words]
    tables["documents"] = {
        "doc_id": pa.array(np.arange(1, n_doc + 1), pa.int64()),
        "text": texts,
        "lang": pick(LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))).astype("float32")
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(1, n_emb + 1), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }

    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return {"rows": rows, "input_bytes": _dir_bytes(out_dir)}
