"""Seeded input generators for the graft benchmark.

Everything the engine sees is made here from ``--seed``: the same seed
gives the same inputs. Three generators (``batch_mix`` uses two):

* ``tables``    the ten catalog tables the registered queries read
                (TPC-H-like star schema, ``events``, ``documents``,
                ``embeddings``), with the column types of the repository's
                test data;
* ``oplog``     a change-stream op log for the CDC round trip: Zipf-skewed
                keys, an insert/update/delete mix, ``events``-shaped
                payloads, split into history / backlog / live phases;
* ``docstream`` an ascending-id document stream for the curation daemon,
                with a fixed share of exact, near and markup-wrapped
                duplicates.

Each generator returns the measured properties of what it wrote, so the
run artifact records the inputs actually used.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part a "
         "merge window order column join vector").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EMB_DIM = 64


def _words(rng, n_lo, n_hi):
    n = int(rng.integers(n_lo, n_hi))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _embedding(rng, n):
    return rng.normal(0.0, 0.12, size=(n, EMB_DIM)).astype(np.float32)


def _emb_array(vecs):
    return pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32()))


def tables(out_dir, seed, scale):
    """Write the ten catalog tables; `scale` 1 is about sf0.001."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_ev, n_doc = 1500 * scale, 1000 * scale, 500
    ts = pa.timestamp("us")

    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out_dir}/region.parquet")
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out_dir}/nation.parquet")
    segs = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    pq.write_table(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out_dir}/customer.parquet")
    pq.write_table(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out_dir}/supplier.parquet")
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
    noun = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "gizmo"]
    ptypes = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    pq.write_table(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [ptypes[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}),
        f"{out_dir}/part.parquet")
    d0 = dt.datetime(1995, 1, 1)
    odays = rng.integers(0, 2404, n_ord)
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    pq.write_table(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array([d0 + dt.timedelta(days=int(d)) for d in odays], ts),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)]}),
        f"{out_dir}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(l_ord)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odays[l_ord] + rng.integers(1, 122, n_li)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array([d0 + dt.timedelta(days=int(d)) for d in ship], ts)}),
        f"{out_dir}/lineitem.parquet")
    pq.write_table(events_table(rng, n_ev, max(10, n_cust)), f"{out_dir}/events.parquet")
    texts = [_words(rng, 8, 100) for _ in range(n_doc)]
    # a few exact duplicates so the dedup families have work
    for i in range(0, n_doc, 25):
        texts[i] = texts[(i * 7 + 3) % n_doc]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out_dir}/documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n_doc), pa.int64()),
        "embedding": _emb_array(_embedding(rng, n_doc)),
        "label": pa.array(rng.integers(0, 10, n_doc), pa.int32())}),
        f"{out_dir}/embeddings.parquet")
    return {"scale": scale, "customer": n_cust, "orders": n_ord,
            "lineitem": n_li, "events": n_ev, "documents": n_doc}


def events_table(rng, n, n_users):
    start = dt.datetime(2024, 1, 1)
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(seconds=float(s)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.01, 490.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def oplog(out_path, seed, n_history, n_backlog, n_live, n_keys):
    """Op log in the shape of `Cdc.eventsAsOpLog`: event_id, ts, id, ns,
    op, data{user_id, value, props}. Keys are Zipf(1.1)-skewed over
    `n_keys`; ops are 15% insert, 75% update, 10% delete; payloads are
    sampled from an `events`-like value/props distribution."""
    rng = np.random.default_rng(seed)
    n = n_history + n_backlog + n_live
    ranks = rng.zipf(1.1, size=4 * n)
    ranks = ranks[ranks <= n_keys][:n]
    while len(ranks) < n:  # the heavy tail rejects some draws
        more = rng.zipf(1.1, size=n)
        ranks = np.concatenate([ranks, more[more <= n_keys]])[:n]
    # a seeded permutation decouples key popularity from key order
    keys = rng.permutation(n_keys)[ranks - 1]
    ops = np.array(["i", "u", "d"])[rng.choice(3, size=n, p=[0.15, 0.75, 0.10])]
    value = np.round(rng.uniform(0.01, 490.0, n), 2)
    props = [f'{{"k": {k}, "tag": "t\\"{k % 7}"}}' for k in rng.integers(0, 100, n)]
    start = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    data = pa.array([None if ops[i] == "d" else
                     {"user_id": int(keys[i]), "value": float(value[i]),
                      "props": props[i]} for i in range(n)],
                    type=pa.struct([("user_id", pa.int64()),
                                    ("value", pa.float64()),
                                    ("props", pa.string())]))
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([start + dt.timedelta(milliseconds=i) for i in range(n)],
                       pa.timestamp("us", tz="UTC")),
        "id": [str(k) for k in keys],
        "ns": ["test.events"] * n,
        "op": ops.tolist(),
        "data": data}), out_path)
    return {"ops": n, "history": n_history, "backlog": n_backlog,
            "live": n_live, "key_space": n_keys,
            "distinct_keys": int(len(np.unique(keys))),
            "delete_share": round(float(np.mean(ops == "d")), 6),
            "insert_share": round(float(np.mean(ops == "i")), 6),
            "top_key_share": round(float(np.max(np.bincount(keys)) / n), 6)}


def docstream(out_dir, seed, n_docs,
              exact_share=0.08, near_share=0.08, markup_share=0.08):
    """Ascending-id document stream (doc_id, text). A fixed share of
    documents re-sends an earlier document: verbatim, with two words
    changed, or wrapped in HTML markup."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    texts, kinds = [], []
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < exact_share:
            texts.append(texts[int(rng.integers(0, i))]); kinds.append("exact")
        elif i >= 10 and r < exact_share + near_share:
            w = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(2):
                w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(w)); kinds.append("near")
        elif i >= 10 and r < exact_share + near_share + markup_share:
            j = int(rng.integers(0, i))
            texts.append(f"<html><body><p>{texts[j]}</p></body></html>")
            kinds.append("markup")
        else:
            texts.append(_words(rng, 40, 160)); kinds.append("fresh")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts}), f"{out_dir}/docs.parquet")
    kinds = np.array(kinds)
    return {"docs": n_docs,
            "exact_dup_share": round(float(np.mean(kinds == "exact")), 6),
            "near_dup_share": round(float(np.mean(kinds == "near")), 6),
            "markup_dup_share": round(float(np.mean(kinds == "markup")), 6)}
