"""Seeded input generators for the benchmark.

`catalog_tables` writes the ten catalog tables (TPC-H-ish star schema,
`events`, `documents`, `embeddings`) with the schemas, value domains and
single-row-group layout of the engine's reference test data, scaled by `sf`.
`medallion_drops` writes per-batch landing drops for two banks with differing
schemas and returns the generator's own truth for every batch.

The same seed always gives byte-identical inputs.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

US = 1_000_000


def _write(table, path):
    # One row group per file, as the reference data ships it.
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, n, start, end):
    d0, d1 = dt.date(*start), dt.date(*end)
    span = (d1 - d0).days
    base = int(dt.datetime(*start, tzinfo=dt.timezone.utc).timestamp()) * US
    return base + rng.integers(0, span + 1, n).astype(np.int64) * 86400 * US


def _ts(micros):
    return pa.array(micros, type=pa.timestamp("us"))


def catalog_tables(out_dir, seed, sf):
    """Write the catalog's ten tables under `out_dir`; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(_days(rng, n_ord, (1995, 1, 1), (2001, 8, 1))),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, (1995, 1, 2), (2001, 11, 4)))})
    ev_base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_base + np.sort(rng.integers(0, 30 * 86400 * US, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k))
             for k in rng.integers(10, 101, n_doc)]
    # 5% near-duplicates: a later document's text plus a " dup" marker.
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


FIRST = ["ana", "ben", "chen", "dara", "eli", "fatima", "goran", "hana", "ivan",
         "jun", "kofi", "lena", "mira", "nils", "omar", "priya", "quinn", "rosa"]
LAST = ["abe", "berg", "costa", "diaz", "eng", "fox", "gupta", "holm", "ito",
        "jones", "kim", "lund", "moss", "novak", "okafor", "park", "reyes", "sato"]
CITIES = ["amsterdam", "berlin", "cairo", "delhi", "essen", "faro", "geneva",
          "houston", "izmir", "jakarta", "kyoto", "lima", "madrid", "nairobi"]


def medallion_drops(out_dir, seed, batches, rows_per_bank):
    """Write `batches` drops for two banks under `out_dir/batch_NNN/` and
    return the generator's truth per batch.

    Each bank's customer drop mixes new keys (30%), changed keys (30%),
    unchanged repeats (20%), within-batch duplicates (10%, an older row of a
    key the batch also carries) and blank-name rows (10%, on keys the batch
    carries nowhere else, so quarantine never competes with dedup). Each
    transaction drop references current clean customers, plus 5% references
    to customers that never landed (unmatched foreign keys). Watermark
    columns grow strictly from batch to batch.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t_base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * US
    state = {"bank_a": {}, "bank_b": {}}   # clean key -> (first, last, email, city)
    next_id = {"bank_a": 1, "bank_b": 1}
    seq = 0
    truth = []

    def attrs():
        f, l = FIRST[rng.integers(len(FIRST))], LAST[rng.integers(len(LAST))]
        return (f, l, f"{f}.{l}{int(rng.integers(1000))}@example.com",
                CITIES[rng.integers(len(CITIES))])

    for b in range(1, batches + 1):
        bdir = os.path.join(out_dir, f"batch_{b:03d}")
        os.makedirs(bdir, exist_ok=True)
        day0 = t_base + b * 86400 * US
        t = {"landed": 0, "quarantined": 0, "deduped": 0, "expired": 0,
             "inserted": 0, "fk_unmatched": 0}
        for bank in ("bank_a", "bank_b"):
            cur = state[bank]
            r = rows_per_bank
            old = list(cur)
            rng.shuffle(old)
            n_changed = min(int(0.3 * r), len(old))
            n_same = min(int(0.2 * r), len(old) - n_changed)
            n_quar = int(0.1 * r)
            n_new = r - n_changed - n_same - n_quar - int(0.1 * r)
            rows = []  # (key, first, last, email, city)
            new_keys = list(range(next_id[bank], next_id[bank] + n_new + n_quar))
            next_id[bank] += n_new + n_quar
            for k in new_keys[:n_new]:
                rows.append((k,) + attrs())
            for k in old[:n_changed]:
                f, l, e, c = cur[k]
                c2 = CITIES[(CITIES.index(c) + 1 + int(rng.integers(len(CITIES) - 1))) % len(CITIES)]
                rows.append((k, f, l, e, c2))
            for k in old[n_changed:n_changed + n_same]:
                rows.append((k,) + cur[k])
            # within-batch duplicates: an OLDER row with other attributes
            dup_of = [rows[i] for i in rng.choice(len(rows), int(0.1 * r), replace=False)]
            quar = [(k, " ", "", f"x{k}@example.com", "lima") for k in new_keys[n_new:]]
            n = len(rows) + len(dup_of) + len(quar)
            ts = day0 + np.sort(rng.choice(86400 * US // 2, n, replace=False)) + 86400 * US // 4
            # duplicates take the earliest stamps, so the kept row is newer
            stamped = ([(row, int(ts[i])) for i, row in enumerate(
                [(k,) + attrs() for k, *_ in dup_of])] +
                [(row, int(ts[len(dup_of) + i])) for i, row in enumerate(rows + quar)])
            order = rng.permutation(n)
            stamped = [stamped[i] for i in order]
            seqs = np.arange(seq, seq + n, dtype=np.int64)
            seq += n
            for k, f, l, e, c in rows:
                if k not in cur:
                    t["inserted"] += 1
                elif cur[k] != (f, l, e, c):
                    t["inserted"] += 1
                    t["expired"] += 1
                cur[k] = (f, l, e, c)
            t["quarantined"] += len(quar)
            t["deduped"] += len(dup_of)
            keys = [row[0] for row, _ in stamped]
            if bank == "bank_a":
                cust = pa.table({
                    "cust_id": pa.array(keys, pa.int64()),
                    "full_name": [f"{row[1]} {row[2]}" if row[1].strip() else "   "
                                  for row, _ in stamped],
                    "email": [f"  {row[3].upper()} " for row, _ in stamped],
                    "city": [row[4] for row, _ in stamped],
                    "updated_at": pa.array([s for _, s in stamped], pa.timestamp("us", "UTC")),
                    "seq": seqs, "batch_id": pa.array([b] * n, pa.int32())})
            else:
                cust = pa.table({
                    "customer_no": [f"B{k:07d}" for k in keys],
                    "first_name": [row[1] for row, _ in stamped],
                    "last_name": [row[2] for row, _ in stamped],
                    "mail": [row[3] for row, _ in stamped],
                    "town": [f" {row[4].title()}" for row, _ in stamped],
                    "modified_ts": pa.array([s for _, s in stamped], pa.timestamp("us", "UTC")),
                    "seq": seqs, "batch_id": pa.array([b] * n, pa.int32())})
            _write(cust, os.path.join(bdir, f"{bank}.customers.parquet"))
            # transactions after the customers' stamps, against clean keys
            n_tx = int(1.5 * r)
            known = np.array(list(cur))
            refs = known[rng.integers(0, len(known), n_tx)]
            ghost = rng.random(n_tx) < 0.05
            refs = np.where(ghost, 10_000_000 + np.arange(n_tx), refs)
            t["fk_unmatched"] += int(ghost.sum())
            tts = pa.array(day0 + 86400 * US * 3 // 4 + np.sort(rng.choice(
                86400 * US // 4, n_tx, replace=False)), pa.timestamp("us", "UTC"))
            ids = np.arange(b * 1_000_000, b * 1_000_000 + n_tx, dtype=np.int64)
            if bank == "bank_a":
                tx = pa.table({"txn_id": ids, "cust_id": refs.astype(np.int64),
                               "amount": np.round(rng.uniform(1, 900, n_tx), 2),
                               "txn_ts": tts, "batch_id": pa.array([b] * n_tx, pa.int32())})
            else:
                tx = pa.table({"transaction_ref": [f"T{i}" for i in ids],
                               "customer_no": [f"B{k:07d}" for k in refs],
                               "amount_cents": rng.integers(100, 90000, n_tx),
                               "booked_at": tts, "batch_id": pa.array([b] * n_tx, pa.int32())})
            _write(tx, os.path.join(bdir, f"{bank}.transactions.parquet"))
            t["landed"] += n + n_tx
        truth.append(t)
    return truth
