"""Seeded inputs for the benchmark, with the expected outputs they imply.

`etl_orders(seed, ...)` writes an orders CSV and a products CSV in the
reference sample's layout and with its dirt, and returns what a correct
`OrdersEtl` must produce from them. `feed(seed, ...)` resamples the
documents table into a stream feed with planted exact and near duplicates,
and `curate(...)` gives the decisions the curation gate must make on it.
The same seed always gives the same files.
"""

import hashlib
import json
import os
import re

import numpy as np
import pyarrow.parquet as pq

# Rates measured on the reference sample (2,502 order rows).
COMMA_SUM = 106 / 2502
LETTER_PID = 209 / 2502
DUP_ROWS = 1003 / 2502
ENTITY = 0.5            # share of apostrophe names written as &#039;
JUNK_NAME = 0.05        # share of name cells holding junk
UNMATCHED = 0.03        # share of order keys with no product

STATUSES = ["Accepted", "Failed", "Paid", "Waiting_Accepted"]
GROUPS = ["Дитячі машинки", "Конструктори", "Ляльки", "Настільні ігри",
          "М'які іграшки", "Пазли", "Розвиваючі іграшки", "Дитячий транспорт",
          "Творчість", "Спорт і відпочинок", "Іграшкова зброя", "Роботи",
          "Книги"]
FIRST = ["Olena", "Ivan", "Андрій", "Мар'яна", "Тетяна", "Олег", "В'ячеслав",
         "Dmytro", "Iryna", "Юлія", "Світлана", "Петро", "Natalia", "Богдан",
         "Оксана", "Анна"]
LAST = ["Іванова-Шипак", "Коваленко", "Шевченко", "Petrenko", "Бондар",
        "Ткаченко", "Kravets", "Мельник", "Лисенко", "Д'яченко", "Романюк",
        "Savchenko"]
MIDDLE = ["Вячеславівна", "В'ячеславівна", "Петрович", "Іванівна", "Олегович",
          "Андріївна", "Mykolaiovych", "Богданович"]
JUNK = ["-", "я", "m", "с", "ddd", "ссс", "bcd", "кк", "ая"]


def _score(t, c):
    """The reference similarity score (weights as the reference wires them)."""
    s = (0.5 if c[1] == t[1] else 0.0) + (0.2 if c[2] == t[2] else 0.0) \
        + (1.0 - abs(t[0] - c[0]) / max(t[0], c[0])) * 0.3
    return round(s, 5)


def _names(rng, pool, n):
    """Rendered cells and the values CleanNames must turn them into."""
    pick = rng.integers(len(pool), size=n)
    junk = rng.random(n) < JUNK_NAME
    junk_pick = rng.integers(len(JUNK), size=n)
    upper = rng.random(n) < 0.5
    entity = rng.random(n) < ENTITY
    raw, clean = [], []
    for i in range(n):
        if junk[i]:
            raw.append(JUNK[junk_pick[i]])
            clean.append("")
            continue
        v = pool[pick[i]]
        r = v if upper[i] else v.lower()
        if "'" in r and entity[i]:
            r = r.replace("'", "&#039;")
        raw.append(r)
        clean.append(v.lower())
    return raw, clean


def etl_orders(seed, out_dir, n_orders, n_products, n_lookups, n_candidates):
    """Write orders.csv and products.csv; return the expected facts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    # products: unique six-digit ids, clean
    pids = rng.choice(np.arange(100000, 1000000), size=n_products, replace=False)
    cents = rng.integers(100, 500000, size=n_products)
    groups = rng.integers(len(GROUPS), size=n_products)
    mfrs = rng.integers(400, size=n_products)
    products = {}
    with open(os.path.join(out_dir, "products.csv"), "w", encoding="utf-8") as f:
        f.write("product_id,price,goods_group,manufacturer\n")
        for i in range(n_products):
            price = cents[i] / 100
            mfr = f"Виробник {mfrs[i]:03d}"
            products[int(pids[i])] = (price, GROUPS[groups[i]], mfr)
            f.write(f"{pids[i]},{cents[i] // 100}.{cents[i] % 100:02d},{GROUPS[groups[i]]},{mfr}\n")

    # orders: unique (order_source_id, product_id) keys, two lines per order
    n_dup = round(n_orders * DUP_ROWS)
    n_uniq = n_orders - n_dup
    idx = rng.integers(n_products, size=n_uniq)
    odd = np.arange(1, n_uniq, 2)
    idx[odd] = (idx[odd - 1] + 1 + rng.integers(n_products - 1, size=len(odd))) % n_products
    key_pid = pids[idx].astype(np.int64)
    no_match = rng.random(n_uniq) < UNMATCHED
    key_pid[no_match] = 1000000 + np.arange(n_uniq)[no_match]
    key_osid = 10000000 + np.arange(n_uniq) // 2
    # duplicates repeat an earlier key, somewhere after it in the file
    src = rng.integers(n_uniq, size=n_dup)
    order = np.concatenate([np.arange(n_uniq, dtype=np.float64),
                            src + rng.uniform(0.001, 1.0, n_dup) * (n_uniq - src)])
    row_key = np.concatenate([np.arange(n_uniq), src])[np.argsort(order, kind="stable")]

    osid = key_osid[row_key]
    pid = key_pid[row_key]
    s_cents = rng.integers(100, 500000, size=n_orders)
    comma = rng.random(n_orders) < COMMA_SUM
    letter = rng.random(n_orders) < LETTER_PID
    letter_ch = rng.integers(26, size=n_orders)
    letter_front = rng.random(n_orders) < 0.5
    cust = rng.integers(1, 200000, size=n_orders)
    status = rng.integers(len(STATUSES), size=n_orders)
    qty = rng.integers(1, 10, size=n_orders)
    month, day = rng.integers(1, 13, size=n_orders), rng.integers(1, 29, size=n_orders)
    sec = rng.integers(0, 86400, size=n_orders)
    names = [_names(rng, pool, n_orders) for pool in (FIRST, LAST, MIDDLE)]

    seen = set()
    total, unmatched, name_hash = 0.0, 0, 0
    with open(os.path.join(out_dir, "orders.csv"), "w", encoding="utf-8") as f:
        f.write(",order_source_id,order_created_datetime,customer_id,status,"
                "sum,quantity,name,surname,patronymic,product_id\n")
        for i in range(n_orders):
            c = int(s_cents[i])
            sep = "," if comma[i] else "."
            s = f"{c // 100}{sep}{c % 100:02d}"
            if comma[i]:
                s = f'"{s}"'
            p = str(pid[i])
            if letter[i]:
                ch = chr(97 + letter_ch[i])
                p = ch + p if letter_front[i] else p + ch
            t = sec[i]
            ts = f"2019-{month[i]:02d}-{day[i]:02d}T{t // 3600:02d}:{t // 60 % 60:02d}:{t % 60:02d}"
            f.write(f"{i},{osid[i]},{ts},{cust[i]},{STATUSES[status[i]]},{s},{qty[i]},"
                    f"{names[0][0][i]},{names[1][0][i]},{names[2][0][i]},{p}\n")
            k = (int(osid[i]), int(pid[i]))
            if k in seen:
                continue
            seen.add(k)
            total += c / 100
            unmatched += k[1] not in products
            key = f"{k[0]}|{k[1]}|{names[0][1][i]}|{names[1][1][i]}|{names[2][1][i]}"
            name_hash += int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16)

    plist = [int(p) for p in pids]
    lookups, scores = [], []
    for _ in range(n_lookups):
        target = plist[int(rng.integers(n_products))]
        cands = [plist[int(j)] for j in rng.choice(n_products, n_candidates, replace=False)]
        lookups.append([target, cands])
        scores.append({str(c): _score(products[target], products[c]) for c in cands})
    return {
        "rows_in": n_orders,
        "rows": len(seen),
        "sum_total": total,
        "unmatched": unmatched,
        "name_hash": name_hash,
        "lookups": lookups,
        "scores": scores,
    }


def feed(seed, documents_parquet, out_path, n, id_base):
    """A JSON-lines feed of `n` documents resampled from the documents table.

    Each document takes a base document's source and a seeded shuffle of its
    words, under a fresh id; seq and ids increase together. About one in
    twenty is followed by an exact copy and one in twenty by a near copy
    (one word changed), both with the same source. Returns the tokens
    offered per source and the ids of the planted exact and near copies.
    """
    base = pq.read_table(documents_parquet, columns=["text", "source"]).to_pylist()
    base = [b for b in base if b["text"]]
    rng = np.random.default_rng(seed)
    rows = []
    while len(rows) < n:
        b = base[int(rng.integers(len(base)))]
        words = b["text"].split(" ")
        text = " ".join(words[j] for j in rng.permutation(len(words)))
        rows.append((text, b["source"], None))
        r = rng.random()
        if r < 0.05:
            rows.append((text, b["source"], "exact"))
        elif r < 0.10 and len(words) > 6:
            w = text.split(" ")
            w[5] = "mutantword"
            rows.append((" ".join(w), b["source"], "near"))
    rows = rows[:n]
    with open(out_path, "w", encoding="utf-8") as f:
        for i, (text, source, _) in enumerate(rows):
            f.write(json.dumps({"doc_id": id_base + i, "text": text, "source": source,
                                "seq": i}, ensure_ascii=False) + "\n")
    per_source = {}
    for text, source, _ in rows:
        per_source[source] = per_source.get(source, 0) + len(text.split(" "))
    return {"per_source": per_source,
            "exact": [id_base + i for i, r in enumerate(rows) if r[2] == "exact"],
            "near": [id_base + i for i, r in enumerate(rows) if r[2] == "near"]}


def read_feed(path):
    """The (doc_id, text, source) rows of a feed file, in seq order."""
    with open(path, encoding="utf-8") as f:
        return [(d["doc_id"], d["text"], d["source"]) for d in map(json.loads, f)]


# The curation gate's parameters (graft.ops.Curation, graft.ops.TextDedup).
MIN_TOKENS = 20
MIN_TTR = 0.30
MIN_STOP_RATIO = 0.02
STOPWORDS = {"the", "a", "an", "of", "and", "to", "in", "is", "it", "for"}
NUM_HASHES = 8
BAND_SIZE = 2
SHINGLE_N = 3


def _passes_quality(words):
    n = len(words)
    return (n >= MIN_TOKENS and round(len(set(words)) / n, 6) >= MIN_TTR
            and round(sum(w in STOPWORDS for w in words) / n, 6) >= MIN_STOP_RATIO)


def _bands(words):
    """The LSH band keys of a document: a MinHash of its word 3-shingles
    (md5 of "s<salt>|<shingle>", four unsigned 32-bit lanes per digest),
    cut into bands of BAND_SIZE values."""
    if len(words) < SHINGLE_N:
        return []
    mh = [2 ** 63 - 1] * NUM_HASHES
    for i in range(len(words) - SHINGLE_N + 1):
        shingle = " ".join(words[i:i + SHINGLE_N])
        for salt in range((NUM_HASHES + 3) // 4):
            d = hashlib.md5(f"s{salt}|{shingle}".encode("utf-8")).digest()
            for lane in range(min(4, NUM_HASHES - salt * 4)):
                v = int.from_bytes(d[lane * 4:lane * 4 + 4], "big")
                mh[salt * 4 + lane] = min(mh[salt * 4 + lane], v)
    return [(s // BAND_SIZE,) + tuple(mh[s:s + BAND_SIZE])
            for s in range(0, NUM_HASHES, BAND_SIZE)]


def curate(docs, budget):
    """The decisions a correct `TwsGates.curatedNeardupQuotaTws` emits for
    `docs`, (doc_id, text, source) in arrival and seq order, all within the
    watermark horizon: {doc_id: (source, n_tokens, kept, cum_tokens)}.

    A document that passes the quality filter and is not an exact copy
    (same text up to case and runs of whitespace) of an earlier one claims
    its LSH bands; it is decided only if it claimed every band first, and
    the token quota then runs a total per source in seq order.
    """
    seen_fp, claimed, cum, out = set(), set(), {}, {}
    for doc_id, text, source in docs:
        words = text.split(" ")
        if not _passes_quality(words):
            continue
        fp = re.sub(r"[ \t\n\x0b\f\r]+", " ", text).lower()
        if fp in seen_fp:
            continue
        seen_fp.add(fp)
        bands = _bands(words)
        first = not any(b in claimed for b in bands)
        claimed.update(bands)
        if first:
            cum[source] = cum.get(source, 0) + len(words)
            out[doc_id] = (source, len(words), cum[source] <= budget, cum[source])
    return out
